"""Source readers with lineage annotation + input contracts.

Reference parity:
- TSV/CSV streaming scan with line numbers and whitespace trim
  (src/com/vendekagonlabs/unify/import/engine.clj:60-75) → ``spark.read.csv``
  + ``_source_file``/``_row_index`` lineage columns.
- header/columns contract check (engine.clj:77-115) → driver-side set diff
  on ``df.columns`` before any job runs.
- NA normalization (data.clj:600-619) → token set → null, columnar.
- glob file matching (util/io.clj:76-103) → glob paths in the reader.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F


class MissingColumnsError(ValueError):
    pass


def check_required_columns(df: DataFrame, required: list[str], source: str = "") -> None:
    """Throw before launching any job if the config names absent columns
    (exact semantics of the reference's header contract check)."""
    missing = sorted(set(required) - set(df.columns))
    if missing:
        raise MissingColumnsError(
            f"columns {missing} required but not present in {source or 'input'};"
            f" available: {sorted(df.columns)}"
        )


def read_csv_with_lineage(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = True,
    schema=None,
    trim: bool = True,
) -> DataFrame:
    """CSV/TSV scan (glob ok) with per-row lineage: source file + row index
    within the scan. Lineage mirrors unify's file/line annotations
    (data.clj:642-643); ``_row_index`` is a scan-ordinal (monotonic id), not
    a byte offset — stable within one job, which is all the violation report
    needs."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if trim:
        for name, dtype in df.dtypes:
            if dtype == "string":
                df = df.withColumn(name, F.trim(F.col(name)))
    return df.withColumns(
        {
            "_source_file": F.input_file_name(),
            "_row_index": F.monotonically_increasing_id(),
        }
    )


# the session confs that change what Spark infers from the same files
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
)
# session -> {absolute path: (key, schema Spark inferred for it)}
_PARQUET_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _files_digest(path: str) -> str:
    """Digest of ``(relative name, size, mtime_ns)`` for every file under
    ``path`` (or of ``path`` itself when it is a file). Raises OSError when
    the driver cannot stat ``path``."""
    h = hashlib.blake2b(digest_size=16)
    if not os.path.isdir(path):
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            st = os.stat(full)
            h.update(f"{os.path.relpath(full, path)}\0{st.st_size}:{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a path's schema once per
    session instead of on every call (inference is a Spark job: a warm
    read of a fixture table took 130-141 ms, a cached one 24-34 ms).

    The cached schema is the one Spark itself inferred. It is keyed by the
    absolute path, a digest of every file under it as ``(relative name,
    size, mtime_ns)``, and the session's parquet-inference confs. The
    digest covers every file, a superset of what Spark lists, and is taken
    before Spark infers: a changed file set can only cause a needless
    re-inference, never a stale schema. A hit reads with
    ``spark.read.schema(cached)``. A path the driver cannot stat (a remote
    URI, a glob, a missing path) falls back to ``spark.read.parquet``."""
    abspath = os.path.abspath(path)
    try:
        digest = _files_digest(abspath)
    except OSError:
        return spark.read.parquet(path)
    key = (digest, tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS))
    schemas = _PARQUET_SCHEMAS.setdefault(spark, {})
    hit = schemas.get(abspath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[abspath] = (key, df.schema)
    return df


def read_table(spark: SparkSession, path_or_name: str) -> DataFrame:
    """Parquet directory, Iceberg table name, or csv — one entry point."""
    if path_or_name.endswith(".csv") or path_or_name.endswith(".tsv"):
        sep = "\t" if path_or_name.endswith(".tsv") else ","
        return read_csv_with_lineage(spark, path_or_name, sep=sep)
    # an existing local path wins over a catalog lookup: a relative dir
    # like "out.db" or "audit.json" must not route to spark.table just
    # because it is dotted (the write side's whitelist rule, mirrored)
    if (
        "/" in path_or_name
        or path_or_name.endswith(".parquet")
        or os.path.exists(path_or_name)
    ):
        return read_parquet(spark, path_or_name)
    return spark.table(path_or_name)


def normalize_na(
    df: DataFrame, na_tokens: list[str] = ("", "NA", "N/A", "null", "NULL"), columns=None
) -> DataFrame:
    """Configurable NA token set → null (unify's handle-na semantics:
    the token list applies per-attr or to all attrs)."""
    cols = columns or [n for n, t in df.dtypes if t == "string"]
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.when(F.col(c).isin(list(na_tokens)), None).otherwise(F.col(c))
        )
    return out
