"""Sinks: partitioned writes, idempotent reference-data upsert, and run
retraction.

Reference parity:
- entity/tx-data sinks (src/com/vendekagonlabs/unify/import/engine.clj:128-188,
  import/tx_data.clj:97-147) → partitioned parquet/Iceberg writes; batch
  granularity = files/partitions instead of 50-entity transactions.
- seed/bootstrap loader, idempotent via count probe (db.clj:109-123,71-78)
  → ``upsert_dim``: MERGE when an Iceberg catalog is present, else
  read-union-dedup-overwrite (same result, parquet-compatible).
- retraction of a dataset by tx-log scan (import/retract.clj:84-153) →
  ``retract_run``: drop all audit/violation state for a run_id (Iceberg
  row-level delete in production; file rewrite on plain parquet).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    batch_rows: int | None = None,
) -> None:
    """Hive-partitioned parquet write (Iceberg: identity-partition table).

    ``batch_rows`` is the tx-batch-size contract (reference cli.clj:98-101:
    50 entities/tx, valid 20-200) translated to file granularity: Spark's
    maxRecordsPerFile bounds each output file to the batch size, so a sink
    consumer sees the same bounded-unit-of-work semantics. The reference's
    20..200 range does not bind here (files, not transactions) — any
    positive bound is accepted, but zero/negative is the same config error
    the reference throws."""
    w = df.write.mode(mode)
    if batch_rows is not None:
        if batch_rows <= 0:
            raise ValueError(f"batch_rows must be positive, got {batch_rows}")
        w = w.option("maxRecordsPerFile", batch_rows)
    w.partitionBy(*partition_cols).parquet(path)


def upsert_dim(
    spark: SparkSession, incoming: DataFrame, path: str, key_cols: list[str]
) -> int:
    """Idempotent reference/dimension upsert: new keys are appended, existing
    keys keep their current row (reference-data semantics: seed once, re-runs
    are no-ops). Returns the number of newly inserted rows."""
    if os.path.exists(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        current = spark.read.parquet(path)
        new_rows = incoming.join(
            current.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        n = new_rows.count()
        if n:
            merged = current.unionByName(new_rows)
            tmp = path + ".tmp"
            merged.coalesce(max(1, merged.rdd.getNumPartitions())).write.mode(
                "overwrite"
            ).parquet(tmp)
            shutil.rmtree(path)
            os.rename(tmp, path)
        return n
    incoming.write.mode("overwrite").parquet(path)
    return incoming.count()


def retract_run(spark: SparkSession, out_dir: str, run_id: str) -> int:
    """Undo a run: remove its audit rows, violation evidence and violating
    keys. Returns the number of audit rows retracted. (Iceberg: DELETE
    WHERE run_id = ...)"""
    audit_path = os.path.join(out_dir, "audit")
    removed = 0
    if os.path.exists(audit_path):
        audit = spark.read.parquet(audit_path)
        removed = audit.filter(F.col("run_id") == run_id).count()
        if removed:
            kept = audit.filter(F.col("run_id") != run_id)
            tmp = audit_path + ".tmp"
            kept.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(audit_path)
            os.rename(tmp, audit_path)
    for sub in ("violations", "violating_keys"):
        p = os.path.join(out_dir, sub)
        if os.path.exists(p):
            shutil.rmtree(p)
    return removed


def write_matrix_file(
    df: DataFrame,
    dest_path: str,
    header_map: dict[str, str] | None = None,
    constants: dict[str, str] | None = None,
    single_file: bool = True,
) -> str:
    """Matrix sink with header rewrite + constant-column append — the Spark
    restatement of copy-matrix-file! (reference matrix.clj:21-62): user
    column names are rewritten to schema attribute names (the hdr-smap
    loop), config constants are appended to every row, and the result is a
    TSV with header.

    Scale shape: the rewrite is a zero-cost ``select`` alias, constants are
    Catalyst literals, and the write is Spark's distributed CSV writer —
    ``single_file=False`` keeps one file per partition for cluster-sized
    matrices; True coalesces for the reference's one-file convention.
    Returns the written directory path."""
    out = df
    if header_map:
        out = out.select(
            *[F.col(c).alias(header_map.get(c, c)) for c in df.columns]
        )
    for name, value in (constants or {}).items():
        out = out.withColumn(name, F.lit(value))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).option("sep", "\t").csv(
        dest_path
    )
    return dest_path


def upload_matrix_files(
    working_dir: str, dest_root: str, content_type: str = "text/tab-separated-values"
) -> list[str]:
    """Matrix upload step (reference db/matrix.clj:22-47): ships every file
    under ``<working_dir>/matrix`` to the matrix store. The reference's
    backend is an S3 bucket with a ContentType header; this sandbox has no
    AWS client, so the seam is an explicit copy-to-destination-root — swap
    the ``shutil.copy2`` for ``boto3 put_object(ContentType=...)`` (or an
    ``aws s3 cp``) in production. Returns the uploaded keys."""
    src_dir = os.path.join(working_dir, "matrix")
    if not os.path.isdir(src_dir):
        return []
    os.makedirs(dest_root, exist_ok=True)
    uploaded = []
    for root, _, files in os.walk(src_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            src = os.path.join(root, f)
            key = os.path.relpath(src, src_dir)
            dst = os.path.join(dest_root, key)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
            uploaded.append(key)
    return sorted(uploaded)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: co-locates join/agg keys at WRITE time so
    repeated joins on ``bucket_cols`` skip the shuffle entirely (SURVEY §7's
    "bucketing for co-located joins"; Iceberg: ``bucket(n, col)`` partition
    transform). Requires a catalog/warehouse (Spark's local warehouse in
    tests; any HMS/Iceberg catalog in production)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a stale managed-table location survives DROP if the previous write
    # died mid-flight; clear it so overwrite is truly idempotent
    import shutil as _sh

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.split(".")[-1])
    _sh.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)
