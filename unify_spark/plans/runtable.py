"""Run-keyed, append-only table: the one storage class behind the audit log
(``plans/audit.py``) and the cross-run metrics repository
(``plans/history.py``). A subclass declares its ``SCHEMA`` once (``run_id``
first, ``ts`` and ``batch_id`` last; both stamped at append) and keeps only
its own queries.

The storage route is decided once, when the object is built: an Iceberg
catalog table when ``path`` is a catalog identifier on a session with a
configured catalog (``sources/iceberg.py``), else a parquet directory of
one file per append. The table is metadata-sized, so the parquet route
appends and reads through pyarrow on the driver and starts no Spark job.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unify_spark.sources import iceberg as ice


def read_parquet_rows(source, columns: list[str], schema=None, run_id=None) -> list[tuple]:
    """Column-pruned driver-side read of a parquet directory (or a list of
    parquet files) as tuples, only ``run_id``'s rows when given. In a
    directory it skips, like Spark, files whose names start with ``_`` or
    ``.`` (markers, checksums, a rewrite's temp file)."""
    import pyarrow.dataset as ds

    where = None if run_id is None else ds.field("run_id") == run_id
    tbl = ds.dataset(source, format="parquet", schema=schema).to_table(columns=columns, filter=where)
    return list(zip(*(tbl.column(c).to_pylist() for c in columns)))


class RunTable:
    SCHEMA: T.StructType
    FILE_PREFIX: str  # parquet route: one <prefix>-<batch_id>.parquet per append

    def __init__(self, spark: SparkSession, path: str):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        self.spark = spark
        self.path = path
        self.catalog = ice.routes_to_catalog(spark, path)
        # every column optional, as in the files earlier versions wrote
        self.arrow_schema = pa.schema(f.with_nullable(True) for f in to_arrow_schema(self.SCHEMA))

    def _files(self) -> list[str]:
        """The parquet route's data files (none before the first append)."""
        if not os.path.isdir(self.path):
            return []
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]

    def read(self) -> DataFrame:
        """The whole table (empty, with the schema, before the first append)."""
        if self.catalog and self.spark.catalog.tableExists(self.path):
            return self.spark.table(self.path)
        if not self.catalog and self._files():
            return self.spark.read.schema(self.SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], self.SCHEMA)

    def rows(self, columns: list[str], run_id: str | None = None) -> list[tuple]:
        """``columns`` as tuples, only ``run_id``'s rows when given: a
        driver-side read (a Spark read on the catalog route)."""
        if self.catalog:
            if not self.spark.catalog.tableExists(self.path):
                return []
            df = self.spark.table(self.path)
            if run_id is not None:
                df = df.where(F.col("run_id") == run_id)
            return [tuple(r) for r in df.select(*columns).collect()]
        files = self._files()
        return read_parquet_rows(files, columns, self.arrow_schema, run_id) if files else []

    def runs(self) -> list[str]:
        """Distinct run_ids ordered by first-seen append time."""
        first: dict[str, float] = {}
        for rid, ts in self.rows(["run_id", "ts"]):
            if rid not in first or ts < first[rid]:
                first[rid] = ts
        return sorted(first, key=lambda rid: (first[rid], rid))

    def append(self, rows: list[dict], max_retries: int = 5, backoff_s: float = 0.2) -> None:
        """Append ``rows`` (dicts keyed by column; a missing key is null),
        retried through the shared taxonomy in plans/retry.py (the
        reference's bounded, scaled-backoff transact retry,
        db/transact.clj:128-136).

        The batch_id is minted ONCE per append, so a retry after an
        ambiguous failure rewrites the SAME parquet file, or is skipped on
        the catalog route when the batch is already visible: a commit whose
        ack was lost cannot append twice."""
        import pyarrow as pa

        from unify_spark.plans import retry

        if not rows:
            return
        batch = uuid.uuid4().hex
        attempts = [0]

        def once():
            attempts[0] += 1
            now = time.time()
            tbl = pa.Table.from_pylist(
                [{**r, "ts": now, "batch_id": batch} for r in rows], schema=self.arrow_schema
            )
            return self._write(tbl, batch, is_retry=attempts[0] > 1)

        return retry.with_retries(once, max_retries=max_retries, base_backoff_s=backoff_s)

    def _write(self, tbl, batch: str, is_retry: bool = False) -> None:
        """One append attempt of the pyarrow table ``tbl``."""
        import pyarrow.parquet as pq

        if not self.catalog:
            os.makedirs(self.path, exist_ok=True)
            pq.write_table(tbl, os.path.join(self.path, f"{self.FILE_PREFIX}-{batch}.parquet"))
            return
        # only a retry pays the visibility scan: a fresh batch_id cannot be there
        if is_retry and self.spark.catalog.tableExists(self.path):
            if self.spark.table(self.path).where(F.col("batch_id") == batch).limit(1).count():
                return
        ice.append_rows(
            self.spark, self.spark.createDataFrame(tbl.to_pylist(), self.SCHEMA), self.path
        )

    def delete_run(self, run_id: str) -> int:
        """Remove one run's rows; returns how many were removed.

        Catalog route: ``DELETE WHERE run_id``. Parquet route, file by file:
        a file holding only this run's rows is removed; a file that also
        holds other runs' rows (an earlier retract wrote such files) is
        rewritten without them under a ``_`` temp name, which readers skip,
        and put in place by ``os.replace``. Other runs' files are untouched
        and no step leaves the table without another run's rows."""
        if self.catalog:
            n = len(self.rows(["run_id"], run_id))
            if n:
                self.spark.sql(ice.delete_run_sql(self.path, run_id))
            return n
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        removed = 0
        for path in self._files():
            tbl = pq.read_table(path, partitioning=None)
            kept = tbl.filter(pc.not_equal(tbl["run_id"], run_id))
            if kept.num_rows == tbl.num_rows:
                continue
            d, name = os.path.split(path)
            if kept.num_rows:
                pq.write_table(kept, os.path.join(d, f"_{name}.tmp"))
                os.replace(os.path.join(d, f"_{name}.tmp"), path)
            else:
                os.remove(path)
            if os.path.exists(os.path.join(d, f".{name}.crc")):  # Spark's checksum, now stale
                os.remove(os.path.join(d, f".{name}.crc"))
            removed += tbl.num_rows - kept.num_rows
        return removed
