"""Audit table: per-(run, constraint, partition) lineage + metrics, and the
checkpoint/resume bookkeeping.

Reference parity: unify resumes a transact by querying the already-committed
tx UUID set and filtering pending batches against it
(src/com/vendekagonlabs/unify/db/import_coordination.clj:47-84,
src/com/vendekagonlabs/unify/db/transact.clj:195-216). Here the unit of
resumability is the CONSTRAINT STAGE: a completed (run_id, constraint) key in
the audit table is skipped on re-run, and per-partition verdict rows give the
partition-grain lineage the north_rule asks for.

Storage: an Iceberg table when an Iceberg catalog is configured on the
session (batch appends); otherwise an append-only parquet directory with
the same schema — latest status per key wins by (ts) — so tests run without
any catalog jars.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("constraint", T.StringType(), False),
        T.StructField("part", T.StringType(), True),  # null = stage-level row
        T.StructField("status", T.StringType(), False),  # pass|fail|done|error|gated
        T.StructField("violation_count", T.LongType(), True),
        T.StructField("rows_checked", T.LongType(), True),
        T.StructField("wall_sec", T.DoubleType(), True),
        T.StructField("ts", T.DoubleType(), False),
        T.StructField("batch_id", T.StringType(), False),
    ]
)


class AuditLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _catalog_table(self) -> bool:
        """True when the audit target is an Iceberg catalog identifier AND a
        catalog is configured — reads and writes must agree on the route
        (an append to the catalog that resume later reads from the
        filesystem would silently forget every completed stage)."""
        from unify_spark.sources import iceberg as ice

        return ice.routes_to_catalog(self.spark, self.path)

    def _exists(self) -> bool:
        if self._catalog_table():
            return self.spark.catalog.tableExists(self.path)
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], AUDIT_SCHEMA)
        if self._catalog_table():
            return self.spark.table(self.path)
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(self.path)

    def append(self, rows: list[dict], max_retries: int = 5, backoff_s: float = 0.2) -> None:
        """Driver-side append via pyarrow: the audit table is metadata-sized
        (rows ~ constraints × partitions), so writing it through a Spark job
        would cost more scheduling than data. The file layout stays a plain
        parquet directory Spark reads back for verdicts/resume. With an
        Iceberg catalog this becomes a batch-keyed idempotent append on
        the audit table (see the retry note below).

        App-level retry with scaled backoff mirrors the reference's transact
        retry policy (db/transact.clj:128-136: bounded retries, scaled
        backoff) — transient filesystem/object-store failures must not lose
        lineage; the bound is small because each append is a tiny local
        write, not a distributed transaction. Retryable-vs-fatal
        classification is the shared taxonomy in plans/retry.py.

        Idempotent under retry: the batch_id is minted ONCE per append(),
        so a retry after an ambiguous failure rewrites the SAME parquet
        file (filesystem path) or is skipped entirely when the batch_id is
        already visible in the table (catalog path) — a commit that
        succeeded but whose ack was lost cannot double-append lineage."""
        from unify_spark.plans.retry import with_retries

        if not rows:
            return
        batch = uuid.uuid4().hex
        attempts = [0]

        def once():
            attempts[0] += 1
            return self._append_once(rows, batch, is_retry=attempts[0] > 1)

        return with_retries(
            once,
            max_retries=max_retries,
            base_backoff_s=backoff_s,
        )

    def _append_once(
        self, rows: list[dict], batch: str, is_retry: bool = False
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        now = time.time()
        tbl = pa.table(
            {
                "run_id": [r["run_id"] for r in rows],
                "constraint": [r["constraint"] for r in rows],
                "part": [r.get("part") for r in rows],
                "status": [r["status"] for r in rows],
                "violation_count": [r.get("violation_count") for r in rows],
                "rows_checked": [r.get("rows_checked") for r in rows],
                "wall_sec": [r.get("wall_sec") for r in rows],
                "ts": [now] * len(rows),
                "batch_id": [batch] * len(rows),
            },
            schema=pa.schema(
                [
                    ("run_id", pa.string()),
                    ("constraint", pa.string()),
                    ("part", pa.string()),
                    ("status", pa.string()),
                    ("violation_count", pa.int64()),
                    ("rows_checked", pa.int64()),
                    ("wall_sec", pa.float64()),
                    ("ts", pa.float64()),
                    ("batch_id", pa.string()),
                ]
            ),
        )
        from unify_spark.sources import iceberg as ice

        if self._catalog_table():
            # catalog path: append the same rows to the Iceberg audit table
            # (sources/iceberg.py), snapshot-isolated.
            # Retry-idempotence: if THIS batch_id is already visible, the
            # prior attempt committed and only the ack was lost — skip.
            # Only a RETRY attempt pays the visibility scan: on the first
            # attempt the freshly minted uuid cannot be present, and this
            # check would otherwise add a Spark job to every append.
            if is_retry and self.spark.catalog.tableExists(self.path):
                already = (
                    self.spark.table(self.path)
                    .where(F.col("batch_id") == batch)
                    .limit(1)
                    .count()
                )
                if already:
                    return
            ice.append_rows(
                self.spark, self.spark.createDataFrame(tbl.to_pylist(), AUDIT_SCHEMA), self.path
            )
            return
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(tbl, os.path.join(self.path, f"audit-{batch}.parquet"))

    def _read_columns(self, columns: list[str]) -> list[tuple]:
        """Column-pruned driver-side read of the whole audit table: pyarrow
        over the parquet directory (no Spark job — audit is metadata-sized),
        or a Spark read when the audit lives in an Iceberg catalog table."""
        if self._catalog_table():
            return [tuple(r) for r in self.spark.table(self.path).select(*columns).collect()]
        import pyarrow.dataset as ds

        tbl = ds.dataset(self.path, format="parquet").to_table(columns=columns)
        return list(zip(*(tbl.column(c).to_pylist() for c in columns)))

    def completed_constraints(self, run_id: str) -> set[str]:
        """Stage keys already finished for this run (the resume filter) —
        read driver-side (audit is tiny; no Spark job needed)."""
        if not self._exists():
            return set()
        out = set()
        for rid, c, s in self._read_columns(["run_id", "constraint", "status"]):
            if rid == run_id and s == "done":
                out.add(c)
        return out

    def stage_rows_checked(self, run_id: str) -> dict[str, int]:
        """rows_checked recorded on each completed stage's 'done' marker —
        resumed-run hydration needs it so RATE tolerances
        (max_violation_rate) and dependency gating keep the denominator
        they had in the original attempt instead of degrading to the
        absolute tolerance (rate × 0). Driver-side read (audit is tiny)."""
        if not self._exists():
            return {}
        out: dict[str, int] = {}
        for rid, c, s, n in self._read_columns(
            ["run_id", "constraint", "status", "rows_checked"]
        ):
            if rid == run_id and s == "done" and n is not None:
                out[c] = int(n)
        return out

    def part_results(self, run_id: str) -> dict[str, dict[str | None, tuple[str, int]]]:
        """Latest per-(constraint, partition) pass/fail rows for a run:
        {constraint: {part: (status, violation_count)}}. This is the
        per-partition lineage used for (a) hydrating resumed-run reports and
        (b) partition-grain resume of partition-local constraints — the
        committed-set filter of import_coordination.clj:60-84 at partition
        grain. Driver-side read (audit is metadata-sized)."""
        if not self._exists():
            return {}
        rows = self._read_columns(
            ["run_id", "constraint", "part", "status", "violation_count", "ts"]
        )
        best: dict[tuple[str, str | None], tuple[str, int, float]] = {}
        for rid, c, p, s, n, ts in rows:
            if rid != run_id or s not in ("pass", "fail"):
                continue
            k = (c, p)
            if k not in best or ts > best[k][2]:
                best[k] = (s, int(n or 0), ts)
        out: dict[str, dict[str | None, tuple[str, int]]] = {}
        for (c, p), (s, n, _) in best.items():
            out.setdefault(c, {})[p] = (s, n)
        return out

    def verdicts(self, run_id: str) -> DataFrame:
        """Per-partition pass/fail matrix for a run."""
        return (
            self.read()
            .filter(
                (F.col("run_id") == run_id) & F.col("status").isin(["pass", "fail"])
            )
            .select("constraint", "part", "status", "violation_count")
        )


def verdict_diff(audit: AuditLog, run_a: str, run_b: str) -> list[dict]:
    """Cell-level diff of two runs' per-(constraint, partition) verdict
    matrices — the release-gate question "which partitions did THIS load
    make worse". Each record carries the cell key, both statuses, both
    violation counts, and a change class:

    - ``regressed``    pass → fail (the gate's exit-1 class)
    - ``fixed``        fail → pass
    - ``still_fail``   fail → fail, with the violation-count delta (a
      growing count on a still-failing cell is a quiet regression too)
    - ``appeared``     cell only in run_b AND failing (new partition or
      newly-run constraint arriving broken; a passing new cell is not a
      change worth a record)
    - ``disappeared``  cell only in run_a (partition dropped or constraint
      removed — surfaced for lineage, never an exit-1)

    Unchanged passing cells and unchanged still-failing counts are omitted.
    Driver-side over :meth:`AuditLog.part_results` (metadata-scale)."""
    a, b = audit.part_results(run_a), audit.part_results(run_b)
    cells_a = {(c, p): v for c, parts in a.items() for p, v in parts.items()}
    cells_b = {(c, p): v for c, parts in b.items() for p, v in parts.items()}
    out: list[dict] = []
    for key in sorted(set(cells_a) | set(cells_b), key=lambda k: (k[0], k[1] or "")):
        va, vb = cells_a.get(key), cells_b.get(key)
        if va is None:
            if vb[0] != "fail":
                continue
            change = "appeared"
        elif vb is None:
            change = "disappeared"
        elif va[0] == "pass" and vb[0] == "fail":
            change = "regressed"
        elif va[0] == "fail" and vb[0] == "pass":
            change = "fixed"
        elif va[0] == "fail" and vb[0] == "fail" and va[1] != vb[1]:
            change = "still_fail"
        else:
            continue
        out.append(
            {
                "constraint": key[0],
                "part": key[1],
                "change": change,
                "status_a": va[0] if va else None,
                "status_b": vb[0] if vb else None,
                "violations_a": va[1] if va else None,
                "violations_b": vb[1] if vb else None,
            }
        )
    return out
