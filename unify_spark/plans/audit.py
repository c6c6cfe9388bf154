"""Audit table: per-(run, constraint, partition) lineage + metrics, and the
checkpoint/resume bookkeeping.

Reference parity: unify resumes a transact by querying the already-committed
tx UUID set and filtering pending batches against it
(src/com/vendekagonlabs/unify/db/import_coordination.clj:47-84,
src/com/vendekagonlabs/unify/db/transact.clj:195-216). Here the unit of
resumability is the CONSTRAINT STAGE: a completed (run_id, constraint) key in
the audit table is skipped on re-run, and per-partition verdict rows give the
partition-grain lineage the north_rule asks for.

Storage: a :class:`~unify_spark.plans.runtable.RunTable`. The audit lives
under ``<out>/audit``, a path, so it always takes the parquet-directory
route: one pyarrow-written file per append, latest status per key wins by
``ts``. Resume reads it on the driver and starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unify_spark.plans.runtable import RunTable

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


class AuditLog(RunTable):
    SCHEMA = AUDIT_SCHEMA
    FILE_PREFIX = "audit"

    def completed_constraints(self, run_id: str) -> set[str]:
        """Stage keys already finished for this run (the resume filter)."""
        return {c for c, s in self.rows(["constraint", "status"], run_id) if s == "done"}

    def stage_rows_checked(self, run_id: str) -> dict[str, int]:
        """rows_checked recorded on each completed stage's 'done' marker —
        resumed-run hydration needs it so RATE tolerances
        (max_violation_rate) and dependency gating keep the denominator
        they had in the original attempt instead of degrading to the
        absolute tolerance (rate × 0)."""
        return {
            c: int(n)
            for c, s, n in self.rows(["constraint", "status", "rows_checked"], run_id)
            if s == "done" and n is not None
        }

    def part_results(self, run_id: str) -> dict[str, dict[str | None, tuple[str, int]]]:
        """Latest per-(constraint, partition) pass/fail rows for a run:
        {constraint: {part: (status, violation_count)}}. This is the
        per-partition lineage used for (a) hydrating resumed-run reports and
        (b) partition-grain resume of partition-local constraints — the
        committed-set filter of import_coordination.clj:60-84 at partition
        grain."""
        rows = self.rows(["constraint", "part", "status", "violation_count", "ts"], run_id)
        best: dict[tuple[str, str | None], tuple[str, int, float]] = {}
        for c, p, s, n, ts in rows:
            if s not in ("pass", "fail"):
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
