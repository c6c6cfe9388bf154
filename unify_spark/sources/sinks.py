"""Sinks: run retraction.

Reference parity: retraction of a dataset by tx-log scan
(import/retract.clj:84-153) → ``retract_run``: delete a run's audit rows
(its audit files on the parquet route, ``AuditLog.delete_run``) and the
violation evidence. The evidence is not yet keyed by run, so retract still
removes every run's ``violations/`` and ``violating_keys/`` (ROADMAP D10).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def retract_run(spark: SparkSession, out_dir: str, run_id: str) -> int:
    """Undo a run: remove its audit rows, violation evidence and violating
    keys. Returns the number of audit rows retracted. Other runs' audit
    files are left untouched and no Spark job starts."""
    from unify_spark.plans.audit import AuditLog

    removed = AuditLog(spark, os.path.join(out_dir, "audit")).delete_run(run_id)
    for sub in ("violations", "violating_keys"):
        p = os.path.join(out_dir, sub)
        if os.path.exists(p):
            shutil.rmtree(p)
    return removed
