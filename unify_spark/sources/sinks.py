"""Sinks: run retraction.

Reference parity: retraction of a dataset by tx-log scan
(import/retract.clj:84-153) → ``retract_run``: drop all audit/violation
state for a run_id (Iceberg row-level delete in production; file rewrite on
plain parquet).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F


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
