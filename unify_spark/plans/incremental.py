"""Incremental validation: re-validate only CHANGED partitions across runs.

The runner already resumes at (constraint, partition) grain WITHIN a run_id
(killed-mid-run recovery, newly-arrived partitions). This module adds the
cross-run half: a daily pipeline that backfills 0.1% of a 10^12-row Iceberg
table should pay the decode-heavy payload check for that 0.1% only.

Reference parity: unify's import coordination skips batches whose tx UUID is
already committed (src/com/vendekagonlabs/unify/db/import_coordination.clj:
47-84) — identity-keyed skipping. At 10^12 rows identity isn't enough: a
REWRITTEN partition keeps its identity but must re-validate, so the skip key
here is a per-partition CONTENT fingerprint.

How it works:

1. ``partition_fingerprints`` — one column-pruned scan per table:
   ``groupBy(part).agg(count, sum(xxhash64(*cols)), bit_xor(xxhash64))``;
   ``collect_fingerprints`` unions every table's frame, tagged with the
   table name, and collects them in ONE Spark job. The per-partition
   ``n_rows`` double as the runners' table stats (``fingerprint_stats``),
   so an incremental run pays no separate row-count pre-pass.
   xxhash64 is a JVM-side fixed-seed hash (deterministic across sessions
   and partitionings); the (count, sum, xor) triple is order-independent,
   can't be cancelled by duplicate twin rows (sum and count both move), and
   a collision needs a simultaneous match of all three. Binary payload
   columns are INCLUDED by default — the common backfill is a re-encode
   that changes bytes while every metadata column stays put, and hashing
   bytes is still ~100x cheaper than the decode+rfft validation it gates;
   ``include_binary=False`` buys a bytes-free pruned scan when payloads are
   immutable by contract.
2. ``plan_incremental`` — diff this run's fingerprints against a prior
   run's saved sidecar: per table, {unchanged, changed, added, removed}.
3. ``ValidationRunner.run_incremental`` — SEED the new run's audit with the
   baseline's per-partition pass/fail rows for unchanged partitions of
   partition-local constraints, then run with resume: the existing
   partition-grain resume machinery recomputes exactly the changed/added
   partitions. Global constraints (uniqueness, referential, drift) re-run
   whenever ANY partition changed — a cross-partition duplicate can involve
   an unchanged partition, so no partition-grain skip is sound for them
   (they are key-only scans; the decode-heavy checks are the
   partition-local ones). The one sound exception is the ZERO-DIFF fast
   path: when every table is content-identical to the baseline, a global
   result is a pure function of unchanged inputs, so the planner seeds the
   stage as done and the whole re-validation becomes metadata-only.

Soundness gate: a partition-local constraint may consult auxiliary tables
(the codec domain check joins its enum dim; the payload check joins the
reference-decode table). Constraints DECLARE their read set
(``Constraint.aux_tables``): a constraint is seeded only if every declared
auxiliary table is fully unchanged — so a changed transcript_map never
blocks seeding a pure clips range check, while a changed codec_domain
correctly blocks the domain check. An undeclared (None) read set falls back
to requiring every other table in the run to be unchanged — conservative
but never stale. Violation-row EVIDENCE for unchanged
partitions stays in the baseline run's out_dir; the seeded audit rows carry
the verdicts and counts forward under the new run_id, so the verdict matrix
and report are complete.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FINGERPRINT_FILE = "part_fingerprints.json"
CONSTRAINT_FP_FILE = "constraint_fingerprints.json"
_WHOLE_TABLE = "__all__"


def constraint_fingerprints(constraints: list) -> dict[str, str]:
    """{constraint name: config fingerprint} — the identical-config half of
    the seeding precondition (identical data is the partition fingerprint's
    half). A retuned constraint (changed threshold / allowed set / sample
    rate) must re-run even over unchanged partitions."""
    return {c.name: c.config_fingerprint() for c in constraints}


def partition_fingerprints(
    df: DataFrame,
    part_col: str = "part_date",
    cols: list[str] | None = None,
    include_binary: bool = True,
) -> DataFrame:
    """(part, n_rows, fp_sum, fp_xor) per partition — one hash-aggregate
    scan, no shuffle beyond the partial-agg combine. ``cols`` defaults to
    every column except ``part_col`` (minus binary columns when
    ``include_binary=False``), SORTED by name so a reordered schema doesn't
    churn fingerprints; an added/removed column changes every fingerprint,
    which is the correct outcome (the constraint surface changed — full
    re-validation). ``fp_sum`` aggregates into decimal(38,0): 10^12 rows of
    63-bit hashes peak around 10^31, far inside decimal range, where a
    bigint sum would overflow (and ANSI mode would fail the job).

    Tables without ``part_col`` collapse to one ``__all__`` row — the
    whole-table fingerprint used by the auxiliary-table soundness gate."""
    if cols is None:
        from pyspark.sql import types as T

        binary = {
            f.name for f in df.schema.fields if isinstance(f.dataType, T.BinaryType)
        }
        cols = [
            c
            for c in df.columns
            if c != part_col and (include_binary or c not in binary)
        ]
    cols = sorted(cols)
    if not cols:
        raise ValueError("partition_fingerprints: no columns to fingerprint")
    h = F.xxhash64(*[F.col(c) for c in cols])
    part = (
        F.col(part_col).cast("string")
        if part_col in df.columns
        else F.lit(_WHOLE_TABLE)
    )
    return (
        df.select(part.alias("part"), h.alias("_h"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("fp_sum"),
            F.expr("bit_xor(_h)").alias("fp_xor"),
        )
    )


def collect_fingerprints(
    tables: dict[str, DataFrame],
    part_col: str = "part_date",
    include_binary: bool = True,
) -> dict[str, dict[str, list]]:
    """{table: {part: [n_rows, fp_sum_str, fp_xor]}} — driver-side
    (partitions are metadata-scale: rows ~ tables x partitions). Every
    table's fingerprint frame, tagged with its name, goes into one union,
    collected in ONE Spark job. A NULL ``part_col`` value is rejected
    (:func:`reject_null_partition`)."""
    out: dict[str, dict[str, list]] = {name: {} for name in tables}
    frames = [
        partition_fingerprints(df, part_col, include_binary=include_binary).select(
            F.lit(name).alias("table"), "*"
        )
        for name, df in tables.items()
    ]
    if not frames:
        return out
    for r in reduce(DataFrame.unionByName, frames).collect():
        if r["part"] is None:
            reject_null_partition(r["table"], part_col)
        out[r["table"]][r["part"]] = [
            int(r["n_rows"]),
            str(r["fp_sum"]),
            int(r["fp_xor"]),
        ]
    return out


def reject_null_partition(table: str, part_col: str) -> None:
    """Raise for a table with NULL ``part_col`` values: audit rows reserve
    part=NULL for stage-level markers, so such rows have no partition to
    record a verdict under."""
    raise ValueError(
        f"table {table!r} has rows whose partition column {part_col!r} is "
        "NULL; audit rows reserve part=NULL for stage-level markers — fill "
        "or filter the partition column before validating"
    )


def fingerprint_stats(
    tables: dict[str, DataFrame],
    fps: dict[str, dict[str, list]],
    part_col: str = "part_date",
) -> dict[str, tuple[int, list[str]]]:
    """{table: (row_count, sorted partition universe)} read off collected
    fingerprints — the same figures ``ValidationRunner._table_stats``
    scans for. A table without ``part_col`` is one ``__all__`` row: its
    universe is empty."""
    stats = {}
    for name, df in tables.items():
        parts = fps.get(name, {})
        universe = sorted(parts) if part_col in df.columns else []
        stats[name] = (sum(v[0] for v in parts.values()), universe)
    return stats


def save_fingerprints(
    out_dir: str,
    fps: dict[str, dict[str, list]],
    constraints: list | None = None,
) -> str:
    """Persist the sidecar this run's successors will diff against. When
    the run's ``constraints`` are given, their config fingerprints are
    saved alongside so a successor can refuse to seed a retuned
    constraint."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, FINGERPRINT_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(fps, f, sort_keys=True)
    os.replace(tmp, path)
    if constraints is not None:
        cpath = os.path.join(out_dir, CONSTRAINT_FP_FILE)
        tmp = cpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(constraint_fingerprints(constraints), f, sort_keys=True)
        os.replace(tmp, cpath)
    return path


def load_constraint_fingerprints(out_dir: str) -> dict[str, str]:
    """The baseline's saved constraint-config fingerprints; {} when the
    baseline predates them (gating then degrades to data-only — documented
    backward compatibility, the CLI chain always saves them)."""
    path = os.path.join(out_dir, CONSTRAINT_FP_FILE)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def load_fingerprints(out_dir: str) -> dict[str, dict[str, list]]:
    path = os.path.join(out_dir, FINGERPRINT_FILE)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no {FINGERPRINT_FILE} under {out_dir} — the baseline run must "
            "have saved partition fingerprints (CLI validate does by default)"
        )
    with open(path) as f:
        return json.load(f)


def latest_run_id(spark: SparkSession, baseline_out_dir: str) -> str:
    """The most recent completed run in a baseline out_dir's audit table."""
    from unify_spark.plans.audit import AuditLog

    audit = AuditLog(spark, os.path.join(baseline_out_dir, "audit"))
    best: tuple[float, str] | None = None
    for run_id, status, ts in audit.rows(["run_id", "status", "ts"]):
        if status == "done" and (best is None or ts > best[0]):
            best = (ts, run_id)
    if best is None:
        raise ValueError(f"no completed run found in {baseline_out_dir}/audit")
    return best[1]


@dataclass
class IncrementalPlan:
    """The seeding decisions, for reports and tests."""

    baseline_run_id: str
    # per table: partition buckets from the fingerprint diff
    unchanged: dict[str, set] = field(default_factory=dict)
    changed: dict[str, set] = field(default_factory=dict)
    added: dict[str, set] = field(default_factory=dict)
    removed: dict[str, set] = field(default_factory=dict)
    # constraint name -> partitions whose baseline verdicts were seeded
    seeded: dict[str, list] = field(default_factory=dict)
    # constraints whose seeding the auxiliary-table gate blocked
    blocked: dict[str, str] = field(default_factory=dict)
    # True when EVERY table in the run is content-identical to the
    # baseline — the zero-diff fast path also seeds GLOBAL constraints
    zero_diff: bool = False

    def summary(self) -> dict:
        return {
            "baseline_run_id": self.baseline_run_id,
            "zero_diff": self.zero_diff,
            "tables": {
                t: {
                    "unchanged": len(self.unchanged.get(t, ())),
                    "changed": len(self.changed.get(t, ())),
                    "added": len(self.added.get(t, ())),
                    "removed": len(self.removed.get(t, ())),
                }
                for t in self.unchanged
            },
            "seeded": {c: len(ps) for c, ps in self.seeded.items()},
            "blocked": dict(self.blocked),
        }


def diff_fingerprints(
    now: dict[str, dict[str, list]], base: dict[str, dict[str, list]]
) -> IncrementalPlan:
    plan = IncrementalPlan(baseline_run_id="")
    for t, cur in now.items():
        prior = base.get(t, {})
        plan.unchanged[t] = {
            p for p, fp in cur.items() if p in prior and list(prior[p]) == list(fp)
        }
        plan.changed[t] = {
            p for p, fp in cur.items() if p in prior and list(prior[p]) != list(fp)
        }
        plan.added[t] = {p for p in cur if p not in prior}
        plan.removed[t] = {p for p in prior if p not in cur}
    return plan


def plan_incremental(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    constraints: list,
    baseline_out_dir: str,
    part_col: str = "part_date",
    baseline_run_id: str | None = None,
    include_binary: bool = True,
) -> tuple[IncrementalPlan, dict[str, dict[str, list]], list[dict]]:
    """Fingerprint-diff against the baseline and compute the audit rows to
    seed. Returns (plan, current_fingerprints, seed_rows)."""
    base_fps = load_fingerprints(baseline_out_dir)
    now_fps = collect_fingerprints(tables, part_col, include_binary=include_binary)
    plan = diff_fingerprints(now_fps, base_fps)
    plan.baseline_run_id = baseline_run_id or latest_run_id(spark, baseline_out_dir)

    from unify_spark.plans.audit import AuditLog

    base_audit = AuditLog(spark, os.path.join(baseline_out_dir, "audit"))
    base_parts = base_audit.part_results(plan.baseline_run_id)

    def table_fully_unchanged(t: str) -> bool:
        if t not in now_fps:
            return False
        return not (plan.changed[t] or plan.added[t] or plan.removed[t])

    plan.zero_diff = all(table_fully_unchanged(t) for t in tables)
    base_done = base_audit.completed_constraints(plan.baseline_run_id)
    # only zero-diff seeding writes global 'done' rows, which carry these
    base_rows = (
        base_audit.stage_rows_checked(plan.baseline_run_id) if plan.zero_diff else {}
    )
    base_cfps = load_constraint_fingerprints(baseline_out_dir)

    def config_changed(c) -> bool:
        """Identical-config half of the seeding precondition: a constraint
        whose recorded fingerprint differs was retuned since the baseline —
        its old verdicts are stale regardless of data. A constraint absent
        from the record (newly added, or a pre-fingerprint baseline) falls
        through to the existing completeness gates, which already refuse to
        seed what the baseline never ran."""
        return c.name in base_cfps and base_cfps[c.name] != c.config_fingerprint()

    seed_rows: list[dict] = []
    for c in constraints:
        if config_changed(c):
            plan.blocked[c.name] = "constraint config changed since baseline"
            continue
        if not getattr(c, "partition_local", False):
            # Global constraints (uniqueness, referential, drift) normally
            # always re-run — a cross-partition duplicate can involve an
            # unchanged partition, so no PARTITION-grain skip is sound. But
            # when EVERY table in the run is content-identical to the
            # baseline (zero-diff: the daily "did anything change" re-run),
            # the global result is a pure function of unchanged inputs:
            # seed the baseline's per-partition verdicts AND a stage-done
            # row so the runner skips the stage outright — the whole
            # re-validation becomes metadata-only. Gated on the baseline
            # stage having actually COMPLETED (errored/absent stages
            # re-run).
            # wall-clock-dependent constraints (FreshnessConstraint with
            # ref=None) are NOT pure functions of unchanged inputs: a
            # zero-diff daily chain over a stalled pipeline is exactly the
            # staleness scenario, so their baseline verdicts must never be
            # seeded forward (advisor round-5 fix; Constraint.seedable)
            if not (
                plan.zero_diff
                and c.name in base_done
                and getattr(c, "seedable", True)
            ):
                continue
            total = 0
            seeded_parts: list[str] = []
            for name in getattr(c, "emits", [c.name]):
                for p, (status, n) in sorted(
                    base_parts.get(name, {}).items(), key=lambda kv: str(kv[0])
                ):
                    seed_rows.append(
                        {
                            "constraint": name,
                            "part": p,
                            "status": status,
                            "violation_count": n,
                        }
                    )
                    if name == c.name:
                        seeded_parts.append(p)
                        total += n
            seed_rows.append(
                {
                    "constraint": c.name,
                    "part": None,
                    "status": "done",
                    "violation_count": total,
                    # the rate tolerance's denominator: without it the
                    # resumed run reads allowed_violations(0) and a dataset
                    # passing via max_violation_rate turns failing
                    "rows_checked": base_rows.get(c.name),
                }
            )
            plan.seeded[c.name] = seeded_parts
            continue
        if c.table not in now_fps:
            continue
        # the gate checks the constraint's DECLARED read set (aux_tables);
        # an undeclared (None) read set conservatively gates on every other
        # table in the run
        aux = getattr(c, "aux_tables", None)
        gate = [t for t in tables if t != c.table] if aux is None else aux
        dirty_aux = [t for t in gate if not table_fully_unchanged(t)]
        if dirty_aux:
            plan.blocked[c.name] = (
                f"auxiliary table(s) changed: {sorted(dirty_aux)}"
            )
            continue
        seeded_parts: list[str] = []
        for name in getattr(c, "emits", [c.name]):
            recorded = base_parts.get(name, {})
            for p in sorted(plan.unchanged[c.table]):
                if p not in recorded:
                    continue
                status, n = recorded[p]
                seed_rows.append(
                    {
                        "constraint": name,
                        "part": p,
                        "status": status,
                        "violation_count": n,
                    }
                )
                if name == c.name:
                    seeded_parts.append(p)
        if seeded_parts:
            plan.seeded[c.name] = seeded_parts
    return plan, now_fps, seed_rows
