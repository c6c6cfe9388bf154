"""Validation runner: execute a constraint plan, derive per-partition
verdicts, persist violations + audit rows, support checkpoint/resume.

This is the Spark restatement of unify's three-phase lifecycle (SURVEY §3):
driver-side plan (parse-config analogue) → one DataFrame job per constraint
stage → violation/verdict/audit sinks. Stages are independent DataFrame jobs,
so a failed run resumes by skipping stages recorded 'done' in the audit table
(semantics of successful-uuid-set,
reference src/com/vendekagonlabs/unify/db/import_coordination.clj:60-84).
"""

from __future__ import annotations

import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unify_spark.operators.base import Constraint, ValidationContext, empty_violations
from unify_spark.plans.audit import AuditLog
from unify_spark.plans.incremental import reject_null_partition
from unify_spark.plans.retry import with_retries


@dataclass
class RunResult:
    run_id: str
    verdicts: dict[tuple[str, str], bool] = field(default_factory=dict)  # (constraint, part) -> pass
    violation_counts: dict[str, int] = field(default_factory=dict)
    rows_checked: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)  # constraint -> message
    wall_sec: float = 0.0
    # severity interpretation of violation_counts (see Constraint.severity):
    # blocking = error-severity names whose count exceeds their tolerance,
    # tolerated = error-severity names with violations within tolerance,
    # warn_counts = warn-severity names with violations. Filled by the
    # runner after counting; with no severity/tolerance declared anywhere,
    # blocking == violation_counts' non-zero names (the legacy pass rule).
    blocking: dict[str, int] = field(default_factory=dict)
    tolerated: dict[str, int] = field(default_factory=dict)
    warn_counts: dict[str, int] = field(default_factory=dict)
    # stages skipped because a depends_on dependency blocked (or was itself
    # gated): {constraint name: [the dependency names that gated it]}
    gated: dict[str, list[str]] = field(default_factory=dict)
    _severity_applied: bool = False

    @property
    def total_violations(self) -> int:
        return sum(self.violation_counts.values())

    @property
    def passed(self) -> bool:
        if self.errors:
            return False
        if self._severity_applied:
            return not self.blocking
        return self.total_violations == 0


@dataclass
class _Stage:
    """A runnable constraint stage as the planner prepared it: the
    partitions this run computes ([None] = the whole table), the tables its
    plan reads (partition-filtered on a partial resume) and the row count
    its rate tolerance divides by."""

    c: Constraint
    pending: list
    tables: dict[str, DataFrame]
    rows: int
    partial: bool = False


def _shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    values like 'auto' (AQE-managed deployments) — used only to size the
    fused cache layout and the cap salt, where any sane positive count
    works."""
    try:
        return max(1, int(spark.conf.get("spark.sql.shuffle.partitions", str(default))))
    except (TypeError, ValueError):
        return default


def _dep_levels(constraints: list[Constraint]) -> list[list[Constraint]]:
    """Topological levels over ``depends_on`` (Kahn). Level 0 has no deps,
    level k depends only on earlier levels. Unknown names and cycles are
    config errors, raised before any Spark job runs."""
    names = {c.name for c in constraints}
    deps = {
        c.name: set(getattr(c, "depends_on", None) or []) for c in constraints
    }
    unknown = sorted({d for ds in deps.values() for d in ds} - names)
    if unknown:
        raise ValueError(f"depends_on references unknown constraints: {unknown}")
    order = {c.name: i for i, c in enumerate(constraints)}
    by_name = {c.name: c for c in constraints}
    levels: list[list[Constraint]] = []
    placed: set[str] = set()
    remaining = dict(deps)
    while remaining:
        # suite order within a level: fail_fast's "first anomaly" must mean
        # first in the user's suite, not first alphabetically
        ready = sorted(
            (n for n, ds in remaining.items() if ds <= placed),
            key=order.__getitem__,
        )
        if not ready:
            raise ValueError(
                f"depends_on cycle among constraints: {sorted(remaining)}"
            )
        levels.append([by_name[n] for n in ready])
        placed.update(ready)
        for n in ready:
            del remaining[n]
    return levels


class ValidationRunner:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        ctx: ValidationContext | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.ctx = ctx or ValidationContext()
        self.audit = AuditLog(spark, os.path.join(out_dir, "audit"))

    # -- helpers -------------------------------------------------------------

    def _table_stats(
        self, tables: dict[str, DataFrame], table: str
    ) -> tuple[int, list[str]]:
        """(row_count, sorted partition universe) in ONE job — the separate
        count + distinct pre-scans were two passes over each table per run;
        groupBy(part).count() answers both from the same scan (and from
        column stats alone when the table is hive/Iceberg-partitioned).
        Partition values are strings, as in the audit and violation rows; a
        NULL partition value is rejected (incremental.reject_null_partition)."""
        df = tables.get(table)
        if df is None:
            return 0, []
        part_col = self.ctx.part_col
        if part_col not in df.columns:
            return df.count(), []
        rows = df.groupBy(F.col(part_col).cast("string")).count().collect()
        if any(r[0] is None for r in rows):
            reject_null_partition(table, part_col)
        return sum(r["count"] for r in rows), sorted(r[0] for r in rows)

    def _stage_stats(
        self,
        tables: dict[str, DataFrame],
        todo: list[Constraint],
        known: dict[str, tuple[int, list[str]]] | None,
    ) -> tuple[dict[str, int], dict[str, list[str]]]:
        """({table: row_count}, {table: partition universe}) for the tables
        the pending stages read, computed once per run (not per stage, not
        racy). ``known`` stats (run_incremental's fingerprints) are used
        as-is; only the missing tables are scanned."""
        known = known or {}
        table_rows: dict[str, int] = {}
        universes: dict[str, list[str]] = {}
        for c in todo:
            if c.table in tables and c.table not in table_rows:
                table_rows[c.table], universes[c.table] = known.get(
                    c.table
                ) or self._table_stats(tables, c.table)
        return table_rows, universes

    def _apply_severity(self, res: RunResult, constraints: list[Constraint]) -> None:
        """Classify each emitted constraint's total count under its declared
        severity/tolerance (Constraint.severity docstring). Resumed stages
        hydrated without a rows_checked figure fall back to the ABSOLUTE
        tolerance only (rate × 0) — conservative, never more permissive."""
        for c in constraints:
            for name in getattr(c, "emits", [c.name]):
                n = res.violation_counts.get(name, 0)
                if n == 0:
                    continue
                if getattr(c, "severity", "error") == "warn":
                    res.warn_counts[name] = n
                elif n > c.allowed_violations(res.rows_checked.get(name, 0)):
                    res.blocking[name] = n
                else:
                    res.tolerated[name] = n
        res._severity_applied = True

    @staticmethod
    def _stage_blocks(res: RunResult, c: Constraint) -> bool:
        """True when this (already-completed or hydrated) stage's outcome
        should gate its dependents: it errored, or an emitted count exceeds
        its tolerance under error severity. Mirrors _apply_severity's rule,
        evaluated mid-run over the counts accumulated so far."""
        if c.name in res.errors:
            return True
        if getattr(c, "severity", "error") == "warn":
            return False
        return any(
            res.violation_counts.get(n, 0)
            > c.allowed_violations(res.rows_checked.get(n, 0))
            for n in getattr(c, "emits", [c.name])
        )

    def _gating_deps(self, res: RunResult, c: Constraint, by_name: dict) -> list[str]:
        """The subset of c's dependencies that gate it right now — blocked
        outcomes plus dependencies that were themselves gated (never ran:
        their verdict is unknown, so the dependent cannot run either)."""
        return [
            d
            for d in (getattr(c, "depends_on", None) or [])
            if d in res.gated or self._stage_blocks(res, by_name[d])
        ]

    def _record_gated(self, res: RunResult, c: Constraint, bad_deps: list[str]) -> None:
        """Audit a gated stage. Deliberately NOT 'done': a resumed run
        retries the stage once the dependency is fixed."""
        res.gated[c.name] = bad_deps
        self.audit.append([self._marker(c.name, "gated")])

    def _marker(self, name: str, status: str, **extra) -> dict:
        """A stage-level audit row (part=NULL): 'done', 'error' or 'gated'."""
        return {
            "run_id": self.ctx.run_id,
            "constraint": name,
            "part": None,
            "status": status,
            "violation_count": None,
            **extra,
        }

    # -- main ----------------------------------------------------------------

    def run(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        resume: bool = True,
        _stats: dict[str, tuple[int, list[str]]] | None = None,
    ) -> RunResult:
        """Execute the plan. Constraint stages are independent DataFrame
        jobs, so they run CONCURRENTLY on the Spark scheduler: every
        runnable stage of a dependency level gets its own thread, so no
        stage queues behind another for a driver slot — the Spark
        restatement of the reference's 40-way validation pipeline
        (src/com/vendekagonlabs/unify/validation/post_import.clj:26-53).
        ``fail_fast=True`` forces sequential execution to preserve the
        reference's first-anomaly-kills-the-job semantics. ``_stats``:
        {table: (row_count, partition universe)} already known to the
        caller (run_incremental's fingerprints), skipping that pre-pass."""
        return self._execute(tables, constraints, resume, _stats, self._run_level_staged)

    def run_fused(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        resume: bool = True,
        _stats: dict[str, tuple[int, list[str]]] | None = None,
    ) -> RunResult:
        """Execute the whole plan as ONE Spark job: the violation DataFrames
        of every pending stage are unioned (they share VIOLATION_SCHEMA) and
        counted/written in a single pass. Catalyst evaluates the union's
        branches as independent subtrees of one job, so the cluster stays
        saturated with zero per-stage scheduling gaps — the fused analogue of
        the reference's 40-way validation pipeline
        (src/com/vendekagonlabs/unify/validation/post_import.clj:26-53).

        Trade-off vs ``run``: per-stage wall times and mid-run resumability
        collapse to one unit per wave (all-or-nothing per wave: every stage
        of a wave records the wave's wall); use ``run`` when stage-grain
        checkpointing matters more than throughput. A wave whose job raises
        re-runs stage by stage through ``run``'s executor, so the culprit
        lands as an 'error' row and the rest complete (fail-at-end in both
        modes; ``fail_fast`` applies only to that fallback).

        ``depends_on`` executes as successive fused WAVES: each dependency
        level fuses into one job, and the next wave drops (gates) stages
        whose dependencies blocked — the cheap schema wave still saturates
        the cluster while the decode-heavy wave only runs on clean input.

        ``_stats`` as in :meth:`run`.
        """
        return self._execute(tables, constraints, resume, _stats, self._run_level_fused)

    # -- stage planner -------------------------------------------------------

    def _execute(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        resume: bool,
        stats: dict[str, tuple[int, list[str]]] | None,
        run_level,
    ) -> RunResult:
        """The stage planner under both runners: validate ``depends_on``,
        read the resume state once and hydrate finished stages, compute the
        table stats once, then per dependency level gate the stages and
        prepare each runnable stage's pending partitions.
        ``run_level(res, stages)`` executes one level's prepared stages and
        returns True when fail_fast stops the run."""
        t_run = time.time()
        # unknown names and cycles are config errors: raise before any job
        levels = _dep_levels(constraints)
        res = RunResult(run_id=self.ctx.run_id)
        done = self.audit.completed_constraints(self.ctx.run_id) if resume else set()
        parts_done = self.audit.part_results(self.ctx.run_id) if resume else {}
        rows_done = self.audit.stage_rows_checked(self.ctx.run_id) if resume else {}

        def hydrate(c: Constraint) -> None:
            """Fill verdicts/counts for audit-recorded work so a resumed run's
            report (and exit code) reflects prior results instead of silently
            dropping them."""
            for name in getattr(c, "emits", [c.name]):
                recorded = parts_done.get(name, {})
                res.violation_counts[name] = res.violation_counts.get(name, 0) + sum(
                    n for _, n in recorded.values()
                )
                # restore the rate-tolerance denominator from the stage's
                # 'done' marker: without it a dependency that PASSED via
                # max_violation_rate reads allowed_violations(0)=0 on
                # resume and permanently gates its dependents
                if c.name in rows_done:
                    res.rows_checked.setdefault(name, rows_done[c.name])
                for p, (s, _) in recorded.items():
                    res.verdicts[(name, p)] = s == "pass"

        for c in constraints:
            if c.name in done:
                res.skipped.append(c.name)
                hydrate(c)
        todo = [c for c in constraints if c.name not in done]
        table_rows, universes = self._stage_stats(tables, todo, stats)

        # dependency-ordered execution: stages run in topological levels,
        # and a stage whose depends_on dependency blocked (or was gated) is
        # recorded 'gated' instead of paying its (possibly decode-heavy)
        # scan. Suites without depends_on collapse to a single level.
        by_name = {c.name: c for c in constraints}
        for level in levels:
            stages = []
            for c in level:
                if c.name in done:
                    continue
                bad_deps = self._gating_deps(res, c, by_name)
                if bad_deps:
                    self._record_gated(res, c, bad_deps)
                    continue
                universe = universes.get(c.table) or []
                recorded = parts_done.get(c.name, {})
                stage = _Stage(c, universe or [None], tables, table_rows.get(c.table, 0))
                # partition-grain resume: a partition-local constraint
                # recomputes ONLY partitions missing from the audit
                # (killed-mid-run recovery and incremental validation of
                # newly-arrived partitions)
                if getattr(c, "partition_local", False) and recorded and universe:
                    hydrate(c)
                    stage.pending = [p for p in universe if p not in recorded]
                    if not stage.pending:
                        res.skipped.append(c.name)
                        self.audit.append([self._record(res, stage, {}, 0.0)[1]])
                        continue
                    stage.partial = True
                    stage.tables = {
                        **tables,
                        c.table: tables[c.table].filter(
                            F.col(self.ctx.part_col).isin(stage.pending)
                        ),
                    }
                stages.append(stage)
            if stages and run_level(res, stages):
                break

        res.wall_sec = time.time() - t_run
        self._apply_severity(res, constraints)
        return res

    def _record(
        self, res: RunResult, stage: _Stage, counts: dict[str, dict], wall: float
    ) -> tuple[list[dict], dict]:
        """Fold a stage's freshly counted violations ({name: {part: n}})
        into ``res`` and return its pass/fail lineage rows and its 'done'
        marker. One rule for both executors and for a stage whose
        partitions were all recorded already (empty ``counts``): every
        emitted name gets the stage's rows_checked, and the marker's count
        covers every name the stage emits (payload also emits the
        bytes-nullness constraint), hydrated partitions included. Callers
        that run stages concurrently hold the result lock."""
        c = stage.c
        emits = getattr(c, "emits", [c.name])
        lineage = []
        for name in emits:
            name_counts = counts.get(name, {})
            res.violation_counts[name] = res.violation_counts.get(name, 0) + sum(
                name_counts.values()
            )
            res.rows_checked[name] = stage.rows
            # every part key that actually EMITTED violations gets a
            # lineage row, not just the partition universe: a
            # table-level constraint (e.g. aggregate consistency) emits
            # part=NULL rows, and recording only all-pass universe rows
            # would let a resumed run hydrate the stage back to zero
            # violations — a failed run silently flipping to passing
            for p in {*stage.pending, *name_counts}:
                n = name_counts.get(p, 0)
                res.verdicts[(name, p)] = n == 0
                lineage.append(
                    {
                        "run_id": self.ctx.run_id,
                        "constraint": name,
                        "part": p,
                        "status": "pass" if n == 0 else "fail",
                        "violation_count": n,
                    }
                )
        done = self._marker(
            c.name,
            "done",
            violation_count=sum(res.violation_counts[n] for n in emits),
            rows_checked=stage.rows,
            wall_sec=wall,
        )
        return lineage, done

    # -- staged executor -----------------------------------------------------

    def _run_level_staged(self, res: RunResult, stages: list[_Stage]) -> bool:
        """One job per stage, each on its own thread; sequential under
        fail_fast, which returns True once a stage emitted violations."""
        lock = threading.Lock()

        def run_stage_trapped(stage: _Stage) -> None:
            """Uncaught-exception trap (reference validation report +
            engine.clj's anomaly channel): a stage that throws is recorded as
            an 'error' audit row and the run report instead of killing the
            other stages (fail-at-end); fail_fast re-raises."""
            try:
                self._run_stage(res, stage, lock)
            except Exception as e:  # noqa: BLE001 — trap IS the contract
                with lock:
                    res.errors[stage.c.name] = f"{type(e).__name__}: {e}"
                self.audit.append([self._marker(stage.c.name, "error")])
                if self.ctx.fail_fast:
                    raise

        if self.ctx.fail_fast:
            for stage in stages:
                run_stage_trapped(stage)
                if any(
                    res.violation_counts.get(n)
                    for n in getattr(stage.c, "emits", [stage.c.name])
                ):
                    # reference semantics: first anomaly kills the job
                    # (src/com/vendekagonlabs/unify/import/engine.clj:166-181)
                    return True
            return False
        with ThreadPoolExecutor(max_workers=len(stages)) as ex:
            list(ex.map(run_stage_trapped, stages))
        return False

    def _run_stage(self, res: RunResult, stage: _Stage, lock: threading.Lock) -> None:
        """One stage's job: persist, count, write the evidence, then the
        lineage rows, then the 'done' row."""
        t0 = time.time()
        c = stage.c
        # cache so the count aggregation and the capped write share ONE
        # computation of the (possibly expensive) constraint plan
        vio = c.violations(stage.tables, self.ctx).persist()
        try:
            counts = _count_by_part(vio)
            if counts:
                # partial reruns append (prior parts' violation files stay);
                # fresh stages overwrite. Retried with backoff: a transient
                # sink failure must not abort the stage (retry.py taxonomy).
                mode = "append" if stage.partial else "overwrite"
                with_retries(
                    lambda: vio.limit(self.ctx.violation_cap)
                    .coalesce(1)
                    .write.mode(mode)
                    .parquet(os.path.join(self.out_dir, "violations", _safe(c.name)))
                )
                if self.ctx.collect_violating_keys:
                    # uncapped key set (quarantine input); dynamic
                    # overwrite scoped to THIS stage's constraint names
                    with_retries(
                        lambda: vio.select("constraint", "table", "key", "part")
                        .distinct()
                        .write.mode(mode)
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("constraint")
                        .parquet(os.path.join(self.out_dir, "violating_keys"))
                    )
            with lock:
                lineage, done = self._record(res, stage, counts, time.time() - t0)
            # phase 1: part-grain lineage rows land AFTER the violation
            # write — a kill between the two leaves violations without
            # lineage (rewritten by the resumed run) rather than 'fail'
            # lineage whose evidence rows were never persisted (which a
            # partition-grain resume would skip forever)
            self.audit.append(lineage)
        finally:
            vio.unpersist()
        # phase 2: the stage 'done' marker — whole-stage resume key
        self.audit.append([done])

    # -- fused executor ------------------------------------------------------

    def _run_level_fused(self, res: RunResult, stages: list[_Stage]) -> bool:
        """One level's stages as ONE Spark job (a wave), audited in one
        append. Spark offers no per-branch error trap inside a union, so a
        wave whose job raises re-runs through the staged executor."""
        t0 = time.time()
        try:
            counts = self._fused_job(stages)
        except Exception:  # noqa: BLE001 — the staged executor traps per stage
            return self._run_level_staged(res, stages)
        wall = time.time() - t0
        rows = []
        for stage in stages:
            lineage, done = self._record(res, stage, counts, wall)
            rows += lineage + [done]
        self.audit.append(rows)
        return False

    def _fused_job(self, stages: list[_Stage]) -> dict[str, dict]:
        """Union the stages' violation plans, count them and write the
        evidence; returns {name: {part: n}} for the names with violations."""
        # Row-local constraints (domain/range/required/composite/mapping)
        # fuse into ONE scan per table: their predicates become an exploded
        # violation-struct array, so the table's columns are read once for
        # the whole family instead of once per constraint. Bundles group by
        # (table, pending-partition set) so a partially-resumed constraint
        # fuses only with stages scanning the same partition subset.
        bundles: dict[tuple, list[_Stage]] = {}
        rest: list[_Stage] = []
        for st in stages:
            preds = getattr(st.c, "row_predicates", None)
            if preds is not None and st.c.table in st.tables and preds(self.ctx) is not None:
                bundles.setdefault((st.c.table, tuple(st.pending)), []).append(st)
            else:
                rest.append(st)

        plans = [
            _row_local_bundle_plan(sts[0].tables[t], [st.c for st in sts], t, self.ctx)
            for (t, _), sts in bundles.items()
        ] + [st.c.violations(st.tables, self.ctx) for st in rest]
        fused = plans[0]
        for p in plans[1:]:
            fused = fused.unionByName(p)

        # The union of P subtrees would persist as the SUM of their output
        # partitions (~800 tiny blocks at bench shape); every downstream
        # pass — count agg, cap window, violating-keys write — then
        # re-schedules that many tasks, and task scheduling is
        # driver-serial: the same wall cost at EVERY parallelism level, a
        # pure scaling-efficiency tax (measured ~2-3s of the local[8]
        # fused wall). One ROUND-ROBIN exchange collapses the cached frame
        # to shuffle_partitions balanced blocks; hashing by constraint
        # here would funnel a large constraint's whole violation set into
        # one cache task — the exact single-task concentration the salted
        # cap below exists to avoid. Violation rows are slim (strings + a
        # long), so the exchange is cheap.
        fused = fused.repartition(_shuffle_partitions(self.spark)).persist()
        try:
            counts = _count_by_part(fused)
            if self.ctx.collect_violating_keys:
                # UNCAPPED distinct key set off the persisted frame — the
                # quarantine split's row-complete input (the evidence write
                # below is capped and cannot drive one). Same dynamic
                # overwrite discipline: a partial resume replaces only the
                # constraints it recomputed.
                with_retries(
                    lambda: fused.select("constraint", "table", "key", "part")
                    .distinct()
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("constraint")
                    .parquet(os.path.join(self.out_dir, "violating_keys"))
                )
            # capped per-constraint violation rows, one partitioned write.
            # dynamic partition overwrite: only the constraints present in
            # THIS run's output are replaced — a resumed run must not wipe
            # the violation files of stages it skipped.
            #
            # The per-constraint totals are already on the driver, so the
            # cap is applied only when some constraint actually exceeds it
            # — the common all-under-cap run writes the cached frame as-is,
            # no sort, no window. When a constraint IS over cap, a plain
            # window by constraint would funnel its entire violation set
            # (potentially ~1% of 10^12 rows) into ONE sort task; instead
            # the standard two-phase top-k: a salted pre-window keeps at
            # most cap rows per (constraint, salt) in parallel, and the
            # global window ranks only the <= cap * n_salts survivors.
            cap = self.ctx.violation_cap
            order = [F.col("key").asc_nulls_last(), F.col("column").asc_nulls_last()]
            if all(sum(d.values()) <= cap for d in counts.values()):
                capped = fused
            else:
                n_salts = _shuffle_partitions(self.spark)
                pre_w = Window.partitionBy("constraint", "_salt").orderBy(*order)
                w = Window.partitionBy("constraint").orderBy(*order)
                capped = (
                    fused.withColumn(
                        "_salt",
                        F.pmod(F.xxhash64("key", "column"), F.lit(n_salts)),
                    )
                    .withColumn("_prn", F.row_number().over(pre_w))
                    .filter(F.col("_prn") <= cap)
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= cap)
                    .drop("_salt", "_prn", "_rn")
                )
            # retried with backoff like the staged write (retry.py); the
            # fused violation write lands BEFORE the wave's audit rows,
            # preserving violations-before-lineage ordering
            with_retries(
                lambda: capped.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("constraint")
                .parquet(os.path.join(self.out_dir, "violations_fused"))
            )
        finally:
            fused.unpersist()
        return counts

    def profile(
        self,
        tables: dict[str, DataFrame],
        exclude: dict | None = None,
        sketches: bool = True,
        metrics_repo: str | None = None,
    ) -> None:
        """Persist column statistics (null rate, min/max, HLL distinct,
        sketch quantiles; global + per-partition) next to the audit table —
        the north-rule "metrics persisted to the audit table" sidecar.
        With ``sketches=True`` the per-partition MERGEABLE HLL sketch state
        is also persisted (profile.hll_sketches), so later distinct-count
        questions over any partition subset — including partitions loaded by
        FUTURE runs — merge stored sketches instead of re-scanning data.
        ``metrics_repo``: additionally append the stat rows, tagged with this
        run's id, to a cross-run :class:`~unify_spark.plans.history.
        MetricsRepository` (parquet dir or Iceberg table) so trailing-window
        anomaly checks scan ONE table instead of one sidecar per run."""
        from unify_spark.operators.profile import hll_sketches, profile_table

        repo = None
        if metrics_repo is not None:
            from unify_spark.plans.history import MetricsRepository

            repo = MetricsRepository(self.spark, metrics_repo)
        exclude = exclude or {}
        for name, df in tables.items():
            part = self.ctx.part_col if self.ctx.part_col in df.columns else None
            excl = exclude.get(name, ["bytes"])
            stats = profile_table(df, name, part_col=part, exclude=excl)
            if repo is not None:
                stats = stats.persist()
                repo.append(stats, self.ctx.run_id)
            stats.coalesce(1).write.mode("append").parquet(
                os.path.join(self.out_dir, "profile")
            )
            if repo is not None:
                stats.unpersist()
            if sketches:
                cols = [
                    n
                    for n, t in df.dtypes
                    if n not in excl and n != part and t.split("(")[0] in ("string", "bigint", "int", "long", "double", "float")
                ]
                if cols:
                    hll_sketches(df, name, cols, part_col=part).coalesce(1).write.mode(
                        "append"
                    ).parquet(os.path.join(self.out_dir, "profile_sketches"))
                # t-digest quantile sketches for numeric columns (the
                # north-star dur_ms/sr_hz slot): same incremental sidecar
                # shape as the HLL rows — per-partition digests merge later
                from unify_spark.operators import tdigest as _td

                num_cols = [
                    n
                    for n, t in df.dtypes
                    if n not in excl and n != part and t.split("(")[0] in ("bigint", "int", "long", "double", "float")
                ]
                for col in num_cols:
                    _td.sketch_rows(df, col, name, part_col=part).coalesce(1).write.mode(
                        "append"
                    ).parquet(os.path.join(self.out_dir, "profile_tdigest"))


    def run_incremental(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        baseline_out_dir: str,
        baseline_run_id: str | None = None,
        fused: bool = True,
        include_binary: bool = True,
    ):
        """Cross-run incremental validation: re-validate only partitions
        whose CONTENT changed since a prior run (plans/incremental.py has
        the full design). Fingerprints this run's tables, diffs against the
        baseline run's saved sidecar, seeds this run's audit with the
        baseline's per-partition verdicts for unchanged partitions of
        partition-local constraints (gated on every auxiliary table being
        fully unchanged), then runs with resume — the existing
        partition-grain resume machinery recomputes exactly the
        changed/added partitions. Global constraints (uniqueness,
        referential, drift) re-run whenever any partition changed (a
        cross-partition duplicate can involve an unchanged partition) —
        but under ZERO diff (no table changed at all) they seed too, and
        the whole re-validation is metadata-only. Violation EVIDENCE rows for
        unchanged partitions remain in the baseline run's out_dir; the
        seeded audit rows carry verdicts + counts forward, so this run's
        verdict matrix and report are complete.

        Saves this run's fingerprints to out_dir so it can chain as the
        next run's baseline. Returns (RunResult, IncrementalPlan)."""
        from unify_spark.plans.incremental import (
            fingerprint_stats,
            plan_incremental,
            save_fingerprints,
        )

        plan, now_fps, seed_rows = plan_incremental(
            self.spark,
            tables,
            constraints,
            baseline_out_dir,
            part_col=self.ctx.part_col,
            baseline_run_id=baseline_run_id,
            include_binary=include_binary,
        )
        if seed_rows:
            self.audit.append(
                [{"run_id": self.ctx.run_id, **r} for r in seed_rows]
            )
        # the fingerprints already hold every table's per-partition row
        # counts: the runners' stats pre-pass would re-count the same rows
        stats = fingerprint_stats(tables, now_fps, self.ctx.part_col)
        res = (
            self.run_fused(tables, constraints, resume=True, _stats=stats)
            if fused
            else self.run(tables, constraints, resume=True, _stats=stats)
        )
        if self.ctx.collect_violating_keys and seed_rows:
            # this run's sidecar only carries RECOMPUTED partitions' keys;
            # seeded partitions' violating keys live in the baseline's
            # sidecar — without this compose, split_valid after an
            # incremental run would silently under-quarantine
            self._compose_seeded_violating_keys(baseline_out_dir, seed_rows)
        save_fingerprints(self.out_dir, now_fps, constraints=constraints)
        return res, plan

    def _compose_seeded_violating_keys(
        self, baseline_out_dir: str, seed_rows: list[dict]
    ) -> None:
        """Copy the baseline's violating keys for every seeded
        (constraint, partition) pair into this run's sidecar, so the run's
        key set is row-complete for the quarantine split. The pair filter
        is a broadcast semi-join against a driver-built frame (seeded pairs
        are metadata-scale)."""
        base_path = os.path.join(baseline_out_dir, "violating_keys")
        if not os.path.exists(base_path):
            raise FileNotFoundError(
                f"no violating_keys sidecar under {baseline_out_dir} — an "
                "incremental run with collect_violating_keys needs the "
                "baseline run to have collected keys too (its seeded "
                "partitions' evidence lives there)"
            )
        base = self.spark.read.parquet(base_path)
        if "part" not in base.columns:
            raise ValueError(
                f"{base_path} predates the partition-aware sidecar schema; "
                "re-run the baseline to enable incremental quarantine"
            )
        pairs = sorted(
            {
                (r["constraint"], r["part"])
                for r in seed_rows
                if r["status"] in ("pass", "fail")
            },
            key=lambda t: (t[0], str(t[1])),
        )
        if not pairs:
            return
        pair_df = self.spark.createDataFrame(
            pairs, "constraint string, part string"
        )
        seeded_keys = base.join(
            F.broadcast(pair_df),
            on=[
                base["constraint"].eqNullSafe(pair_df["constraint"]),
                base["part"].eqNullSafe(pair_df["part"]),
            ],
            how="left_semi",
        )
        with_retries(
            lambda: seeded_keys.select("constraint", "table", "key", "part")
            .write.mode("append")
            .partitionBy("constraint")
            .parquet(os.path.join(self.out_dir, "violating_keys"))
        )

    def verdict_matrix(self) -> DataFrame:
        return self.audit.verdicts(self.ctx.run_id)

    # -- sampled-constraint extrapolation -------------------------------------

    def sampling_estimates(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        res,
    ) -> dict[str, dict]:
        """Extrapolate sampled constraints' violation counts to the full
        table: per emitted constraint name, the sampled violation rate, a
        Wilson 95% interval on the true rate, and the implied total-count
        band. Cost: two single-column counts per sampled constraint
        (metadata-scale next to the decode the sample skipped). Empty when
        no constraint ran in sampled mode."""
        from unify_spark.functions.sampling import wilson_interval

        out: dict[str, dict] = {}
        for c in constraints:
            if not getattr(c, "is_sampled", False):
                continue
            df = tables[c.table]
            n_total = df.count()
            n_sampled = df.where(c._keep()).count()
            for name in getattr(c, "emits", [c.name]):
                if name in res.errors:
                    continue  # stage died — counts aren't a sample of anything
                k = res.violation_counts.get(name, 0)
                lo, hi = wilson_interval(k, n_sampled)
                out[name] = {
                    "sample_rate": c.sample_rate,
                    "sampled_rows": n_sampled,
                    "total_rows": n_total,
                    "sampled_violations": k,
                    "violation_rate": (k / n_sampled) if n_sampled else None,
                    "estimated_total_violations": (
                        int(round(k / n_sampled * n_total)) if n_sampled else None
                    ),
                    "wilson95_rate": [lo, hi],
                    "wilson95_total": [int(lo * n_total), math.ceil(hi * n_total)],
                }
        return out

    # -- quarantine split -----------------------------------------------------

    def violating_keys(self) -> DataFrame:
        """The run's UNCAPPED distinct (constraint, table, key) sidecar —
        written when ``ctx.collect_violating_keys`` is set. A FULLY CLEAN
        per-stage run writes no files (run() guards its sink behind
        ``if total:``, and an empty partitioned parquet would not even be
        schema-readable), so when this runner collects violating keys and
        the sidecar is absent/empty the honest answer is an empty key set —
        every row routes to clean — not an error (advisor round-5 fix).
        The error remains for runners that never collected keys at all."""
        path = os.path.join(self.out_dir, "violating_keys")
        schema = "constraint string, table string, key string, part string"
        if os.path.exists(path):
            try:
                return self.spark.read.parquet(path)
            except Exception:
                # directory exists but holds no readable files (clean run
                # under the fused path writes at least the _SUCCESS marker)
                if self.ctx.collect_violating_keys:
                    return self.spark.createDataFrame([], schema)
                raise
        if self.ctx.collect_violating_keys:
            return self.spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"no violating_keys sidecar under {self.out_dir} — run with "
            "ValidationContext(collect_violating_keys=True) (CLI: "
            "--quarantine-to)"
        )

    def split_valid(
        self,
        df: DataFrame,
        table: str,
        key_col: str,
        constraints: list[Constraint] | None = None,
        exclude: tuple[str, ...] = (),
    ) -> tuple[DataFrame, DataFrame]:
        """(clean, quarantined): partition ``df`` by whether the row's key
        appears in this run's violating-key set for ``table`` — the
        expect-or-drop pattern (route bad rows to quarantine, ship the
        clean table) without recomputing any constraint.

        Partition-grain constraints (drift) key violations by PARTITION,
        not row key, so they are excluded automatically when
        ``constraints`` is supplied (and can be excluded by name via
        ``exclude``): a drifted partition is an alerting signal, not a
        per-row defect. Rows whose violation key is NULL cannot be
        row-addressed and do not quarantine (their constraints still fail
        the run). The two outputs partition ``df`` exactly: every input
        row lands in exactly one side.

        Scale shape: the keys side is the (usually small) violation set —
        Catalyst broadcasts it under AQE when it fits; the big table is
        never shuffled for the anti/semi pair beyond that join."""
        drop = set(exclude)
        if constraints is not None:
            for c in constraints:
                if getattr(c, "partition_grain", False):
                    drop.update(getattr(c, "emits", [c.name]))
        keys = self.violating_keys().filter(F.col("table") == table)
        if drop:
            keys = keys.filter(~F.col("constraint").isin(list(drop)))
        keys = keys.select(F.col("key").alias("__vk")).distinct()
        # the sidecar stores keys as STRINGS; a bare equality against e.g. a
        # bigint key column would compare via double and lose precision
        # above 2^53 — cast the frame's key explicitly so routing is exact
        # at any id scale (advisor round-5 fix)
        cond = df[key_col].cast("string") == F.col("__vk")
        clean = df.join(keys, on=cond, how="left_anti")
        quarantined = df.join(keys, on=cond, how="left_semi")
        return clean, quarantined

    # -- cross-run drift sidecars --------------------------------------------

    def persist_drift_histograms(
        self, tables: dict[str, DataFrame], constraints: list[Constraint]
    ) -> int:
        """Write this run's per-partition histograms for every bounded
        DriftConstraint to <out>/drift_hist — the persisted-baseline sidecar
        a LATER run scores itself against without touching this run's data
        (drift.py histogram_rows). Returns the number of constraints
        persisted. Bounded constraints only: stable bins across runs need
        contract bounds."""
        from unify_spark.operators.drift import (
            CategoricalDriftConstraint,
            DriftConstraint,
        )

        drifts = [
            c for c in constraints if isinstance(c, DriftConstraint) and c.bounds
        ]
        if drifts:
            out = drifts[0].histogram_rows(tables, self.ctx)
            for c in drifts[1:]:
                out = out.unionByName(c.histogram_rows(tables, self.ctx))
            with_retries(
                lambda: out.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(self.out_dir, "drift_hist"))
            )
        # categorical sidecar: same contract (stable buckets need declared
        # categories), separate file — the schemas differ (val string vs
        # bucket long)
        cats = [
            c
            for c in constraints
            if isinstance(c, CategoricalDriftConstraint) and c.categories
        ]
        if cats:
            out = cats[0].histogram_rows(tables, self.ctx)
            for c in cats[1:]:
                out = out.unionByName(c.histogram_rows(tables, self.ctx))
            with_retries(
                lambda: out.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(self.out_dir, "cat_drift_hist"))
            )
        return len(drifts) + len(cats)

    def drift_vs_baseline(
        self,
        tables: dict[str, DataFrame],
        constraints: list[Constraint],
        baseline_dir: str,
    ) -> DataFrame:
        """Score every bounded DriftConstraint's CURRENT partitions against
        a PRIOR run's persisted histograms (<baseline_dir>/drift_hist):
        (constraint, part, psi, ks, ks_crit, failed) rows. The baseline side
        is a metadata-sized histogram per constraint — cross-run drift costs
        one histogram pass over the new data, never a rescan of the old."""
        from unify_spark.operators.drift import (
            CategoricalDriftConstraint,
            DriftConstraint,
        )

        drifts = [
            c for c in constraints if isinstance(c, DriftConstraint) and c.bounds
        ]
        cats = [
            c
            for c in constraints
            if isinstance(c, CategoricalDriftConstraint) and c.categories
        ]
        if not drifts and not cats:
            raise ValueError(
                "no bounded DriftConstraint or categories-declared "
                "CategoricalDriftConstraint in the plan to baseline"
            )
        out = None
        if drifts:
            baseline = self.spark.read.parquet(
                os.path.join(baseline_dir, "drift_hist")
            )
            for c in drifts:
                scored = c.scores_vs_baseline(tables, self.ctx, baseline).select(
                    F.lit(c.name).alias("constraint"),
                    "part",
                    "psi",
                    "ks",
                    "ks_crit",
                    "failed",
                )
                out = scored if out is None else out.unionByName(scored)
        if cats:
            cat_baseline = self.spark.read.parquet(
                os.path.join(baseline_dir, "cat_drift_hist")
            )
            for c in cats:
                # categorical rows carry null ks/ks_crit (KS is undefined
                # for unordered categories); new_categories folds into the
                # shared verdict via `failed`
                scored = c.scores_vs_baseline(tables, self.ctx, cat_baseline).select(
                    F.lit(c.name).alias("constraint"),
                    "part",
                    "psi",
                    F.lit(None).cast("double").alias("ks"),
                    F.lit(None).cast("double").alias("ks_crit"),
                    "failed",
                )
                out = scored if out is None else out.unionByName(scored)
        return out


def _row_local_bundle_plan(df, constraints, table, ctx):
    """One-scan fused plan for a table's row-local constraints: per row, an
    array of violation structs (one slot per failing predicate), compacted
    and exploded into canonical VIOLATION_SCHEMA rows."""
    key = "clip_id" if "clip_id" in df.columns else df.columns[0]
    part_col = ctx.part_col if ctx.part_col in df.columns else None
    structs = []
    for c in constraints:
        for fail, column, observed, expected in c.row_predicates(ctx):
            structs.append(
                F.when(
                    fail,
                    F.struct(
                        F.lit(c.name).alias("constraint"),
                        F.lit(column).alias("column"),
                        observed.cast("string").alias("observed"),
                        F.lit(expected).alias("expected"),
                    ),
                )
            )
    exploded = df.select(
        F.col(key).cast("string").alias("key"),
        (F.col(part_col) if part_col else F.lit(None)).cast("string").alias("part"),
        F.explode(F.array_compact(F.array(*structs))).alias("v"),
    )
    return exploded.select(
        F.col("v.constraint").alias("constraint"),
        F.lit(table).alias("table"),
        F.col("key"),
        F.col("v.column").alias("column"),
        F.col("v.observed").alias("observed"),
        F.col("v.expected").alias("expected"),
        F.col("part"),
        F.lit(None).cast("string").alias("source_file"),
        F.lit(None).cast("long").alias("row_index"),
    )


def _count_by_part(vio: DataFrame) -> dict[str, dict]:
    """{constraint: {part: n}} over a violation frame, one aggregate job."""
    counts: dict[str, dict] = {}
    for r in vio.groupBy("constraint", "part").agg(F.count(F.lit(1)).alias("n")).collect():
        counts.setdefault(r["constraint"], {})[r["part"]] = r["n"]
    return counts


def _safe(name: str) -> str:
    return "".join(ch if ch.isalnum() or ch in "._-" else "_" for ch in name)
