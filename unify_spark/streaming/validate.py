"""Structured Streaming validation.

The reference is strictly batch (SURVEY §2.9) — its core.async pipelining is
partition parallelism, not streaming. This module is the Spark-native
extension the north architecture wants anyway: validate clips as they ARRIVE.

Two modes:

1. ``validate_stream`` — row-local constraints (domain/range/required/
   composite-id) compiled into one ``CASE``-style violation expression over
   the stream; pure narrow transform, so it composes with watermarks and any
   sink, and never blocks on state.
2. ``validate_stream_foreach_batch`` — the FULL batch suite (joins, payload,
   uniqueness-within-batch) via ``foreachBatch``: each micro-batch is handed
   to the ValidationRunner with ``run_id = <run>@<batch_id>``, reusing the
   audit/resume machinery for exactly-once batch bookkeeping (the streaming
   analogue of the reference's per-tx resume set,
   src/com/vendekagonlabs/unify/db/import_coordination.clj:47-84).

Cross-batch uniqueness at 10^12 scale is deliberately NOT a streaming join —
dedup state that size belongs in the batch reconciliation pass (run nightly
over the Iceberg table), which is how the audit table composes the two.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, functions as F

from unify_spark.operators.base import Constraint, ValidationContext


def row_level_violation_expr(
    constraints: list[Constraint], ctx: ValidationContext | None = None
) -> F.Column:
    """Array of failed-constraint names per row, from the row-local subset.

    Built from each constraint's ``row_predicates`` — the one predicate form
    every batch row-local plan is built from — so every row-local family
    (domain, range, derived-range, required+na-tokens, composite-id,
    enum-mapping, regex, length, any-present, conditional, vector)
    validates on a stream with identical semantics to batch, for free."""
    ctx = ctx or ValidationContext()
    checks = []
    for c in constraints:
        for fail, _column, _obs, _exp in c.row_predicates(ctx) or []:
            checks.append(F.when(fail, F.lit(c.name)))
    if not checks:
        return F.array().cast("array<string>")
    # a multi-column constraint (required, conditional) contributes one
    # predicate per column; distinct keeps one name per failed constraint
    return F.array_distinct(F.array_compact(F.array(*checks)))


def validate_stream(stream_df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Stream → stream with ``violations: array<string>`` appended; filter
    ``size(violations) > 0`` for the violation stream, ``= 0`` for clean."""
    return stream_df.withColumn("violations", row_level_violation_expr(constraints))


def validate_stream_foreach_batch(
    stream_df: DataFrame,
    constraints: list[Constraint],
    tables: dict[str, DataFrame],
    stream_table_name: str,
    out_dir: str,
    ctx: ValidationContext | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    metrics_repo: str | None = None,
):
    """Run the full suite per micro-batch. Returns the started query.

    ``metrics_repo``: additionally profile the stream table each
    micro-batch and append the stat rows (run_id = "<run>@<batch_id>") to
    a cross-run :class:`~unify_spark.plans.history.MetricsRepository` —
    batches become the history axis, so ``repo_anomalies`` turns into an
    ONLINE monitor: "is this micro-batch's null rate / volume / max out of
    line with the trailing batches", with no state store and no rescan."""
    from unify_spark.plans.runner import ValidationRunner

    base_ctx = ctx or ValidationContext()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bctx = dataclasses.replace(base_ctx, run_id=f"{base_ctx.run_id}@{batch_id}")
        runner = ValidationRunner(batch_df.sparkSession, out_dir, bctx)
        batch_tables = dict(tables)
        batch_tables[stream_table_name] = batch_df
        runner.run(batch_tables, constraints, resume=True)
        if metrics_repo is not None:
            # replay-idempotent like the validation it rides on (the run is
            # audit-resumed): a crash after process() but before the stream
            # checkpoint commits replays this batch_id, and a second append
            # under the same <run>@<batch> run_id would double-weight the
            # batch in every envelope read off the repo
            from unify_spark.plans.history import MetricsRepository

            repo = MetricsRepository(batch_df.sparkSession, metrics_repo)
            if not repo.rows(["run_id"], bctx.run_id):
                runner.profile(
                    {stream_table_name: batch_df},
                    sketches=False,
                    metrics_repo=metrics_repo,
                )

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drift_monitor_foreach_batch(
    stream_df: DataFrame,
    constraints: list,
    baseline_dir: str,
    out_dir: str,
    ctx: ValidationContext | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming distribution-drift monitor: score every micro-batch's
    partitions against a PRIOR run's persisted drift histograms
    (``<baseline_dir>/drift_hist`` / ``cat_drift_hist`` — written by the
    batch runner / ``validate`` CLI) and append (batch_id, constraint,
    part, psi, ks, ks_crit, failed) rows to ``<out_dir>/drift_stream``
    (categorical rows carry null ks/ks_crit).

    This is the online half of the cross-run drift design: the baseline is
    a metadata-sized histogram per constraint, so each micro-batch costs ONE
    histogram aggregation over its own rows — no state store, no rescan of
    history, and the same scorer as the batch path
    (operators/drift.py drift_vs_baseline). Returns the started query."""
    import os

    from unify_spark.operators.drift import baselined, drift_vs_baseline

    base_ctx = ctx or ValidationContext()
    if not baselined(constraints):
        raise ValueError(
            "drift monitor needs at least one drift constraint with contract "
            "buckets (numeric bounds or declared categories)"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tables = {c.table: batch_df for c in constraints}
        out = drift_vs_baseline(constraints, tables, base_ctx, baseline_dir)
        out.select(F.lit(batch_id).alias("batch_id"), "*").coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "drift_stream"))

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
