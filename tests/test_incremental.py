"""Cross-run incremental validation (plans/incremental.py): partition
content fingerprints, the audit-seeding planner, and end-to-end equivalence
with a full recompute."""

import os

import pytest
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.plans import ValidationRunner, audio_suite
from unify_spark.plans.incremental import (
    collect_fingerprints,
    diff_fingerprints,
    load_fingerprints,
    partition_fingerprints,
    plan_incremental,
    save_fingerprints,
)


def _fp_map(df, part_col="part_date", **kw):
    return {
        r["part"]: (r["n_rows"], str(r["fp_sum"]), r["fp_xor"])
        for r in partition_fingerprints(df, part_col, **kw).collect()
    }


def test_fingerprints_deterministic_and_partitioning_invariant(spark):
    df = spark.createDataFrame(
        [(f"c{i}", i % 7, f"2025-01-0{1 + i % 3}") for i in range(200)],
        "clip_id string, v int, part_date string",
    )
    a = _fp_map(df)
    b = _fp_map(df.repartition(13))  # physical layout must not matter
    c = _fp_map(df.orderBy(F.desc("clip_id")))
    assert a == b == c
    assert set(a) == {"2025-01-01", "2025-01-02", "2025-01-03"}


def test_fingerprints_catch_twin_rows_and_value_changes(spark):
    base = spark.createDataFrame(
        [("a", 1, "p"), ("b", 2, "p")], "clip_id string, v int, part_date string"
    )
    twin = spark.createDataFrame(
        [("a", 1, "p"), ("a", 1, "p"), ("b", 2, "p")],
        "clip_id string, v int, part_date string",
    )
    changed = spark.createDataFrame(
        [("a", 1, "p"), ("b", 3, "p")], "clip_id string, v int, part_date string"
    )
    fb, ft, fc = _fp_map(base), _fp_map(twin), _fp_map(changed)
    # a duplicated twin XORs to the same fp_xor — count and sum still move
    assert fb["p"] != ft["p"] and fb["p"] != fc["p"]


def test_fingerprints_binary_knob(spark):
    rows_a = [("a", bytearray(b"\x01\x02"), "p")]
    rows_b = [("a", bytearray(b"\x01\x03"), "p")]  # bytes-only change
    schema = "clip_id string, bytes binary, part_date string"
    da = spark.createDataFrame(rows_a, schema)
    db = spark.createDataFrame(rows_b, schema)
    assert _fp_map(da) != _fp_map(db)  # include_binary default catches it
    assert _fp_map(da, include_binary=False) == _fp_map(db, include_binary=False)


def test_fingerprints_whole_table_row_without_part_col(spark):
    df = spark.createDataFrame([("x", 1), ("y", 2)], "k string, v int")
    m = _fp_map(df)
    assert set(m) == {"__all__"}


def test_diff_buckets(spark):
    now = {"t": {"p1": [1, "10", 5], "p2": [2, "20", 6], "p4": [1, "9", 9]}}
    base = {"t": {"p1": [1, "10", 5], "p2": [2, "21", 6], "p3": [1, "8", 8]}}
    plan = diff_fingerprints(now, base)
    assert plan.unchanged["t"] == {"p1"}
    assert plan.changed["t"] == {"p2"}
    assert plan.added["t"] == {"p4"}
    assert plan.removed["t"] == {"p3"}


def test_save_load_roundtrip(tmp_path):
    fps = {"clips": {"p1": [3, "123", -9]}}
    save_fingerprints(str(tmp_path), fps)
    assert load_fingerprints(str(tmp_path)) == fps
    with pytest.raises(FileNotFoundError):
        load_fingerprints(str(tmp_path / "nope"))


@pytest.fixture()
def baseline_run(spark, audio_tables, tmp_path):
    """A completed full run whose out dir carries audit + fingerprints."""
    out = str(tmp_path / "base")
    runner = ValidationRunner(
        spark, out, ValidationContext(run_id="base", payload_cap_ms=50)
    )
    res = runner.run(audio_tables, audio_suite(), resume=False)
    save_fingerprints(out, collect_fingerprints(audio_tables))
    return out, res


def _mutate_partition(spark, tables, part):
    """A copy of the tables where ONE clips partition is rewritten: every
    codec in that partition flips to an out-of-domain value (new domain
    violations there; every other partition byte-identical)."""
    clips = tables["clips"].withColumn(
        "codec",
        F.when(F.col("part_date") == part, F.lit("codec_backfilled")).otherwise(
            F.col("codec")
        ),
    )
    return {**tables, "clips": clips}


def test_plan_incremental_decisions(spark, audio_tables, baseline_run):
    base_out, _ = baseline_run
    parts = sorted(
        r[0] for r in audio_tables["clips"].select("part_date").distinct().collect()
    )
    target = parts[0]
    tables2 = _mutate_partition(spark, audio_tables, target)
    plan, now_fps, seed_rows = plan_incremental(
        spark, tables2, audio_suite(), base_out
    )
    assert plan.baseline_run_id == "base"
    assert plan.changed["clips"] == {target}
    assert plan.unchanged["clips"] == set(parts) - {target}
    # every other table untouched
    for t in ("transcript_map", "codec_domain", "reference_decode"):
        assert not plan.changed[t] and not plan.added[t] and not plan.removed[t]
    # partition-local constraints seeded for every unchanged partition;
    # global ones (uniqueness/referential/equality/drift) never seeded
    assert set(plan.seeded) == {
        "domain:clips.codec",
        "range:clips.sr_hz",
        "range:clips.dur_ms",
        "required:clips.transcript",
        "payload:clips.bytes",
    }
    for c, ps in plan.seeded.items():
        assert sorted(ps) == sorted(set(parts) - {target}), c
    assert not plan.blocked
    # the payload stage's second emitted name is seeded too
    assert any(r["constraint"] == "required:clips.bytes" for r in seed_rows)


def test_aux_table_gate_blocks_only_dependent_constraints(
    spark, audio_tables, baseline_run
):
    base_out, _ = baseline_run
    # rewrite the codec_domain dim: the domain check must NOT be seeded,
    # while pure row-local clips checks (range/required) still seed
    dim = audio_tables["codec_domain"]
    tables2 = {**audio_tables, "codec_domain": dim.limit(max(dim.count() - 1, 1))}
    plan, _, _ = plan_incremental(spark, tables2, audio_suite(), base_out)
    assert "domain:clips.codec" in plan.blocked
    assert "domain:clips.codec" not in plan.seeded
    assert "range:clips.sr_hz" in plan.seeded
    assert "payload:clips.bytes" in plan.seeded  # reference_decode unchanged


def test_run_incremental_matches_full_recompute(
    spark, audio_tables, baseline_run, tmp_path
):
    base_out, base_res = baseline_run
    parts = sorted(
        r[0] for r in audio_tables["clips"].select("part_date").distinct().collect()
    )
    target = parts[1]
    tables2 = _mutate_partition(spark, audio_tables, target)

    inc_out = str(tmp_path / "inc")
    inc_runner = ValidationRunner(
        spark, inc_out, ValidationContext(run_id="inc", payload_cap_ms=50)
    )
    inc_res, plan = inc_runner.run_incremental(
        tables2, audio_suite(), base_out, fused=False
    )

    full_runner = ValidationRunner(
        spark,
        str(tmp_path / "full"),
        ValidationContext(run_id="full", payload_cap_ms=50),
    )
    full_res = full_runner.run(tables2, audio_suite(), resume=False)

    # identical verdict matrix and counts, run_ids aside
    assert {k: v for k, v in inc_res.verdicts.items()} == {
        k: v for k, v in full_res.verdicts.items()
    }
    assert inc_res.violation_counts == full_res.violation_counts
    assert not inc_res.errors

    # the recompute was genuinely partial: the domain constraint's violation
    # files under the incremental out dir hold ONLY the changed partition
    # (the baseline has domain violations in several partitions — those
    # verdicts were seeded, their evidence stays in the baseline out dir)
    vio_dir = os.path.join(inc_out, "violations", "domain_clips.codec")
    vio_parts = {
        r["part"] for r in spark.read.parquet(vio_dir).select("part").collect()
    }
    assert vio_parts == {target}
    base_vio_parts = {
        r["part"]
        for r in spark.read.parquet(
            os.path.join(base_out, "violations", "domain_clips.codec")
        )
        .select("part")
        .collect()
    }
    assert len(base_vio_parts) > 1  # the skip actually skipped real work

    # chaining: the incremental run saved its own fingerprints
    assert os.path.exists(os.path.join(inc_out, "part_fingerprints.json"))
    assert plan.changed["clips"] == {target}


def test_run_incremental_fused_matches_full(spark, audio_tables, baseline_run, tmp_path):
    base_out, _ = baseline_run
    parts = sorted(
        r[0] for r in audio_tables["clips"].select("part_date").distinct().collect()
    )
    tables2 = _mutate_partition(spark, audio_tables, parts[2])
    inc_runner = ValidationRunner(
        spark,
        str(tmp_path / "incf"),
        ValidationContext(run_id="incf", payload_cap_ms=50),
    )
    inc_res, _ = inc_runner.run_incremental(tables2, audio_suite(), base_out, fused=True)
    full_runner = ValidationRunner(
        spark,
        str(tmp_path / "fullf"),
        ValidationContext(run_id="fullf", payload_cap_ms=50),
    )
    full_res = full_runner.run_fused(tables2, audio_suite(), resume=False)
    assert inc_res.verdicts == full_res.verdicts
    assert inc_res.violation_counts == full_res.violation_counts


def test_cli_incremental_chain(fixture_dir, tmp_path, capsys):
    """CLI end-to-end: a plain `validate` saves the fingerprint sidecar by
    default; a second `validate --incremental-from <out1>` on identical
    input seeds every partition-local constraint from it (the report's
    incremental block shows zero changed partitions) and reproduces the
    baseline's counts."""
    import json as _json

    from unify_spark import cli

    tables_args = [
        f"clips={os.path.join(fixture_dir, 'clips')}",
        f"transcript_map={os.path.join(fixture_dir, 'transcript_map.parquet')}",
        f"codec_domain={os.path.join(fixture_dir, 'codec_domain.parquet')}",
        f"reference_decode={os.path.join(fixture_dir, 'reference_decode.parquet')}",
    ]
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    rc1 = cli.main(
        ["validate", "--tables", *tables_args, "--out", out1, "--run-id", "r1"]
    )
    o = capsys.readouterr().out
    rep1 = _json.loads(o[o.index("{"):])
    assert rc1 == 1  # fixture has injected violations
    assert os.path.exists(os.path.join(out1, "part_fingerprints.json"))

    rc2 = cli.main(
        [
            "validate",
            "--tables",
            *tables_args,
            "--out",
            out2,
            "--run-id",
            "r2",
            "--incremental-from",
            out1,
        ]
    )
    o = capsys.readouterr().out
    rep2 = _json.loads(o[o.index("{"):])
    assert rc2 == 1
    inc = rep2["incremental"]
    assert inc["baseline_run_id"] == "r1"
    assert inc["tables"]["clips"]["changed"] == 0
    assert inc["tables"]["clips"]["unchanged"] > 0
    assert inc["seeded"]  # partition-local constraints inherited verdicts
    assert rep2["violation_counts"] == rep1["violation_counts"]
    # the incremental run chains: its own sidecar was saved
    assert os.path.exists(os.path.join(out2, "part_fingerprints.json"))


@pytest.mark.parametrize("fused", [False, True])
def test_zero_diff_seeds_global_constraints(
    spark, audio_tables, baseline_run, tmp_path, fused
):
    """When NO table changed (the daily "did anything change" re-run), even
    global constraints (uniqueness/referential/equality/drift) seed from the
    baseline — the whole re-validation is metadata-only: every stage skips,
    and every stage's 'done' marker and rows_checked equal the baseline's."""
    from unify_spark.plans.audit import AuditLog

    base_out, base_res = baseline_run
    suite = audio_suite()
    plan, _, seed_rows = plan_incremental(spark, audio_tables, suite, base_out)
    assert plan.zero_diff
    all_names = {c.name for c in suite}
    assert set(plan.seeded) == all_names  # globals included
    assert not plan.blocked
    # a stage-done row is seeded for every GLOBAL constraint (locals get
    # theirs from the runner's own pending-empty path)
    done_rows = {r["constraint"] for r in seed_rows if r["status"] == "done"}
    globals_ = {c.name for c in suite if not getattr(c, "partition_local", False)}
    assert done_rows == globals_

    inc_out = str(tmp_path / "zd")
    runner = ValidationRunner(
        spark, inc_out, ValidationContext(run_id="zd", payload_cap_ms=50)
    )
    res, plan2 = runner.run_incremental(audio_tables, suite, base_out, fused=fused)
    assert plan2.zero_diff
    assert set(res.skipped) == all_names  # nothing recomputed
    assert res.violation_counts == base_res.violation_counts
    assert res.verdicts == base_res.verdicts
    assert res.rows_checked == base_res.rows_checked
    assert not res.errors and not os.path.exists(os.path.join(inc_out, "violations"))

    def done_counts(out, run_id):
        rows = AuditLog(spark, os.path.join(out, "audit")).read().filter(
            (F.col("run_id") == run_id) & (F.col("status") == "done")
        )
        return {r["constraint"]: r["violation_count"] for r in rows.collect()}

    assert done_counts(inc_out, "zd") == done_counts(base_out, "base")


@pytest.mark.parametrize("kind", ["range", "uniqueness"])
@pytest.mark.parametrize("fused", [False, True])
def test_zero_diff_keeps_rate_tolerance(spark, tmp_path, fused, kind):
    """A dataset that passes only thanks to max_violation_rate still passes
    on a zero-diff re-run: the seeded stages keep their rows_checked, the
    rate's denominator."""
    from unify_spark.operators.constraints import RangeConstraint, UniquenessConstraint

    rows = [(f"k{i}", float(i), f"p{i % 4}") for i in range(100)]
    rows[7] = ("k7", -1.0, "p3")  # 1 range violation
    rows[9] = ("k8", 9.0, "p1")  # k8 twice: 2 uniqueness violations
    tables = {"t": spark.createDataFrame(rows, ["clip_id", "val", "part_date"])}
    c = (
        RangeConstraint("t", "val", min_value=0.0)
        if kind == "range"
        else UniquenessConstraint("t", ["clip_id"])
    )
    c.max_violation_rate = 0.05

    base_out = str(tmp_path / "base")
    base = ValidationRunner(spark, base_out, ValidationContext(run_id="b")).run(
        tables, [c], resume=False
    )
    save_fingerprints(base_out, collect_fingerprints(tables))
    assert base.passed and base.total_violations == (1 if kind == "range" else 2)

    runner = ValidationRunner(spark, str(tmp_path / "zd"), ValidationContext(run_id="zd"))
    res, plan = runner.run_incremental(tables, [c], base_out, fused=fused)
    assert plan.zero_diff and res.skipped == [c.name]
    assert res.rows_checked == base.rows_checked == {c.name: 100}
    assert res.passed and not res.blocking and res.tolerated == base.tolerated


def test_zero_diff_gate_requires_completed_baseline_stage(
    spark, audio_tables, tmp_path
):
    """A global constraint absent from (or incomplete in) the baseline run
    re-runs even under zero diff."""
    base_out = str(tmp_path / "subset_base")
    subset = [c for c in audio_suite() if not c.name.startswith("drift:")]
    runner = ValidationRunner(
        spark, base_out, ValidationContext(run_id="sb", payload_cap_ms=50)
    )
    runner.run(audio_tables, subset, resume=False)
    save_fingerprints(base_out, collect_fingerprints(audio_tables))

    full = audio_suite()
    drift_names = {c.name for c in full if c.name.startswith("drift:")}
    plan, _, _ = plan_incremental(spark, audio_tables, full, base_out)
    assert plan.zero_diff
    assert drift_names.isdisjoint(set(plan.seeded))  # not in baseline -> re-run
    assert set(plan.seeded) == {c.name for c in full} - drift_names


def test_single_changed_partition_disables_global_seeding(
    spark, audio_tables, baseline_run
):
    base_out, _ = baseline_run
    parts = sorted(
        r[0] for r in audio_tables["clips"].select("part_date").distinct().collect()
    )
    tables2 = _mutate_partition(spark, audio_tables, parts[0])
    plan, _, seed_rows = plan_incremental(spark, tables2, audio_suite(), base_out)
    assert not plan.zero_diff
    assert "uniqueness:clips.clip_id" not in plan.seeded
    assert not any(r["status"] == "done" for r in seed_rows)


def test_incremental_quarantine_matches_full_recompute(
    spark, audio_tables, tmp_path
):
    """Quarantine after an incremental run must be row-complete: seeded
    partitions' violating keys compose in from the baseline's sidecar."""
    base_out = str(tmp_path / "qbase")
    base_runner = ValidationRunner(
        spark,
        base_out,
        ValidationContext(run_id="qb", payload_cap_ms=50, collect_violating_keys=True),
    )
    base_runner.run_fused(audio_tables, audio_suite(), resume=False)
    save_fingerprints(base_out, collect_fingerprints(audio_tables))

    parts = sorted(
        r[0] for r in audio_tables["clips"].select("part_date").distinct().collect()
    )
    tables2 = _mutate_partition(spark, audio_tables, parts[0])

    inc_runner = ValidationRunner(
        spark,
        str(tmp_path / "qinc"),
        ValidationContext(run_id="qi", payload_cap_ms=50, collect_violating_keys=True),
    )
    inc_runner.run_incremental(tables2, audio_suite(), base_out)
    _, inc_bad = inc_runner.split_valid(
        tables2["clips"], "clips", "clip_id", constraints=audio_suite()
    )

    full_runner = ValidationRunner(
        spark,
        str(tmp_path / "qfull"),
        ValidationContext(run_id="qf", payload_cap_ms=50, collect_violating_keys=True),
    )
    full_runner.run_fused(tables2, audio_suite(), resume=False)
    _, full_bad = full_runner.split_valid(
        tables2["clips"], "clips", "clip_id", constraints=audio_suite()
    )

    inc_keys = {r["clip_id"] for r in inc_bad.select("clip_id").distinct().collect()}
    full_keys = {r["clip_id"] for r in full_bad.select("clip_id").distinct().collect()}
    assert inc_keys == full_keys and full_keys
    # and the seeded partitions genuinely contributed keys (the baseline has
    # violations outside the mutated partition)
    outside = {
        r["clip_id"]
        for r in inc_bad.filter(F.col("part_date") != parts[0])
        .select("clip_id")
        .distinct()
        .collect()
    }
    assert outside


def test_incremental_quarantine_requires_baseline_sidecar(
    spark, audio_tables, baseline_run, tmp_path
):
    """baseline_run did NOT collect violating keys — composing must fail
    loudly, not under-quarantine silently."""
    base_out, _ = baseline_run
    runner = ValidationRunner(
        spark,
        str(tmp_path / "nq"),
        ValidationContext(run_id="nq", payload_cap_ms=50, collect_violating_keys=True),
    )
    with pytest.raises(FileNotFoundError, match="violating_keys"):
        runner.run_incremental(audio_tables, audio_suite(), base_out)


def test_config_fingerprint_stable_and_sensitive():
    from unify_spark.operators.payload import AudioPayloadConstraint

    a = AudioPayloadConstraint(snr_threshold_db=30.0)
    b = AudioPayloadConstraint(snr_threshold_db=30.0)
    c = AudioPayloadConstraint(snr_threshold_db=25.0)
    d = AudioPayloadConstraint(snr_threshold_db=30.0, sample_rate=0.5)
    assert a.config_fingerprint() == b.config_fingerprint()
    assert a.config_fingerprint() != c.config_fingerprint()
    assert a.config_fingerprint() != d.config_fingerprint()


def test_retuned_constraint_not_seeded(spark, audio_tables, tmp_path):
    """Identical data, retuned constraint: the config-fingerprint gate must
    block seeding (the stale-verdict hole data fingerprints can't see)."""
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans.suite import DUR_MAX_MS

    base_out = str(tmp_path / "cfg_base")
    runner = ValidationRunner(
        spark, base_out, ValidationContext(run_id="cb", payload_cap_ms=50)
    )
    suite = audio_suite()
    runner.run(audio_tables, suite, resume=False)
    save_fingerprints(base_out, collect_fingerprints(audio_tables), constraints=suite)

    retuned = [
        RangeConstraint("clips", "dur_ms", min_value=0, max_value=DUR_MAX_MS // 2,
                        min_exclusive=True)
        if c.name == "range:clips.dur_ms"
        else c
        for c in audio_suite()
    ]
    plan, _, _ = plan_incremental(spark, audio_tables, retuned, base_out)
    assert plan.zero_diff  # data identical
    assert plan.blocked.get("range:clips.dur_ms") == (
        "constraint config changed since baseline"
    )
    assert "range:clips.dur_ms" not in plan.seeded
    # untouched constraints still seed, globals included (zero diff)
    assert "range:clips.sr_hz" in plan.seeded
    assert "uniqueness:clips.clip_id" in plan.seeded

    # and a baseline WITHOUT recorded config fingerprints gates on data only
    base2 = str(tmp_path / "nofp_base")
    r2 = ValidationRunner(
        spark, base2, ValidationContext(run_id="nb", payload_cap_ms=50)
    )
    r2.run(audio_tables, audio_suite(), resume=False)
    save_fingerprints(base2, collect_fingerprints(audio_tables))
    plan2, _, _ = plan_incremental(spark, audio_tables, retuned, base2)
    assert "range:clips.dur_ms" not in plan2.blocked  # documented degradation


def test_wall_clock_freshness_not_seeded_on_zero_diff(spark, tmp_path):
    """Advisor round-5 fix: FreshnessConstraint with ref=None depends on
    the wall clock, so a zero-diff chained re-run must RE-RUN it instead
    of seeding the baseline's 'pass' — the stalled-pipeline scenario is
    exactly the zero-diff case. Pure (ref-pinned) constraints still seed."""
    from unify_spark.operators.constraints import (
        FreshnessConstraint,
        UniquenessConstraint,
    )

    df = spark.createDataFrame(
        [(i, "2026-08-22 00:00:00", f"p{i % 2}") for i in range(40)],
        "id bigint, ts string, part_date string",
    )
    tables = {"t": df}
    suite = [
        UniquenessConstraint("t", ["id"]),
        FreshnessConstraint("t", "ts", max_age_hours=10_000_000, ref=None),
    ]
    assert FreshnessConstraint("t", "ts", 1, ref="2026-08-22").seedable
    assert not FreshnessConstraint("t", "ts", 1, ref=None).seedable

    base_out = str(tmp_path / "fresh_base")
    runner = ValidationRunner(
        spark, base_out, ValidationContext(run_id="fb")
    )
    runner.run(tables, suite, resume=False)
    save_fingerprints(base_out, collect_fingerprints(tables), constraints=suite)

    plan, _, _ = plan_incremental(spark, tables, suite, base_out)
    assert plan.zero_diff
    assert "uniqueness:t.id" in plan.seeded
    assert "freshness:t.ts" not in plan.seeded
