"""Fused vs staged execution equivalence + resume semantics."""

import pytest

from unify_spark.operators.base import ValidationContext
from unify_spark.plans import ValidationRunner, audio_suite
from unify_spark.plans.audit import AuditLog
from unify_spark.plans.history import MetricsRepository


def test_fused_equals_staged(spark, audio_tables, manifest, tmp_path):
    ctx_a = ValidationContext(run_id="staged", payload_cap_ms=50)
    staged = ValidationRunner(spark, str(tmp_path / "a"), ctx_a).run(
        audio_tables, audio_suite(), resume=False
    )
    ctx_b = ValidationContext(run_id="fused", payload_cap_ms=50)
    fused = ValidationRunner(spark, str(tmp_path / "b"), ctx_b).run_fused(
        audio_tables, audio_suite(), resume=False
    )
    assert fused.violation_counts == staged.violation_counts
    assert fused.verdicts == staged.verdicts


def test_fused_resume_skips_everything(spark, audio_tables, tmp_path):
    ctx = ValidationContext(run_id="fused-resume", payload_cap_ms=50)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    first = runner.run_fused(audio_tables, audio_suite(), resume=True)
    assert not first.skipped
    second = runner.run_fused(audio_tables, audio_suite(), resume=True)
    assert len(second.skipped) == len(audio_suite())
    # resumed runs hydrate prior results from the audit: same counts, same
    # pass/fail outcome (a failed dataset must NOT re-report as clean)
    assert second.violation_counts == first.violation_counts
    assert second.passed == first.passed


def test_staged_resume_and_fail_fast(spark, audio_tables, tmp_path):
    ctx = ValidationContext(run_id="ff", payload_cap_ms=50, fail_fast=True)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    res = runner.run(audio_tables, audio_suite(), resume=False)
    # fail-fast: first failing stage (uniqueness) kills the run
    assert len(res.violation_counts) == 1
    assert next(iter(res.violation_counts)).startswith("uniqueness:")


def test_fused_fail_fast_stops_later_waves(spark, tmp_path):
    """fail_fast under run_fused: the first wave emits violations, so the
    second dependency wave never runs — not run, not gated, not audited."""
    from unify_spark.operators.constraints import RangeConstraint

    df = spark.createDataFrame(
        [("a", -1.0, 1.0, 1.0, "p1")], ["clip_id", "val", "other", "late", "part_date"]
    )
    fails = RangeConstraint("t", "val", min_value=0.0)
    passes = RangeConstraint("t", "other", min_value=0.0)
    later = RangeConstraint("t", "late", min_value=0.0)
    later.depends_on = [passes.name]
    ctx = ValidationContext(run_id="fff", fail_fast=True)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    res = runner.run_fused({"t": df}, [fails, passes, later], resume=False)
    assert res.violation_counts == {fails.name: 1, passes.name: 0}
    assert not res.gated and not res.errors
    assert all(name != later.name for name, _ in res.verdicts)
    assert runner.audit.completed_constraints("fff") == {fails.name, passes.name}


@pytest.mark.parametrize("mode", ["run", "run_fused"])
def test_stage_error_trapped_and_reported(spark, tmp_path, mode):
    """Uncaught-exception trap: a throwing stage becomes an 'error' audit row
    and res.errors; other stages still run; passed is False. One culprit
    raises while its plan is built, the other only when its job runs (a
    Python UDF), in a later dependency level: a fused wave that raises
    either way re-runs stage by stage."""
    from pyspark.sql import functions as F

    from unify_spark.operators.base import Constraint
    from unify_spark.operators.constraints import RangeConstraint

    class Boom(Constraint):
        name = "boom:t"
        table = "t"

        def violations(self, tables, ctx):
            raise RuntimeError("kapow")

    class BoomJob(Constraint):
        name = "boom_job:t"
        table = "t"
        depends_on = ["range:t.val"]

        def violations(self, tables, ctx):
            @F.udf("double")
            def explode(v):
                raise RuntimeError("kaboom")

            t = {"t": tables["t"].withColumn("val", explode("val"))}
            vio = RangeConstraint("t", "val", min_value=0.0).violations(t, ctx)
            return vio.withColumn("constraint", F.lit(self.name))

    df = spark.createDataFrame([("a", 1.0, "p1")], ["clip_id", "val", "part_date"])
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="e"))
    res = getattr(runner, mode)(
        {"t": df}, [Boom(), RangeConstraint("t", "val", min_value=0.0), BoomJob()]
    )
    assert res.errors["boom:t"] == "RuntimeError: kapow"
    assert set(res.errors) == {"boom:t", "boom_job:t"}
    assert "kaboom" in res.errors["boom_job:t"]
    assert not res.passed and res.total_violations == 0
    assert ("range:t.val", "p1") in res.verdicts  # other stage completed
    stages = {
        r["constraint"]: r["status"]
        for r in runner.audit.read().filter("part IS NULL").collect()
    }
    assert stages == {"boom:t": "error", "boom_job:t": "error", "range:t.val": "done"}


@pytest.mark.parametrize("mode", ["run", "run_fused"])
def test_unknown_dependency_raises_before_any_job(spark, tmp_path, mode):
    """depends_on config errors surface before any Spark job: the table's
    partition column raises as soon as anything evaluates it."""
    from pyspark.sql import functions as F

    from unify_spark.operators.constraints import RangeConstraint

    df = spark.range(3).select(
        F.col("id").cast("double").alias("val"),
        F.raise_error(F.lit("frame evaluated")).cast("string").alias("part_date"),
    )
    c = RangeConstraint("t", "val", min_value=0.0)
    c.depends_on = ["nope"]
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="u"))
    with pytest.raises(ValueError, match="unknown"):
        getattr(runner, mode)({"t": df}, [c])


# Both run-keyed tables, each appending one row through its own signature.
_TABLES = {
    "audit": (
        AuditLog,
        lambda t: t.append(
            [{"run_id": "r", "constraint": "c", "part": None, "status": "done",
              "violation_count": 0}],
            backoff_s=0.01,
        ),
    ),
    "metrics": (
        MetricsRepository,
        lambda t: t.append([("clips", "*", "dur_ms", "max", "1.0")], "r", backoff_s=0.01),
    ),
}


@pytest.mark.parametrize("kind", sorted(_TABLES))
def test_audit_append_retries_transient_failures(spark, tmp_path, monkeypatch, kind):
    cls, append_one = _TABLES[kind]
    table = cls(spark, str(tmp_path / kind))
    calls = {"n": 0}
    real = cls._write

    def flaky(self, tbl, batch, is_retry=False):
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient store hiccup")
        return real(self, tbl, batch, is_retry)

    monkeypatch.setattr(cls, "_write", flaky)
    append_one(table)
    assert calls["n"] == 3
    rows = table.read().collect()
    assert [r["run_id"] for r in rows] == ["r"]
    assert len({r["batch_id"] for r in rows}) == 1
    if kind == "audit":
        assert table.completed_constraints("r") == {"c"}


@pytest.mark.parametrize("kind", sorted(_TABLES))
def test_audit_append_idempotent_under_ambiguous_failure(spark, tmp_path, monkeypatch, kind):
    """An append whose write COMMITTED but whose ack was lost must not
    double lineage on retry: the batch_id is minted once per append(), so
    the retry rewrites the same batch file instead of adding a second."""
    cls, append_one = _TABLES[kind]
    table = cls(spark, str(tmp_path / kind))
    calls = {"n": 0}
    real = cls._write

    def committed_but_unacked(self, tbl, batch, is_retry=False):
        calls["n"] += 1
        real(self, tbl, batch, is_retry)  # the write lands...
        if calls["n"] == 1:
            raise OSError("ack lost")      # ...but the caller never hears
        return None

    monkeypatch.setattr(cls, "_write", committed_but_unacked)
    append_one(table)
    assert calls["n"] == 2
    rows = table.read().collect()
    assert len(rows) == 1                     # no duplicate lineage row
    assert len({r["batch_id"] for r in rows}) == 1


def test_violation_write_retries_transient_failures(spark, tmp_path, monkeypatch):
    """A transient sink failure during the violation parquet write is
    retried with backoff instead of aborting the stage (retry.py taxonomy;
    reference transact.clj:46-82)."""
    from pyspark.sql import functions as F

    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans import ValidationRunner
    from unify_spark.plans import retry as retry_mod

    df = spark.createDataFrame([(1, -5.0), (2, 3.0)], ["k", "v"])
    calls = {"n": 0}
    real = retry_mod.with_retries

    def flaky_once(fn, **kw):
        def wrapped():
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("transient object-store hiccup")
            return fn()

        return real(wrapped, base_backoff_s=0.01)

    import unify_spark.plans.runner as runner_mod

    monkeypatch.setattr(runner_mod, "with_retries", flaky_once)
    runner = ValidationRunner(spark, str(tmp_path / "out"), ValidationContext(run_id="rt"))
    res = runner.run(
        {"t": df}, [RangeConstraint("t", "v", min_value=0)], resume=False
    )
    assert calls["n"] >= 2  # first attempt failed, retry succeeded
    assert res.violation_counts and sum(res.violation_counts.values()) == 1
    vio = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert vio.filter(vio.constraint == "range:t.v").count() == 1


def test_retry_taxonomy_fatal_not_retried():
    import pytest

    from unify_spark.plans.retry import retryable, with_retries

    assert retryable(OSError("disk wobble"))
    assert retryable(RuntimeError("java.io.IOException: connection reset by peer"))
    assert not retryable(ValueError("bad plan"))

    # deterministic OSError subclasses must NOT retry — each retry re-runs a
    # whole Spark sink job while the real error (missing path, permission,
    # full disk) is delayed by the backoff schedule
    import errno

    assert not retryable(FileNotFoundError("gone"))
    assert not retryable(PermissionError("denied"))
    assert not retryable(IsADirectoryError("dir"))
    assert not retryable(NotADirectoryError("file"))
    enospc = OSError(errno.ENOSPC, "No space left on device")
    assert not retryable(enospc)

    calls = {"n": 0}

    def fatal():
        calls["n"] += 1
        raise ValueError("logic error")

    with pytest.raises(ValueError):
        with_retries(fatal, base_backoff_s=0.001)
    assert calls["n"] == 1  # fatal → no retries


def test_violating_keys_sidecar_is_uncapped(spark, audio_tables, tmp_path):
    """The quarantine split's input must be row-complete: with a tiny
    evidence cap, the violating_keys sidecar still carries EVERY distinct
    violating key (the capped evidence files cannot drive a clean split)."""
    ctx = ValidationContext(
        run_id="qk", payload_cap_ms=50, violation_cap=5, collect_violating_keys=True
    )
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    res = runner.run_fused(audio_tables, audio_suite(), resume=False)
    keys = runner.violating_keys()
    uniq = keys.filter(
        keys.constraint == "uniqueness:clips.clip_id"
    ).select("key").distinct().count()
    assert uniq > 5  # far above the evidence cap
    assert uniq <= res.violation_counts["uniqueness:clips.clip_id"]
    # staged mode writes the same key set
    runner2 = ValidationRunner(
        spark,
        str(tmp_path / "staged"),
        ValidationContext(
            run_id="qk2", payload_cap_ms=50, violation_cap=5,
            collect_violating_keys=True,
        ),
    )
    runner2.run(audio_tables, audio_suite(), resume=False)
    a = {(r["constraint"], r["table"], r["key"]) for r in keys.collect()}
    b = {(r["constraint"], r["table"], r["key"]) for r in runner2.violating_keys().collect()}
    assert a == b



def test_fused_row_local_keys_match_staged(spark, tmp_path):
    """A fused row-local bundle keys each constraint's violations by the
    column its own plan keys by: composite-id rows by their id column, not
    the table's first column. Both modes then quarantine the same rows."""
    from unify_spark.operators.constraints import CompositeIdConstraint, RangeConstraint

    df = spark.createDataFrame(
        [("r1", "a-1", "a", 1, 0.5, "p1"), ("r2", "b-9", "b", 2, 0.5, "p1")],
        ["row", "sample_id", "x", "y", "v", "part_date"],
    )
    suite = [
        CompositeIdConstraint("t", "sample_id", ["x", "y"]),
        RangeConstraint("t", "v", min_value=0.0),
    ]
    keys, quarantined = {}, {}
    for mode in ("run", "run_fused"):
        runner = ValidationRunner(
            spark, str(tmp_path / mode),
            ValidationContext(run_id=mode, collect_violating_keys=True),
        )
        getattr(runner, mode)({"t": df}, suite, resume=False)
        keys[mode] = {
            (r["constraint"], r["key"]) for r in runner.violating_keys().collect()
        }
        _, q = runner.split_valid(df, "t", "sample_id")
        quarantined[mode] = sorted(r["sample_id"] for r in q.collect())
    assert keys["run"] == {("composite_id:t.sample_id", "b-9")}
    assert keys["run_fused"] == keys["run"]
    assert quarantined["run"] == quarantined["run_fused"] == ["b-9"]

def test_split_valid_partitions_table_exactly(spark, audio_tables, tmp_path):
    """clean + quarantined partition the table; quarantined == rows whose
    key appears in a row-grain clips violation; drift (partition-grain) is
    excluded from row addressing."""
    ctx = ValidationContext(
        run_id="qs", payload_cap_ms=50, collect_violating_keys=True
    )
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    runner.run_fused(audio_tables, audio_suite(), resume=False)
    clips = audio_tables["clips"]
    clean, bad = runner.split_valid(clips, "clips", "clip_id", constraints=audio_suite())
    n, nc, nb = clips.count(), clean.count(), bad.count()
    assert nc + nb == n and nb > 0
    # exact expected key set: every clips-table violation key except drift's
    expect = {
        r["key"]
        for r in runner.violating_keys()
        .filter("table = 'clips' AND constraint NOT LIKE 'drift:%'")
        .collect()
        if r["key"] is not None
    }
    got = {r["clip_id"] for r in bad.select("clip_id").distinct().collect()}
    assert got == expect
    # no overlap between the two sides
    assert clean.join(bad, on="clip_id", how="left_semi").count() == 0


def test_cli_quarantine_to(fixture_dir, tmp_path, capsys):
    import json as _json
    import os as _os

    from unify_spark import cli

    tables_args = [
        f"clips={_os.path.join(fixture_dir, 'clips')}",
        f"transcript_map={_os.path.join(fixture_dir, 'transcript_map.parquet')}",
        f"codec_domain={_os.path.join(fixture_dir, 'codec_domain.parquet')}",
        f"reference_decode={_os.path.join(fixture_dir, 'reference_decode.parquet')}",
    ]
    out, q = str(tmp_path / "out"), str(tmp_path / "q")
    rc = cli.main(
        ["validate", "--tables", *tables_args, "--out", out, "--run-id", "rq",
         "--fused", "--quarantine-to", q]
    )
    o = capsys.readouterr().out
    rep = _json.loads(o[o.index("{"):])
    assert rc == 1
    qr = rep["quarantine"]
    assert qr["quarantined_rows"] > 0
    from unify_spark.session import get_spark

    spark = get_spark()
    total = spark.read.parquet(_os.path.join(fixture_dir, "clips")).count()
    assert qr["clean_rows"] + qr["quarantined_rows"] == total
    assert _os.path.exists(_os.path.join(q, "clean"))
    assert _os.path.exists(_os.path.join(q, "quarantined"))


def test_severity_and_tolerance(spark, audio_tables, tmp_path):
    """Deequ-assertion analogue: warn-severity violations never fail the
    run, error-severity counts within max_violations/max_violation_rate are
    tolerated, one over blocks — and with nothing declared the legacy
    zero-tolerance rule is reproduced exactly. Per-partition verdicts stay
    EXACT either way (lineage is never softened)."""
    from unify_spark.operators.constraints import RangeConstraint

    def range_c(**attrs):
        c = RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000,
                            min_exclusive=True)
        for k, v in attrs.items():
            setattr(c, k, v)
        return c

    ctx = ValidationContext(run_id="sv0", payload_cap_ms=50)
    base = ValidationRunner(spark, str(tmp_path / "0"), ctx).run(
        audio_tables, [range_c()], resume=False
    )
    n = base.violation_counts["range:clips.dur_ms"]
    rows = base.rows_checked["range:clips.dur_ms"]
    assert n > 0 and rows > n
    # legacy rule: no severity/tolerance declared -> any violation blocks
    assert not base.passed and base.blocking == {"range:clips.dur_ms": n}
    assert base.tolerated == {} and base.warn_counts == {}

    # absolute tolerance: exactly-n passes, n-1 blocks
    ok = ValidationRunner(
        spark, str(tmp_path / "1"), ValidationContext(run_id="sv1", payload_cap_ms=50)
    ).run(audio_tables, [range_c(max_violations=n)], resume=False)
    assert ok.passed and ok.tolerated == {"range:clips.dur_ms": n} and not ok.blocking
    tight = ValidationRunner(
        spark, str(tmp_path / "2"), ValidationContext(run_id="sv2", payload_cap_ms=50)
    ).run(audio_tables, [range_c(max_violations=n - 1)], resume=False)
    assert not tight.passed and tight.blocking == {"range:clips.dur_ms": n}

    # rate tolerance: floor(rate*rows) >= n passes, below blocks
    rate_ok = ValidationRunner(
        spark, str(tmp_path / "3"), ValidationContext(run_id="sv3", payload_cap_ms=50)
    ).run(audio_tables, [range_c(max_violation_rate=n / rows)], resume=False)
    assert rate_ok.passed
    rate_bad = ValidationRunner(
        spark, str(tmp_path / "4"), ValidationContext(run_id="sv4", payload_cap_ms=50)
    ).run(audio_tables, [range_c(max_violation_rate=(n - 1) / rows)], resume=False)
    assert not rate_bad.passed

    # warn severity: recorded, never blocking; partition verdicts stay exact
    warn = ValidationRunner(
        spark, str(tmp_path / "5"), ValidationContext(run_id="sv5", payload_cap_ms=50)
    ).run(audio_tables, [range_c(severity="warn")], resume=False)
    assert warn.passed and warn.warn_counts == {"range:clips.dur_ms": n}
    assert any(v is False for v in warn.verdicts.values())

    # fused path classifies identically
    fused = ValidationRunner(
        spark, str(tmp_path / "6"), ValidationContext(run_id="sv6", payload_cap_ms=50)
    ).run_fused(audio_tables, [range_c(max_violations=n)], resume=False)
    assert fused.passed and fused.tolerated == {"range:clips.dur_ms": n}

    # resumed run re-applies the CURRENT constraint's severity over
    # hydrated counts
    resumed = ValidationRunner(
        spark, str(tmp_path / "5"), ValidationContext(run_id="sv5", payload_cap_ms=50)
    ).run(audio_tables, [range_c(severity="warn")], resume=True)
    assert resumed.skipped and resumed.passed and resumed.warn_counts


def test_severity_config_keys(tmp_path):
    """severity/max_violation_rate/max_violations are generic config keys on
    any constraint spec; invalid values are rejected."""
    import pytest as _pytest

    from unify_spark.plans.config import _build_constraint

    c = _build_constraint(
        {"type": "range", "table": "clips", "column": "dur_ms", "min": 0,
         "max": 30000, "severity": "warn", "max_violation_rate": 0.001,
         "max_violations": 5}
    )
    assert c.severity == "warn" and c.max_violation_rate == 0.001 and c.max_violations == 5
    assert c.allowed_violations(100_000) == 100  # rate dominates
    assert c.allowed_violations(100) == 5        # absolute floor dominates

    d = _build_constraint({"type": "range", "table": "clips", "column": "dur_ms", "max": 1})
    assert d.severity == "error" and d.allowed_violations(10**12) == 0

    with _pytest.raises(ValueError):
        _build_constraint({"type": "range", "table": "t", "column": "c",
                           "max": 1, "severity": "fatal"})
    with _pytest.raises(ValueError):
        _build_constraint({"type": "range", "table": "t", "column": "c",
                           "max": 1, "max_violation_rate": 1.5})


def test_depends_on_gating(spark, audio_tables, tmp_path):
    """Cost-control gating: a stage whose dependency blocked is recorded
    'gated' (NOT 'done' — a resumed run retries it), a passing / warn /
    within-tolerance dependency lets it run, gating is transitive, and
    unknown names / cycles are config errors raised before any job."""
    from unify_spark.operators.constraints import (
        RangeConstraint,
        RequiredConstraint,
        UniquenessConstraint,
    )
    from unify_spark.plans.runner import _dep_levels

    def rng(**attrs):  # fixture has dur_ms violations -> blocking by default
        c = RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000,
                            min_exclusive=True)
        for k, v in attrs.items():
            setattr(c, k, v)
        return c

    def req(deps):
        c = RequiredConstraint("clips", ["transcript"])
        c.depends_on = deps
        return c

    def uniq(deps=None):
        c = UniquenessConstraint("clips", ["clip_id"])
        if deps:
            c.depends_on = deps
        return c

    # blocked dependency gates the dependent, transitively
    suite = [rng(), req(["range:clips.dur_ms"]), uniq(["required:clips.transcript"])]
    res = ValidationRunner(
        spark, str(tmp_path / "g1"), ValidationContext(run_id="g1", payload_cap_ms=50)
    ).run(audio_tables, suite, resume=False)
    assert res.gated == {
        "required:clips.transcript": ["range:clips.dur_ms"],
        "uniqueness:clips.clip_id": ["required:clips.transcript"],
    }
    assert "required:clips.transcript" not in res.violation_counts
    # gated stages are not 'done': a resumed run retries them
    import os

    audit = AuditLog(spark, os.path.join(str(tmp_path / "g1"), "audit"))
    assert "required:clips.transcript" not in audit.completed_constraints("g1")
    res2 = ValidationRunner(
        spark, str(tmp_path / "g1"), ValidationContext(run_id="g1", payload_cap_ms=50)
    ).run(audio_tables, suite, resume=True)
    assert "range:clips.dur_ms" in res2.skipped  # the dep itself resumed
    assert res2.gated  # still blocked -> gated again, not silently done

    # warn-severity and within-tolerance dependencies do NOT gate
    for dep_kw in ({"severity": "warn"}, {"max_violations": 10**9}):
        r = ValidationRunner(
            spark, str(tmp_path / f"g2{list(dep_kw)[0]}"),
            ValidationContext(run_id="g2", payload_cap_ms=50),
        ).run(audio_tables, [rng(**dep_kw), req(["range:clips.dur_ms"])], resume=False)
        assert r.gated == {} and "required:clips.transcript" in r.violation_counts

    # fused waves behave identically
    fres = ValidationRunner(
        spark, str(tmp_path / "g3"), ValidationContext(run_id="g3", payload_cap_ms=50)
    ).run_fused(audio_tables, suite, resume=False)
    assert fres.gated == res.gated
    assert fres.violation_counts.keys() == res.violation_counts.keys()
    fok = ValidationRunner(
        spark, str(tmp_path / "g4"), ValidationContext(run_id="g4", payload_cap_ms=50)
    ).run_fused(
        audio_tables, [rng(severity="warn"), req(["range:clips.dur_ms"]), uniq()],
        resume=False,
    )
    assert fok.gated == {} and "uniqueness:clips.clip_id" in fok.violation_counts

    # config errors surface before any Spark job
    with pytest.raises(ValueError, match="unknown"):
        _dep_levels([req(["nope"])])
    a, b = req([]), req([])
    a.name, b.name = "A", "B"
    a.depends_on, b.depends_on = ["B"], ["A"]
    with pytest.raises(ValueError, match="cycle"):
        _dep_levels([a, b])


def test_depends_on_config_key(tmp_path):
    from unify_spark.plans.config import _build_constraint

    c = _build_constraint(
        {"type": "required", "table": "clips", "columns": ["transcript"],
         "depends_on": ["uniqueness:clips.clip_id"]}
    )
    assert c.depends_on == ["uniqueness:clips.clip_id"]


@pytest.mark.parametrize("mode", ["run", "run_fused"])
def test_fused_cap_two_phase_topk(spark, audio_tables, tmp_path, mode):
    """Both executors write one evidence layout with one cap: over-cap
    constraints write EXACTLY the global top-cap rows by (key, column)
    through Spark's two-phase top-k (TakeOrderedAndProject); under-cap
    constraints keep every row. Pinned against a driver-side sort of the
    uncapped key set."""
    ctx = ValidationContext(run_id="tp", payload_cap_ms=50, violation_cap=5)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    res = getattr(runner, mode)(audio_tables, audio_suite(), resume=False)
    import os as _os

    ev = spark.read.parquet(_os.path.join(str(tmp_path), "violations"))
    per = {
        r["constraint"]: r["n"]
        for r in ev.groupBy("constraint").count().withColumnRenamed("count", "n").collect()
    }
    for name, total in res.violation_counts.items():
        if total:
            assert per.get(name, 0) == min(total, 5), name
    # the uniqueness evidence is the global minimum-5 by (key, column):
    # recompute the full violation frame and take its sorted head
    uniq = [c for c in audio_suite() if c.name == "uniqueness:clips.clip_id"][0]
    full = uniq.violations(audio_tables, ctx).select("key", "column").collect()
    expected = sorted((r["key"], r["column"]) for r in full)[:5]
    got = sorted(
        (r["key"], r["column"])
        for r in ev.filter(ev.constraint == uniq.name).select("key", "column").collect()
    )
    assert got == expected


def test_split_valid_clean_run_routes_all_clean(spark, tmp_path):
    """Advisor round-5 fix: a fully clean per-stage run with
    collect_violating_keys writes no sidecar files (run() guards the sink
    behind ``if total:``), and split_valid must treat the absent sidecar
    as an empty key set — every row routes to clean — instead of raising
    FileNotFoundError with a misleading message."""
    from pyspark.sql import functions as F

    from unify_spark.operators.constraints import RangeConstraint

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).cast("double").alias("val")
    )
    ctx = ValidationContext(run_id="cl", collect_violating_keys=True)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    res = runner.run({"t": df}, [RangeConstraint("t", "val", min_value=0.0)])
    assert res.passed
    clean, bad = runner.split_valid(df, "t", "k")
    assert clean.count() == 100 and bad.count() == 0
    # a runner that never collected keys still gets the explicit error
    runner2 = ValidationRunner(
        spark, str(tmp_path / "nokeys"), ValidationContext(run_id="nk")
    )
    with pytest.raises(FileNotFoundError):
        runner2.violating_keys()


def test_split_valid_bigint_keys_exact(spark, tmp_path):
    """Advisor round-5 fix: the sidecar stores keys as strings; a bare
    bigint==string equality compares via double and collides ids above
    2^53 — the explicit string cast keeps routing exact."""
    from unify_spark.operators.constraints import RangeConstraint

    big = 1 << 53  # big and big+1 are EQUAL as doubles
    df = spark.createDataFrame([(big, 1.0), (big + 1, -5.0)], "k bigint, val double")
    ctx = ValidationContext(run_id="bg", collect_violating_keys=True)
    runner = ValidationRunner(spark, str(tmp_path), ctx)
    runner.run({"t": df}, [RangeConstraint("t", "val", min_value=0.0)])
    clean, bad = runner.split_valid(df, "t", "k")
    assert {r["k"] for r in bad.collect()} == {big + 1}
    assert {r["k"] for r in clean.collect()} == {big}


def test_wide_level_runs_every_stage_and_traps_one(spark, tmp_path):
    """One dependency level with more stages than cores, one of which
    raises: every other stage still records 'done' and the failing one
    'error' (each runnable stage of a level gets its own thread). A short
    switch interval interleaves the stage threads' updates of the shared
    result; a lost update would drop a verdict."""
    import os
    import sys

    from unify_spark.operators.base import Constraint
    from unify_spark.operators.constraints import RangeConstraint

    class Boom(Constraint):
        name = "boom:t"
        table = "t"

        def violations(self, tables, ctx):
            raise RuntimeError("kapow")

    n = max(os.cpu_count() or 1, 8) + 2
    df = spark.createDataFrame(
        [tuple(float(i) for i in range(n)) + ("p1",)],
        [f"c{i}" for i in range(n)] + ["part_date"],
    )
    ranges = [RangeConstraint("t", f"c{i}", min_value=0.0) for i in range(n)]
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="wide"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = runner.run({"t": df}, ranges[: n // 2] + [Boom()] + ranges[n // 2 :])
    finally:
        sys.setswitchinterval(interval)
    assert res.errors == {"boom:t": "RuntimeError: kapow"}
    assert res.verdicts == {(c.name, "p1"): True for c in ranges}
    stages = {
        r["constraint"]: r["status"]
        for r in runner.audit.read().filter("part IS NULL").collect()
    }
    assert stages == {**{c.name: "done" for c in ranges}, "boom:t": "error"}


def test_fingerprint_stats_equal_table_stats(spark, audio_tables, tmp_path):
    """run_incremental's stats read off the fingerprints equal the
    runners' own (row_count, partition universe) pre-pass, for partitioned
    (clips, transcript_map) and unpartitioned (codec_domain) tables."""
    from unify_spark.plans.incremental import collect_fingerprints, fingerprint_stats

    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="fs"))
    stats = fingerprint_stats(audio_tables, collect_fingerprints(audio_tables))
    assert stats == {t: runner._table_stats(audio_tables, t) for t in audio_tables}
    assert stats["clips"][1] and not stats["codec_domain"][1]


@pytest.mark.parametrize("mode", ["run", "run_fused", "run_incremental"])
def test_null_partition_value_rejected(spark, tmp_path, mode):
    """Audit rows reserve part=NULL for stage markers, so a table with a
    NULL partition value is refused with a ValueError naming the table and
    the partition column (it used to crash sorting the universe)."""
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans.incremental import save_fingerprints

    df = spark.createDataFrame(
        [("a", 1.0, "p1"), ("b", 2.0, None), ("c", 3.0, "p2")],
        "clip_id string, val double, part_date string",
    )
    runner = ValidationRunner(spark, str(tmp_path / "out"), ValidationContext(run_id="n"))
    args = ({"t": df}, [RangeConstraint("t", "val", min_value=0.0)])
    with pytest.raises(ValueError, match=r"'t'.*'part_date'"):
        if mode == "run_incremental":
            base = str(tmp_path / "base")
            save_fingerprints(base, {"t": {}})
            runner.run_incremental(*args, base, fused=False)
        else:
            getattr(runner, mode)(*args)
