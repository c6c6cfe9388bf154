"""Structured Streaming validation: file stream of clips metadata →
row-local violation column, and foreachBatch full-suite runs."""

import os

import pytest
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.plans.suite import audio_suite
from unify_spark.streaming import validate_stream, validate_stream_foreach_batch


@pytest.fixture(scope="module")
def stream_source(spark, fixture_dir, tmp_path_factory):
    # stream over the clips metadata (drop bytes to keep the stream light)
    out = str(tmp_path_factory.mktemp("stream_src"))
    spark.read.parquet(os.path.join(fixture_dir, "clips")).drop("bytes").coalesce(
        4
    ).write.mode("overwrite").parquet(out)
    return out


def test_row_level_stream(spark, stream_source, manifest, tmp_path):
    from unify_spark.fixtures.generate import DUR_MAX_MS, SR_CHOICES
    from unify_spark.operators.constraints import (
        DomainConstraint,
        RangeConstraint,
        RequiredConstraint,
    )

    schema = spark.read.parquet(stream_source).schema
    stream = spark.readStream.schema(schema).parquet(stream_source)
    assert stream.isStreaming
    # the byte-less metadata stream can check everything except bytes
    row_local = [
        DomainConstraint("clips", "codec", allowed=["pcm_s16le", "flac", "ulaw", "mp3"]),
        RangeConstraint("clips", "sr_hz", allowed_set=list(SR_CHOICES)),
        RangeConstraint("clips", "dur_ms", min_value=0, max_value=DUR_MAX_MS, min_exclusive=True),
        RequiredConstraint("clips", ["transcript"]),
    ]
    validated = validate_stream(stream, row_local)
    sink = str(tmp_path / "sink")
    q = (
        validated.filter(F.size("violations") > 0)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    keys = {r["clip_id"] for r in got.select("clip_id").collect()}
    expected = (
        set(manifest["codec_domain_clip_ids"])
        | set(manifest["range_clip_ids"])
        | set(manifest["nullness_clip_ids"])
    )
    # null-bytes rows can't be flagged on a byte-less stream; everything else must be
    expected_stream = expected - set(manifest["nullness_clip_ids"][4:])
    assert keys == expected_stream


def test_foreach_batch_suite(spark, fixture_dir, stream_source, manifest, tmp_path):
    from unify_spark.operators.constraints import DomainConstraint, RangeConstraint

    schema = spark.read.parquet(stream_source).schema
    stream = spark.readStream.schema(schema).parquet(stream_source)
    constraints = [
        DomainConstraint("clips", "codec", allowed=["pcm_s16le", "flac", "ulaw", "mp3"]),
        RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000, min_exclusive=True),
    ]
    out = str(tmp_path / "runs")
    q = validate_stream_foreach_batch(
        stream,
        constraints,
        tables={},
        stream_table_name="clips",
        out_dir=out,
        ctx=ValidationContext(run_id="stream-run"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(180)
    audit = spark.read.parquet(os.path.join(out, "audit"))
    done = audit.filter(
        (F.col("status") == "done") & F.col("run_id").startswith("stream-run@")
    )
    rows = done.groupBy("constraint").agg(F.sum("violation_count").alias("n")).collect()
    counts = {r["constraint"]: r["n"] for r in rows}
    assert counts["domain:clips.codec"] == len(manifest["codec_domain_clip_ids"])
    # dur violations only (4 of the 9 range rows are dur, 5 are sr)
    assert counts["range:clips.dur_ms"] == 4


def test_foreach_batch_collects_violating_keys(spark, tmp_path):
    """Every field of the caller's context reaches the per-batch run:
    collect_violating_keys=True leaves the batch's uncapped key sidecar."""
    from unify_spark.operators.constraints import RangeConstraint

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("c1", 5.0, "p1"), ("c2", -1.0, "p1"), ("c3", 99.0, "p2")],
        "clip_id string, dur double, part_date string",
    ).write.parquet(src)
    out = str(tmp_path / "runs")
    q = validate_stream_foreach_batch(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        [RangeConstraint("clips", "dur", min_value=0, max_value=10)],
        tables={},
        stream_table_name="clips",
        out_dir=out,
        ctx=ValidationContext(run_id="keys", collect_violating_keys=True),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    keys = spark.read.parquet(os.path.join(out, "violating_keys"))
    assert {(r["key"], r["part"]) for r in keys.collect()} == {("c2", "p1"), ("c3", "p2")}


def test_row_level_stream_covers_new_families(spark, tmp_path):
    """regex/length/any-present/conditional validate on a stream via the
    same row_predicates the batch bundle fuses."""
    from unify_spark.operators.constraints import (
        ConditionalConstraint,
        LengthConstraint,
        RegexConstraint,
    )
    from unify_spark.streaming.validate import validate_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            ("ok-1", "short", "gated", 1.0),
            ("BAD 2", "short", "clustered", None),       # regex fails
            ("ok-3", "x" * 50, "gated", 2.0),            # length fails
            ("ok-4", "short", "gated", None),            # conditional fails
        ],
        "clip_id string, name string, kind string, val double",
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    suite = [
        RegexConstraint("clips", "clip_id", "^[a-z0-9-]+$"),
        LengthConstraint("clips", "name", max_len=20),
        ConditionalConstraint("clips", "kind = 'gated'", ["val"]),
    ]
    sink = str(tmp_path / "sink")
    q = (
        validate_stream(stream, suite)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["clip_id"]: set(r["violations"]) for r in spark.read.parquet(sink).collect()}
    assert out["ok-1"] == set()
    assert out["BAD 2"] == {"regex:clips.clip_id"}
    assert out["ok-3"] == {"length:clips.name"}
    assert out["ok-4"] == {"conditional:clips.when(kind = 'gated')"}


def test_drift_monitor_foreach_batch(spark, tmp_path):
    """Streaming cross-run drift: micro-batches scored against a persisted
    baseline histogram; a matching batch passes, a shifted one fails, and
    each batch costs one histogram pass (no state store)."""
    import numpy as np

    from unify_spark.operators.drift import DriftConstraint
    from unify_spark.streaming import drift_monitor_foreach_batch

    rng = np.random.Generator(np.random.PCG64(21))
    c = DriftConstraint("clips", "dur_ms", bounds=(0, 300))
    ctx = ValidationContext()

    base = spark.createDataFrame(
        [(float(v), "p0") for v in rng.normal(150, 20, 3000).clip(1, 299)],
        ["dur_ms", "part_date"],
    )
    baseline_dir = str(tmp_path / "run1")
    c.histogram_rows({"clips": base}, ctx).write.mode("overwrite").parquet(
        os.path.join(baseline_dir, "drift_hist")
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(float(v), "ok") for v in rng.normal(150, 20, 3000).clip(1, 299)]
        + [(float(v), "shifted") for v in rng.normal(60, 10, 3000).clip(1, 299)],
        ["dur_ms", "part_date"],
    ).write.parquet(src)

    stream = spark.readStream.schema("dur_ms double, part_date string").parquet(src)
    out_dir = str(tmp_path / "mon")
    q = drift_monitor_foreach_batch(
        stream, [c], baseline_dir, out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    scored = spark.read.parquet(os.path.join(out_dir, "drift_stream"))
    got = {r["part"]: r["failed"] for r in scored.collect()}
    assert got == {"ok": False, "shifted": True}
    assert {r["constraint"] for r in scored.collect()} == {"drift:clips.dur_ms"}


def test_sessionize_gap_semantics(spark):
    """Gap-based sessionization: events within the gap chain; a quiet
    period splits; Spark's session_window end extends one gap past the
    last event (engine semantics, asserted so consumers aren't surprised);
    per-key sessions are independent; extra aggregates pass through."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from unify_spark.functions.sessions import sessionize

    t = lambda m, s=0: datetime(2025, 1, 1, 10, m, s)  # noqa: E731
    rows = [
        ("u1", t(0), 1.0), ("u1", t(2), 2.0), ("u1", t(4), 3.0),   # session A
        ("u1", t(30), 4.0),                                        # >5m gap → B
        ("u2", t(1), 5.0),                                         # other key
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = sessionize(
        df, "ts", "user_id", gap="5 minutes",
        agg_exprs=[F.round(F.sum("value"), 4).alias("sum_value")],
    )
    got = {
        (r["user_id"], r["session_start"].minute): r for r in out.collect()
    }
    assert set(got) == {("u1", 0), ("u1", 30), ("u2", 1)}
    a = got[("u1", 0)]
    assert a["n_events"] == 3 and a["sum_value"] == 6.0
    # end = last event (10:04) + 5-minute gap
    assert a["session_end"].minute == 9 and a["duration_s"] == 9 * 60
    b = got[("u1", 30)]
    assert b["n_events"] == 1 and b["duration_s"] == 5 * 60
    assert got[("u2", 1)]["n_events"] == 1


def test_sessionize_hot_key_escape(spark):
    """The max_events_per_key pre-thin: a degenerate bot key's task input
    is bounded (the thin is a pure Column filter BEFORE the session
    shuffle), while normal keys' sessions come back bit-identical to the
    un-thinned call — the quota sampler's two-phase escape applied to
    sessionization."""
    from datetime import datetime, timedelta

    from unify_spark.functions.sessions import sessionize

    base = datetime(2025, 1, 1, 0, 0, 0)
    rows = [("bot", base + timedelta(seconds=i), f"e{i}") for i in range(5000)]
    rows += [
        ("u1", base, "h1"), ("u1", base + timedelta(minutes=2), "h2"),
        ("u2", base + timedelta(hours=2), "h3"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])

    cap = 200
    out = sessionize(
        df, "ts", "user_id", gap="5 minutes",
        max_events_per_key=cap,
        key_counts={"bot": 5000},
        event_id_col="event_id",
    )
    # bounded task input: the bot key's surviving events land near the cap
    # (binomial at rate cap/count), nowhere near the raw 5000
    bot_events = sum(
        r["n_events"] for r in out.collect() if r["user_id"] == "bot"
    )
    assert 0 < bot_events < 2 * cap
    # the thin is plan-side: a deterministic md5 filter before the agg
    assert "md5" in out._jdf.queryExecution().executedPlan().toString().lower()

    # normal keys: sessions identical to the un-thinned call
    plain = sessionize(df, "ts", "user_id", gap="5 minutes")
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"], r["n_events"])  # noqa: E731
    normal = lambda rs: sorted(key(r) for r in rs if r["user_id"] != "bot")  # noqa: E731
    assert normal(out.collect()) == normal(plain.collect())

    # missing the hash domain is an explicit error, not silent skew
    import pytest

    with pytest.raises(ValueError, match="event_id_col"):
        sessionize(
            df, "ts", "user_id", max_events_per_key=cap, key_counts={"bot": 5000}
        ).collect()


def test_sessionize_under_structured_streaming(spark, tmp_path):
    """The SAME sessionize() call runs under readStream with a watermark
    (complete/update-mode session state machine) and produces the batch
    result — pinning the module's batch ≡ streaming claim end-to-end."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from unify_spark.functions.sessions import sessionize

    t = lambda m: datetime(2025, 2, 1, 9, m)  # noqa: E731
    rows = [
        ("u1", t(0), 1.0), ("u1", t(2), 2.0), ("u1", t(30), 3.0),
        ("u2", t(5), 4.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, "user_id string, ts timestamp, value double").write.parquet(src)

    stream = (
        spark.readStream.schema("user_id string, ts timestamp, value double")
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    out = sessionize(
        stream, "ts", "user_id", gap="5 minutes",
        agg_exprs=[F.round(F.sum("value"), 4).alias("sum_value")],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"].minute, r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sessions_out").collect()
    }
    batch = {
        (r["user_id"], r["session_start"].minute, r["n_events"], r["sum_value"])
        for r in sessionize(
            spark.read.parquet(src), "ts", "user_id", gap="5 minutes",
            agg_exprs=[F.round(F.sum("value"), 4).alias("sum_value")],
        ).collect()
    }
    assert got == batch == {("u1", 0, 2, 3.0), ("u1", 30, 1, 3.0), ("u2", 5, 1, 4.0)}


def test_foreach_batch_metrics_repo(spark, stream_source, tmp_path):
    """metrics_repo turns the foreachBatch suite into an online monitor:
    every micro-batch appends its profile rows under run '<run>@<batch>',
    and repo_anomalies scores the newest batch against the trailing ones."""
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans.history import MetricsRepository, repo_anomalies

    schema = spark.read.parquet(stream_source).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_source)
    )
    repo_path = str(tmp_path / "repo")
    # pre-seed batch 0's run_id: Structured Streaming can REPLAY a batch
    # whose foreachBatch ran but whose checkpoint never committed — the
    # monitor must skip the profile append for an already-recorded batch
    # instead of double-weighting it (review fix, replay idempotence)
    from unify_spark.plans.history import MetricsRepository as _MR

    _MR(spark, repo_path).append(
        [("clips", "*", "*", "rows", "123.0")], "mon@0"
    )
    q = validate_stream_foreach_batch(
        stream,
        [RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000, min_exclusive=True)],
        tables={},
        stream_table_name="clips",
        out_dir=str(tmp_path / "runs"),
        ctx=ValidationContext(run_id="mon"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        metrics_repo=repo_path,
    )
    q.awaitTermination(180)

    repo = MetricsRepository(spark, repo_path)
    runs = repo.runs()
    assert len(runs) == 4 and all(r.startswith("mon@") for r in runs)
    # every batch carries the stream table's global rows metric
    stats = repo.global_stats(stats=("rows",))
    assert set(stats) == set(runs)
    assert all(v[("clips", "*", "rows")] > 0 for v in stats.values())
    # the pre-seeded ("replayed") batch kept its original single row set:
    # the stream's own profile for mon@0 was skipped, not appended on top
    assert stats["mon@0"][("clips", "*", "rows")] == 123.0
    # a planted outlier batch (10x the volume) trips the online envelope
    # on the rows metric against the trailing real batches
    repo.append([("clips", "*", "*", "rows", str(10_000_000.0))], "mon@99")
    flagged = {
        (a["table"], a["column"], a["stat"])
        for a in repo_anomalies(repo, min_history=3, k=4.0, stats=("rows",))
    }
    assert ("clips", "*", "rows") in flagged
