"""Stats profiler: long-format output, per-partition + global rows, and the
runner's metrics sidecar."""

import pytest
from pyspark.sql import functions as F

from unify_spark.operators import profile_table


@pytest.fixture(scope="module")
def stats(spark, audio_tables):
    return profile_table(
        audio_tables["clips"], "clips", part_col="part_date", exclude=["bytes"]
    ).collect()


def test_profile_shape(stats, manifest):
    rows = {(r["part"], r["column"], r["stat"]): r["value"] for r in stats}
    n_rows_global = int(rows[("*", "*", "rows")])
    assert n_rows_global == manifest["n_rows"] + len(manifest["uniqueness_clip_ids"])
    # per-partition rows exist for every partition
    parts = {r["part"] for r in stats if r["part"] != "*"}
    assert len(parts) == manifest["n_parts"]


def test_profile_null_rate_and_minmax(stats, manifest):
    rows = {(r["part"], r["column"], r["stat"]): r["value"] for r in stats}
    total = int(rows[("*", "*", "rows")])
    null_rate = float(rows[("*", "transcript", "null_rate")])
    assert null_rate == pytest.approx(4 / total, rel=1e-6)  # 4 injected nulls
    assert float(rows[("*", "dur_ms", "min")]) == 0.0  # injected dur=0
    assert float(rows[("*", "dur_ms", "max")]) == 40000.0  # injected dur=40000
    # quantiles present as an array string
    assert rows[("*", "dur_ms", "quantiles")].startswith("[")


def test_profile_approx_distinct(stats, manifest):
    rows = {(r["part"], r["column"], r["stat"]): r["value"] for r in stats}
    approx = int(rows[("*", "clip_id", "approx_distinct")])
    assert abs(approx - manifest["n_rows"]) / manifest["n_rows"] < 0.05


def test_runner_profile_sidecar(spark, audio_tables, tmp_path):
    from unify_spark.operators.base import ValidationContext
    from unify_spark.plans import ValidationRunner

    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="p"))
    runner.profile({"clips": audio_tables["clips"]})
    import os

    stats = spark.read.parquet(os.path.join(str(tmp_path), "profile"))
    assert stats.filter(
        (F.col("column") == "sr_hz") & (F.col("stat") == "quantiles")
    ).count() > 0
    assert "bytes" not in {r["column"] for r in stats.select("column").distinct().collect()}


def test_hll_sketches_merge_and_incremental(spark, tmp_path):
    """Persisted per-partition HLL sketches union to (approximately) the
    global distinct count, subset-select works, and a NEW partition is
    absorbed by appending its sketch rows — no rescan of old partitions."""
    from pyspark.sql import functions as F

    from unify_spark.operators.profile import hll_estimate, hll_sketches

    rows = [(f"id-{i % 400}", f"u{i % 37}", p) for p in ("p1", "p2") for i in range(2000)]
    df = spark.createDataFrame(rows, ["clip_id", "user", "part_date"])
    sk = hll_sketches(df, "clips", ["clip_id", "user"], part_col="part_date")
    path = str(tmp_path / "sketches")
    sk.write.mode("overwrite").parquet(path)

    stored = spark.read.parquet(path)
    est = {r["column"]: r["approx_distinct"] for r in hll_estimate(stored).collect()}
    assert abs(est["clip_id"] - 400) / 400 < 0.05
    assert abs(est["user"] - 37) / 37 < 0.05

    only_p1 = {r["column"]: r["approx_distinct"]
               for r in hll_estimate(stored, parts=["p1"]).collect()}
    assert abs(only_p1["clip_id"] - 400) / 400 < 0.05

    # incremental: p3 arrives with 100 brand-new ids; append ONLY its sketch
    new = spark.createDataFrame(
        [(f"new-{i}", "u0", "p3") for i in range(100)], ["clip_id", "user", "part_date"]
    )
    hll_sketches(new, "clips", ["clip_id", "user"], part_col="part_date").write.mode(
        "append"
    ).parquet(path)
    est2 = {r["column"]: r["approx_distinct"]
            for r in hll_estimate(spark.read.parquet(path)).collect()}
    assert abs(est2["clip_id"] - 500) / 500 < 0.05


def test_drift_vs_persisted_baseline(spark, tmp_path):
    """Cross-run drift: a later run's partitions are scored against a prior
    run's PERSISTED histogram rows; shifted distributions fail, matching
    ones pass, and the prior run's data is never re-read."""
    import numpy as np

    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import DriftConstraint

    rng = np.random.Generator(np.random.PCG64(9))
    ctx = ValidationContext()
    c = DriftConstraint("clips", "dur_ms", bounds=(0, 300))

    base_rows = [(float(v), p) for p in ("p1", "p2")
                 for v in rng.normal(150, 20, 3000).clip(1, 299)]
    baseline_df = spark.createDataFrame(base_rows, ["dur_ms", "part_date"])
    path = str(tmp_path / "hist")
    c.histogram_rows({"clips": baseline_df}, ctx).write.mode("overwrite").parquet(path)

    cur_rows = [(float(v), "p3") for v in rng.normal(150, 20, 3000).clip(1, 299)]
    cur_rows += [(float(v), "p4") for v in rng.normal(60, 10, 3000).clip(1, 299)]
    cur = spark.createDataFrame(cur_rows, ["dur_ms", "part_date"])

    baseline = spark.read.parquet(path)
    scores = {r["part"]: r["failed"]
              for r in c.scores_vs_baseline({"clips": cur}, ctx, baseline).collect()}
    assert scores == {"p3": False, "p4": True}


def test_drift_baseline_requires_bounds(spark):
    import pytest as _pytest

    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import DriftConstraint

    c = DriftConstraint("clips", "dur_ms")  # no bounds
    df = spark.createDataFrame([(1.0, "p1")], ["dur_ms", "part_date"])
    with _pytest.raises(ValueError, match="bounds"):
        c.histogram_rows({"clips": df}, ValidationContext())


def test_categorical_drift(spark):
    """Category-mix PSI across partitions: a partition whose codec mix
    flips fails, uniform-mix partitions pass, a brand-new category in one
    partition trips the novelty alarm (and only there), and contract
    ``categories`` reproduces the discovered verdicts from a single scan."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import CategoricalDriftConstraint

    rows = []
    # p0-p2: uniform 50/50 pcm/mulaw mix; p3: 95/5 (mix shift); p4 adds a
    # new codec seen nowhere else
    for p in ("p0", "p1", "p2"):
        rows += [(f"{p}-{i}", "pcm_s16le" if i % 2 else "mulaw", p) for i in range(200)]
    rows += [(f"p3-{i}", "pcm_s16le" if i % 20 else "mulaw", "p3") for i in range(200)]
    rows += [(f"p4-{i}", "pcm_s16le" if i % 2 else "mulaw", "p4") for i in range(198)]
    rows += [("p4-new-1", "opus", "p4"), ("p4-new-2", None, "p4")]
    df = spark.createDataFrame(rows, ["clip_id", "codec", "part_date"])
    ctx = ValidationContext(run_id="cd")

    c = CategoricalDriftConstraint("clips", "codec", psi_threshold=0.25)
    scores = {p: (psi, new, failed) for p, psi, new, failed in c.partition_scores({"clips": df}, ctx)}
    assert not scores["p0"][2] and not scores["p1"][2] and not scores["p2"][2]
    assert scores["p3"][2] and scores["p3"][0] > 0.25      # mix shift: PSI
    assert scores["p4"][1] == 2 and scores["p4"][2]        # opus + <null> novel
    assert scores["p0"][1] == 0

    vio = c.violations({"clips": df}, ctx)
    got = {r["key"]: r["observed"] for r in vio.collect()}
    assert set(got) == {"p3", "p4"}
    assert got["p4"].endswith("new=2")

    # novelty alarm off: p4's tiny 2-row perturbation alone must not fail
    c_nof = CategoricalDriftConstraint(
        "clips", "codec", psi_threshold=0.25, new_category_fails=False
    )
    s_nof = {p: f for p, _, _, f in c_nof.partition_scores({"clips": df}, ctx)}
    assert s_nof["p3"] and not s_nof["p4"]

    # contract categories (single-scan path): same verdicts; categories not
    # listed collapse into <other>, so the novel codec now registers as
    # mix drift only if it moves PSI (2 rows of 200 do not)
    c_dom = CategoricalDriftConstraint(
        "clips", "codec",
        categories=["pcm_s16le", "mulaw", "opus", "<null>"],
        psi_threshold=0.25,
    )
    s_dom = {p: (new, f) for p, _, new, f in c_dom.partition_scores({"clips": df}, ctx)}
    assert s_dom["p3"][1] and s_dom["p4"] == (2, True)

    # config build
    from unify_spark.plans.config import _build_typed_constraint

    built = _build_typed_constraint(
        {"type": "categorical_drift", "table": "clips", "column": "codec",
         "top_k": 10, "categories": ["pcm_s16le", "mulaw"],
         "new_category_fails": False}
    )
    assert isinstance(built, CategoricalDriftConstraint)
    assert built.top_k == 10 and built.categories == ["pcm_s16le", "mulaw"]
    assert built.new_category_fails is False


def test_categorical_drift_vs_baseline(spark, tmp_path):
    """Cross-run categorical drift: run A persists its category-count
    sidecar; run B's shifted partitions score against A's POOLED mix —
    the flipped-mix partition fails on PSI, the new-codec partition trips
    the cross-run novelty alarm, unchanged partitions pass, and the
    combined drift_vs_baseline frame carries null ks for categorical rows."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import CategoricalDriftConstraint
    from unify_spark.plans.runner import ValidationRunner

    # opus is DECLARED in the contract but absent from run A's data: its
    # appearance in run B must trip the cross-run novelty alarm
    cats = ["pcm_s16le", "mulaw", "opus"]
    c = CategoricalDriftConstraint("clips", "codec", categories=cats)

    base_rows = [
        (f"a-{p}-{i}", "pcm_s16le" if i % 2 else "mulaw", f"p{p}")
        for p in range(3)
        for i in range(200)
    ]
    base = spark.createDataFrame(base_rows, ["clip_id", "codec", "part_date"])
    out_a = str(tmp_path / "runA")
    ra = ValidationRunner(spark, out_a, ValidationContext(run_id="a"))
    assert ra.persist_drift_histograms({"clips": base}, [c]) == 1

    cur_rows = (
        [(f"b0-{i}", "pcm_s16le" if i % 2 else "mulaw", "p0") for i in range(200)]
        + [(f"b1-{i}", "pcm_s16le" if i % 20 else "mulaw", "p1") for i in range(200)]
        + [(f"b2-{i}", "opus" if i % 2 else "mulaw", "p2") for i in range(200)]
    )
    cur = spark.createDataFrame(cur_rows, ["clip_id", "codec", "part_date"])
    rb = ValidationRunner(spark, str(tmp_path / "runB"), ValidationContext(run_id="b"))
    scored = {
        r["part"]: r
        for r in rb.drift_vs_baseline({"clips": cur}, [c], out_a).collect()
    }
    assert not scored["p0"]["failed"]
    assert scored["p1"]["failed"] and scored["p1"]["psi"] > 0.25
    assert scored["p2"]["failed"]  # opus never existed in run A
    assert all(r["ks"] is None and r["ks_crit"] is None for r in scored.values())

    # scores_vs_baseline's novelty count: opus is new vs the POOLED baseline
    sb = {
        r["part"]: r["new_categories"]
        for r in c.scores_vs_baseline(
            {"clips": cur}, ValidationContext(run_id="b"),
            spark.read.parquet(f"{out_a}/cat_drift_hist"),
        ).collect()
    }
    assert sb["p2"] == 1 and sb["p0"] == 0 and sb["p1"] == 0


def test_categorical_out_of_contract_value_trips_novelty(spark):
    """Advisor round-5 fix: with contract ``categories`` declared, an
    out-of-contract value collapses into <other> — and its appearance in
    ONE partition while the rest of the corpus has none must trip the
    new-category alarm (previously is_new excluded <other>, so the
    documented codec-rollout alarm could never fire in contract mode)."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import CategoricalDriftConstraint

    rows = []
    for p in ("p0", "p1", "p2"):
        rows += [(f"{p}-{i}", "pcm_s16le" if i % 2 else "mulaw", p) for i in range(200)]
    # p3: 4% of rows carry a codec the contract never declared
    rows += [(f"p3-{i}", "pcm_s16le" if i % 2 else "mulaw", "p3") for i in range(192)]
    rows += [(f"p3-new-{i}", "opus", "p3") for i in range(8)]
    df = spark.createDataFrame(rows, ["clip_id", "codec", "part_date"])
    c = CategoricalDriftConstraint(
        "clips", "codec", categories=["pcm_s16le", "mulaw"], psi_threshold=0.25
    )
    scores = {
        p: (psi, new, failed)
        for p, psi, new, failed in c.partition_scores(
            {"clips": df}, ValidationContext(run_id="cdx")
        )
    }
    assert scores["p3"][1] >= 1 and scores["p3"][2]
    assert scores["p0"][1] == 0 and not scores["p0"][2]


def test_exact_group_percentiles_matches_builtin(spark):
    """The distributed percentile equals the builtin ``percentile()`` on
    nulls, an all-NULL group, a one-value group, a NULL group key,
    duplicates and p0/p100 — except signed zero: ``groupBy`` folds -0.0
    into 0.0, so a {-0.0, 0.0} group reads +0.0 where the builtin returns
    -0.0."""
    import math

    from unify_spark.operators.profile import exact_group_percentiles

    rows = (
        [("a", float(v)) for v in (5, 1, 4, 2, 3)] + [("a", None)] * 3
        + [("all_null", None)] * 2
        + [("single", 7.25)]
        + [(None, 10.0), (None, -2.5), (None, None)]
        + [("dup", 1.0)] * 4 + [("dup", 9.0)]
        + [("zero", -0.0), ("zero", 0.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    ps = {"p0": 0.0, "p25": 0.25, "p50": 0.5, "p95": 0.95, "p100": 1.0}
    got = {r["g"]: r.asDict() for r in exact_group_percentiles(df, "v", ps, "g").collect()}
    ref = {
        r["g"]: r.asDict()
        for r in df.groupBy("g")
        .agg(*[F.expr(f"percentile(v, {p})").alias(n) for n, p in ps.items()])
        .collect()
    }
    assert got == ref  # -0.0 == 0.0, so the zero group compares equal here
    assert all(got["all_null"][n] is None for n in ps)
    assert got[None]["p0"] == -2.5 and got[None]["p100"] == 10.0
    assert got["dup"]["p50"] == 1.0 and got["single"]["p95"] == 7.25
    assert [math.copysign(1.0, got["zero"][n]) for n in ps] == [1.0] * 5
    assert [math.copysign(1.0, ref["zero"][n]) for n in ("p0", "p50", "p95")] == [-1.0] * 3
