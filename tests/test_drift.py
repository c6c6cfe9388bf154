"""DriftConstraint scoring: the one-task pandas scorer pinned against the
window-plan reference it replaced, and the empty-comparison edge cases."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.operators.drift import DriftConstraint

CTX = ValidationContext(run_id="drift")


def _reference_scores(c, hist, ref=None):
    """The (part, psi, ks, ks_crit, failed) window plan DriftConstraint used
    before its pandas scorer: densify (part × bucket), window totals, window
    cumsums. ``ref`` = the (bucket, n) rows of a baseline, else rest of
    table."""
    parts = hist.select("part").distinct()
    buckets = hist.sparkSession.range(c.n_bins).select(
        F.col("id").cast("long").alias("bucket")
    )
    dense = (
        parts.crossJoin(F.broadcast(buckets))
        .join(hist, on=["part", "bucket"], how="left")
        .fillna(0, subset=["n"])
    )
    if ref is None:
        dense = dense.withColumn(
            "q_n", F.sum("n").over(Window.partitionBy("bucket")) - F.col("n")
        )
    else:
        pooled = ref.groupBy("bucket").agg(F.sum("n").alias("q_n"))
        dense = dense.join(F.broadcast(pooled), on="bucket", how="left").fillna(
            0, subset=["q_n"]
        )
    w_part = Window.partitionBy("part")
    dense = dense.withColumn("part_total", F.sum("n").over(w_part)).withColumn(
        "q_total", F.sum("q_n").over(w_part)
    )
    p = (F.col("n") + 1.0) / (F.col("part_total") + c.n_bins)
    q = (F.col("q_n") + 1.0) / (F.col("q_total") + c.n_bins)
    w_cum = Window.partitionBy("part").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_p = F.sum("n").over(w_cum) / F.greatest(F.col("part_total"), F.lit(1))
    cum_q = F.sum("q_n").over(w_cum) / F.greatest(F.col("q_total"), F.lit(1))
    scored = (
        dense.select(
            "part",
            "part_total",
            "q_total",
            ((p - q) * F.log(p / q)).alias("psi_term"),
            F.abs(cum_p - cum_q).alias("ks_term"),
        )
        .groupBy("part")
        .agg(
            F.sum("psi_term").alias("psi"),
            F.max("ks_term").alias("ks"),
            F.first("part_total").alias("n1"),
            F.first("q_total").alias("n2"),
        )
    )
    ks_crit = F.greatest(
        F.lit(c.ks_threshold),
        F.lit(c.ks_c_alpha)
        * F.sqrt((F.col("n1") + F.col("n2")) / (F.col("n1") * F.col("n2"))),
    )
    return scored.select(
        "part",
        "psi",
        "ks",
        ks_crit.alias("ks_crit"),
        ((F.col("psi") > c.psi_threshold) | (F.col("ks") > ks_crit)).alias("failed"),
    )


def _by_part(df):
    return {r["part"]: r for r in df.collect()}


def _assert_parity(fast, slow):
    fast, slow = _by_part(fast), _by_part(slow)
    assert set(fast) == set(slow)
    assert {p: r["failed"] for p, r in fast.items()} == {
        p: r["failed"] for p, r in slow.items()
    }
    for p in slow:
        for k in ("psi", "ks", "ks_crit"):
            assert math.isclose(fast[p][k], slow[p][k], rel_tol=0, abs_tol=1e-12), (
                p,
                k,
                fast[p][k],
                slow[p][k],
            )


@pytest.fixture(scope="module")
def clips(audio_tables):
    """The fixture clips plus a constant column and a copy of dur_ms that
    is NULL throughout the first partition."""
    df = audio_tables["clips"]
    first = df.agg(F.min("part_date")).first()[0]
    return df.select(
        "part_date",
        "dur_ms",
        "sr_hz",
        F.lit(7.0).alias("const"),
        F.when(F.col("part_date") == first, F.lit(None))
        .otherwise(F.col("dur_ms"))
        .alias("dur_null_part"),
    )


@pytest.mark.parametrize(
    "column,bounds",
    [
        ("dur_ms", None),
        ("dur_ms", (0, 30000)),
        ("dur_ms", (5000, 20000)),  # clamps both tails into the end bins
        ("sr_hz", None),
        ("const", None),
        ("dur_null_part", None),
    ],
)
def test_scores_match_window_reference(clips, column, bounds):
    c = DriftConstraint("clips", column, bounds=bounds)
    hist = c.histogram(clips, CTX.part_col)
    _assert_parity(c.scores_plan({"clips": clips}, CTX), _reference_scores(c, hist))


def test_null_partition_is_not_scored(clips):
    c = DriftConstraint("clips", "dur_null_part")
    first = clips.agg(F.min("part_date")).first()[0]
    parts = {r["part"] for r in c.scores_plan({"clips": clips}, CTX).collect()}
    assert first not in parts and len(parts) == 7


def test_vs_baseline_matches_window_reference(spark, clips):
    c = DriftConstraint("clips", "dur_ms", bounds=(0, 30000))
    parts = sorted(r[0] for r in clips.select("part_date").distinct().collect())
    base = clips.filter(F.col("part_date").isin(parts[:4]))
    cur = clips.filter(F.col("part_date").isin(parts[4:]))
    baseline = c.histogram_rows({"clips": base}, CTX)
    ref = baseline.select("bucket", "n")
    _assert_parity(
        c.scores_vs_baseline({"clips": cur}, CTX, baseline),
        _reference_scores(c, c.histogram(cur, CTX.part_col), ref),
    )


@pytest.fixture()
def ansi(spark):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prior)


def test_empty_comparison_scores_not_failed(spark, ansi):
    """A one-partition table has an empty rest, and an empty baseline has
    nothing to pool: under ANSI mode the window plan divided by zero in
    ks_crit. Both now score as not failed, with null statistics."""
    one = spark.createDataFrame(
        [(float(v), "p1") for v in range(50)], "v double, part_date string"
    )
    c = DriftConstraint("t", "v", bounds=(0, 100))
    [row] = c.scores_plan({"t": one}, CTX).collect()
    assert row["part"] == "p1" and row["failed"] is False
    assert row["psi"] is None and row["ks"] is None and row["ks_crit"] is None
    assert c.violations({"t": one}, CTX).count() == 0

    empty = spark.createDataFrame([], DriftConstraint.HIST_SCHEMA)
    two = one.union(
        spark.createDataFrame([(90.0, "p2")] * 10, "v double, part_date string")
    )
    rows = c.scores_vs_baseline({"t": two}, CTX, empty).collect()
    assert sorted(r["part"] for r in rows) == ["p1", "p2"]
    assert not any(r["failed"] for r in rows)
