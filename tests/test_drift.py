"""Drift scoring, numeric and categorical: the one-task pandas scorer pinned
against the window-plan references it replaced, and the edge cases
(empty comparison side, duplicated contract categories)."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.operators.drift import CategoricalDriftConstraint, DriftConstraint

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


def _assert_empty_comparison(spark, c, ddl, values, later):
    one = spark.createDataFrame([(v, "p1") for v in values], f"{ddl}, part_date string")
    [row] = c.scores_plan({"t": one}, CTX).collect()
    assert row["part"] == "p1" and row["failed"] is False
    assert row["psi"] is None and row["ks"] is None and row["ks_crit"] is None
    assert row["new_categories"] is None
    assert c.violations({"t": one}, CTX).count() == 0

    empty = spark.createDataFrame([], c.HIST_SCHEMA)
    two = one.union(
        spark.createDataFrame([(later, "p2")] * 10, f"{ddl}, part_date string")
    )
    rows = c.scores_vs_baseline({"t": two}, CTX, empty).collect()
    assert sorted(r["part"] for r in rows) == ["p1", "p2"]
    assert not any(r["failed"] for r in rows)


def test_empty_comparison_scores_not_failed(spark, ansi):
    """A one-partition table has an empty rest, and an empty baseline has
    nothing to pool: under ANSI mode the numeric window plan divided by
    zero in ks_crit, and categorical drift failed every category as new.
    Both kinds now score as not failed, with null statistics."""
    _assert_empty_comparison(
        spark,
        CategoricalDriftConstraint("t", "v", categories=["a", "b"]),
        "v string",
        ["a", "b"] * 25,
        "c",
    )
    _assert_empty_comparison(
        spark,
        DriftConstraint("t", "v", bounds=(0, 100)),
        "v double",
        [float(v) for v in range(50)],
        90.0,
    )


# -- categorical drift -------------------------------------------------------


def _reference_cat_scores(c, df, baseline=None):
    """The (part, psi, new_categories, failed) window plan
    CategoricalDriftConstraint used before the shared pandas scorer: bucket
    (contract or top-K universe, tail into <other>), densify
    (part × bucket), window totals. ``baseline`` = a prior run's
    cat_drift_hist rows, else rest of table."""
    hist = c.histogram(df, CTX.part_col)
    if c.categories is not None:
        top = df.sparkSession.createDataFrame(
            [(str(v),) for v in c.categories], "val string"
        )
    else:
        top = (
            hist.groupBy("val")
            .agg(F.sum("n").alias("tot"))
            .orderBy(F.desc("tot"), F.col("val"))
            .limit(c.top_k)
            .select("val")
        )
    b = (
        hist.join(F.broadcast(top.withColumn("_k", F.lit(1))), on="val", how="left")
        .select(
            "part",
            F.when(F.col("_k").isNotNull(), F.col("val"))
            .otherwise(F.lit(c.OTHER))
            .alias("val"),
            "n",
        )
        .groupBy("part", "val")
        .agg(F.sum("n").alias("n"))
    )
    vals = top.unionByName(
        top.sparkSession.range(1).select(F.lit(c.OTHER).alias("val"))
    )
    dense = (
        b.select("part")
        .distinct()
        .crossJoin(F.broadcast(vals))
        .join(b, on=["part", "val"], how="left")
        .fillna(0, subset=["n"])
    )
    if baseline is None:
        dense = dense.withColumn(
            "q_n", F.sum("n").over(Window.partitionBy("val")) - F.col("n")
        )
    else:
        pooled = (
            baseline.filter(
                (F.col("table") == c.table) & (F.col("column") == c.column)
            )
            .groupBy("val")
            .agg(F.sum("n").alias("q_n"))
        )
        dense = dense.join(F.broadcast(pooled), on="val", how="left").fillna(
            0, subset=["q_n"]
        )
    w_part = Window.partitionBy("part")
    dense = (
        dense.withColumn("part_total", F.sum("n").over(w_part))
        .withColumn("q_total", F.sum("q_n").over(w_part))
        .withColumn("nb", F.count(F.lit(1)).over(w_part))
    )
    p = (F.col("n") + 1.0) / (F.col("part_total") + F.col("nb"))
    q = (F.col("q_n") + 1.0) / (F.col("q_total") + F.col("nb"))
    # <other> counts toward novelty: out-of-universe values appearing in
    # one partition only are the new-category alarm
    is_new = ((F.col("n") > 0) & (F.col("q_n") == 0)).cast("int")
    scored = (
        dense.select(
            "part", ((p - q) * F.log(p / q)).alias("psi_term"), is_new.alias("is_new")
        )
        .groupBy("part")
        .agg(
            F.sum("psi_term").alias("psi"),
            F.sum("is_new").alias("new_categories"),
        )
    )
    failed = F.col("psi") > c.psi_threshold
    if c.new_category_fails:
        failed = failed | (F.col("new_categories") > 0)
    return scored.select("part", "psi", "new_categories", failed.alias("failed"))


def _assert_cat_parity(fast, slow):
    fast, slow = _by_part(fast), _by_part(slow)
    assert set(fast) == set(slow)
    for p in slow:
        assert fast[p]["failed"] == slow[p]["failed"], p
        assert fast[p]["new_categories"] == slow[p]["new_categories"], p
        assert fast[p]["ks"] is None and fast[p]["ks_crit"] is None
        assert math.isclose(fast[p]["psi"], slow[p]["psi"], rel_tol=0, abs_tol=1e-12), (
            p,
            fast[p]["psi"],
            slow[p]["psi"],
        )


@pytest.fixture(scope="module")
def codecs(spark):
    """p0-p2: 50/50 pcm/mulaw with a little alaw; p3: a 95/5 mix shift;
    p4: 50/50 plus opus and NULL, seen in no other partition."""
    rows = []
    for p in ("p0", "p1", "p2", "p3", "p4"):
        for i in range(200):
            if p == "p3":
                v = "pcm_s16le" if i % 20 else "mulaw"
            else:
                v = "alaw" if i % 50 == 0 else ("pcm_s16le" if i % 2 else "mulaw")
            rows.append((v, p))
    rows += [("opus", "p4")] * 3 + [(None, "p4")] * 2
    return spark.createDataFrame(rows, "codec string, part_date string")


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"top_k": 2},  # alaw, opus and <null> collapse into <other>
        {"new_category_fails": False},
        # a declared category that never appears, and <null> declared
        {"categories": ["pcm_s16le", "mulaw", "alaw", "<null>", "flac"]},
        # opus and NULL are out of contract: <other> is new in p4 only
        {"categories": ["pcm_s16le", "mulaw", "alaw"]},
    ],
    ids=["top_k", "top_k2", "novelty_off", "contract", "out_of_contract"],
)
def test_categorical_scores_match_window_reference(codecs, kw):
    c = CategoricalDriftConstraint("clips", "codec", **kw)
    _assert_cat_parity(
        c.scores_plan({"clips": codecs}, CTX), _reference_cat_scores(c, codecs)
    )


def test_categorical_vs_baseline_matches_window_reference(codecs):
    c = CategoricalDriftConstraint(
        "clips", "codec", categories=["pcm_s16le", "mulaw", "alaw", "opus"]
    )
    base = codecs.filter(F.col("part_date").isin("p0", "p1"))
    cur = codecs.filter(~F.col("part_date").isin("p0", "p1"))
    baseline = c.histogram_rows({"clips": base}, CTX)
    _assert_cat_parity(
        c.scores_vs_baseline({"clips": cur}, CTX, baseline),
        _reference_cat_scores(c, cur, baseline),
    )


def test_duplicate_contract_category_counts_once(codecs):
    """A category listed twice in the contract must not join its rows
    twice: scores and sidecar rows equal those of the deduplicated list,
    and the constructor keeps the list as given (its config fingerprint
    must not move)."""
    listed = ["pcm_s16le", "pcm_s16le", "mulaw"]
    dup = CategoricalDriftConstraint("clips", "codec", categories=listed)
    once = CategoricalDriftConstraint("clips", "codec", categories=listed[1:])
    tables = {"clips": codecs}
    assert dup.categories == listed
    assert dup.partition_scores(tables, CTX) == once.partition_scores(tables, CTX)
    sidecar = sorted(dup.histogram_rows(tables, CTX).collect())
    assert sidecar == sorted(once.histogram_rows(tables, CTX).collect())
    pcm = {r["part"]: r["n"] for r in sidecar if r["val"] == "pcm_s16le"}
    assert pcm == {"p0": 100, "p1": 100, "p2": 100, "p3": 190, "p4": 100}
