"""Skew robustness: uniqueness under an adversarially hot key, and AQE
skew-join configuration presence."""

import pytest
from pyspark.sql import functions as F

from unify_spark.operators import UniquenessConstraint
from unify_spark.operators.base import ValidationContext


def test_salted_uniqueness_hot_key(spark):
    """One key holds 50% of all rows (the pathological hot key). The one
    aggregate plan must still produce exact duplicate counts — its map-side
    partials pre-combine inside each physical partition, so no single
    reducer receives the whole hot key's raw rows."""
    n = 40_000
    hot = spark.range(n // 2).select(F.lit("HOT").alias("k"))
    cold = spark.range(n // 2).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    dup_cold = spark.createDataFrame([("k7",), ("k9",)], ["k"])
    df = hot.unionByName(cold).unionByName(dup_cold).repartition(16)
    c = UniquenessConstraint("t", ["k"])
    vio = c.violations({"t": df}, ValidationContext(part_col="none"))
    rows = {r["key"]: int(r["observed"]) for r in vio.select("key", "observed").distinct().collect()}
    assert rows["HOT"] == n // 2
    assert rows["k7"] == 2 and rows["k9"] == 2
    assert len(rows) == 3  # nothing else flagged


def test_aqe_skew_config(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_minhash_hot_bucket_cap(spark):
    """A boilerplate corpus (many identical docs) must not explode the band
    self-join: over-cap buckets are dropped, distinct near-dups still pair."""
    from unify_spark.functions import dedup

    boiler = "the same legal disclaimer text repeated across every document in the corpus"
    rows = [(i, boiler) for i in range(50)]
    rows += [(100, "a unique sentence about spark adaptive execution plans"),
             (101, "a unique sentence about spark adaptive execution plan")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = dedup.minhash_candidates(df, "doc_id", "text", max_bucket_size=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # boilerplate pairs suppressed (their buckets exceed the cap)...
    assert not any(a < 50 and b < 50 for a, b in pairs)
    # ...but the distinct near-dup pair survives in its own small bucket
    assert (100, 101) in pairs
    # and exact dedup still reports the boilerplate group (linear path)
    dups = dedup.exact_duplicates(df.select("text"), ["text"]).collect()
    assert dups[0]["dup_count"] == 50

    uncapped = dedup.minhash_candidates(df, "doc_id", "text", max_bucket_size=None)
    assert uncapped.count() >= 50 * 49 // 2
