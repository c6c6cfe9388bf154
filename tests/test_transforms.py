"""Prepare-engine melt (SURVEY §2.2) + upsert crosscheck."""

from unify_spark.operators import transforms as tr
from unify_spark.operators.base import ValidationContext
from unify_spark.operators.constraints import UpsertConflictConstraint


def test_molten(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "m1", "m2"])
    out = tr.molten(df, ["id"], ["m1", "m2"]).collect()
    assert {(r["id"], r["variable"], r["value"]) for r in out} == {
        (1, "m1", 10.0),
        (1, "m2", 20.0),
    }


def test_upsert_conflict(spark, audio_tables, manifest):
    """The V1 duplicate clips re-emit the same clip_id with a different codec
    → every dup key is a conflicting upsert."""
    c = UpsertConflictConstraint("clips", ["clip_id"], ["codec"])
    vio = c.violations(audio_tables, ValidationContext())
    keys = {r["key"] for r in vio.select("key").distinct().collect()}
    assert keys == set(manifest["uniqueness_clip_ids"])


def test_upsert_no_conflict_when_values_agree(spark):
    df = spark.createDataFrame(
        [("k1", "a"), ("k1", "a"), ("k2", "b")], ["id", "v"]
    )
    c = UpsertConflictConstraint("t", ["id"], ["v"])
    assert c.violations({"t": df}, ValidationContext()).count() == 0
