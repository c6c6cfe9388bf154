"""Physical-plan guarantees: partition pruning and filter pushdown on the
fixture layout (hive-partitioned parquet; Iceberg manifests at production)."""

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_partition_pruning(spark, audio_tables):
    df = audio_tables["clips"].filter(F.col("part_date") == "2025-01-03")
    plan = _plan(df.select("clip_id"))
    assert "PartitionFilters: [isnotnull(part_date" in plan
    # pruned scan must not read other partitions: count matches a full scan filter
    full = audio_tables["clips"].groupBy("part_date").count().collect()
    expected = {r["part_date"]: r["count"] for r in full}["2025-01-03"]
    assert df.count() == expected


def test_filter_pushdown_and_pruning(spark, audio_tables):
    df = audio_tables["clips"].filter(F.col("sr_hz") == 16000).select("clip_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(sr_hz), EqualTo(sr_hz,16000)]" in plan
    # column pruning: bytes/transcript never read
    assert "ReadSchema: struct<clip_id:string,sr_hz:int>" in plan


def test_row_local_stage_filters_before_explode(spark, audio_tables, tmp_path, monkeypatch):
    """A staged run() of one RangeConstraint (a bundle of one) filters on its
    predicate before it explodes violation structs, so the clips scan pushes
    the range filter down instead of feeding every row into Generate."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans.runner import ValidationRunner

    frame_cls = type(audio_tables["clips"])
    persisted, persist = [], frame_cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", spy)
    c = RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000, min_exclusive=True)
    ValidationRunner(spark, str(tmp_path / "out"), ValidationContext(run_id="pin")).run(
        {"clips": audio_tables["clips"]}, [c], resume=False
    )
    (plan,) = [p for p in map(_plan, persisted) if "Generate" in p]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and all("dur_ms" in f for f in pushed), pushed


def test_equality_constraint_shuffles_hashes_not_text(spark, audio_tables):
    """The clips-side exchange of the transcript-equality join must carry an
    8-byte xxhash64, never the raw transcript string (at 100 TB the text IS
    the table)."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import EqualityAcrossTablesConstraint

    c = EqualityAcrossTablesConstraint(
        "clips", "transcript_map", on="clip_id",
        left_col="transcript", right_col="transcript", key_col="transcript_id",
    )
    vio = c.violations(audio_tables, ValidationContext())
    formatted = vio._jdf.queryExecution().executedPlan().toString()
    # the clips-side projection hashes transcript before any exchange
    assert "xxhash64(transcript" in formatted
    # and the clips scan reads only (clip_id, transcript) — no payload bytes
    import re
    scans = re.findall(r"ReadSchema: struct<[^>]*>", _plan(vio))
    clips_scans = [s for s in scans if "transcript:string" in s and "transcript_id" not in s]
    assert clips_scans and all("bytes" not in s for s in clips_scans)


def test_lsh_ann_base_side_not_shuffled(spark):
    """The LSH-ANN band join must broadcast the query side: no Exchange
    between the base side's MapInPandas and the join."""
    from unify_spark.functions import similarity

    rows = [(i, [float(i % 7), 1.0, -1.0, 0.5]) for i in range(64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.lsh_ann_topk(df, df.filter("vec_id < 2"), dim=4, k=3,
                                  n_planes=8, n_bands=2)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # base side: Scan -> MapInPandas -> Generate -> Join with no Exchange in
    # between. The tree prints top-down, so the base branch is the text
    # between the join node and its BroadcastExchange (the query side).
    base_branch = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "MapInPandas" in base_branch
    assert "Exchange hashpartitioning" not in base_branch


def test_pack_chunks_no_single_partition_exchange(spark):
    """The packing prefix sum must never plan an Exchange SinglePartition —
    that's the global-window trap the two-phase scan exists to avoid."""
    from unify_spark.functions import packing

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).alias("n_tok")
    )
    out = packing.pack_chunks(df, "doc_id", "n_tok", budget=64, num_shards=4)
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan
    assert "MapInPandas" in plan
    # the naive window form DOES plan one (the contrast this guards against)
    from pyspark.sql import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = df.withColumn("tok_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    assert "Exchange SinglePartition" in _plan(naive)


def test_sample_hash_filter_is_scan_side(spark, tmp_path):
    """Hash sampling is a pure filter: no Exchange in the plan at all, and
    only the projected column is read from parquet."""
    from unify_spark.functions import sampling

    p = str(tmp_path / "docs")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = sampling.sample_hash(df, "doc_id", 0.25).select("doc_id")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_candidate_join_repartition_defeats_aqe_coalescing(spark):
    """The hot-bucket cap's explicit repartition must appear as a
    user-specified-width exchange on the band keys (AQE cannot coalesce it,
    so the explosive self-join keeps full parallelism)."""
    from unify_spark.functions import dedup

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared shared2") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.minhash_candidates(df, "doc_id", "text", num_hashes=8, bands=2)
    plan = _plan(out)
    assert "REPARTITION_BY_COL" in plan or "hashpartitioning(band_id" in plan
