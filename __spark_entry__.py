"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry demonstrates an operator family from SURVEY.md §2
re-expressed Spark-first (implemented in ``unify_spark``), phrased over the
driver's TPC-H-ish parquet tables so the DuckDB oracle can verify it.
Aggregates are rounded in BOTH dialects so value hashes are stable.

Entries without an ``oracle_sql()`` twin (minhash/simhash/LSH-ANN) are the
genuinely non-SQL-expressible candidate-generation operators; the driver
records a rows-only check for them and their exact semantics are pinned by
``tests/`` instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from unify_spark.functions import dedup, similarity, text
from unify_spark.functions.sampling import hash_threshold as _thr
from unify_spark.functions.text import PII_PATTERNS
from unify_spark.sources.readers import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# queries (Spark side)
# ---------------------------------------------------------------------------


def q_stats_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Column-stats / grouped aggregation (SURVEY §2.4; profile_table's
    aggregation shape phrased as a TPC-H-Q1-style plan)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


def q_uniqueness_dups(spark: SparkSession, sf: str) -> DataFrame:
    """UniquenessConstraint core: duplicate-key detection (SURVEY §2.3
    upsert-collision crosscheck)."""
    li = _t(spark, sf, "lineitem")
    return dedup.exact_duplicates(li.select("l_orderkey"), ["l_orderkey"])


def q_composite_uniqueness(spark: SparkSession, sf: str) -> DataFrame:
    """Composite-key uniqueness (synthetic-composite-id analogue)."""
    li = _t(spark, sf, "lineitem")
    return dedup.exact_duplicates(
        li.select("l_orderkey", "l_linenumber"), ["l_orderkey", "l_linenumber"]
    )


def q_ri_orders_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Referential integrity via broadcast anti-join (dangling refs)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey"))
    return (
        orders.join(F.broadcast(cust.distinct()), on="o_custkey", how="left_anti")
        .select("o_orderkey", "o_custkey")
    )


def q_ri_lineitem_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Referential integrity at fact×fact scale (shuffle anti-join)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select(F.col("o_orderkey").alias("l_orderkey"))
    # no pre-distinct: LeftAnti is an existence check, so deduplicating the
    # parent side only added an aggregate pass (round-6 optimization;
    # result identical — the oracle is NOT EXISTS)
    return (
        li.join(orders, on="l_orderkey", how="left_anti")
        .select("l_orderkey", "l_partkey", "l_linenumber")
    )


def q_ri_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Both referential-integrity shapes in one labeled violation frame:
    the broadcast anti-join (orders→customer, dim-sized right side) and the
    fact×fact shuffle anti-join (lineitem→orders). Merged from the former
    q_ri_orders_customer / q_ri_lineitem_orders rows (the driver records at
    most 50 queries; the raw single-check functions remain for the bench)."""
    a = q_ri_orders_customer(spark, sf).select(
        F.lit("orders->customer").alias("constraint"),
        F.col("o_orderkey").alias("key"),
        F.col("o_custkey").alias("ref"),
    )
    b = q_ri_lineitem_orders(spark, sf).select(
        F.lit("lineitem->orders").alias("constraint"),
        F.col("l_orderkey").alias("key"),
        F.col("l_partkey").alias("ref"),
    )
    return a.unionByName(b)


def q_domain_event_type(spark: SparkSession, sf: str) -> DataFrame:
    """DomainConstraint: enum membership violations (isin pushdown)."""
    ev = _t(spark, sf, "events")
    allowed = ["click", "view", "purchase", "signup"]
    return ev.filter(~F.col("event_type").isin(allowed)).select("event_id", "event_type")


def q_enum_mapping(spark: SparkSession, sf: str) -> DataFrame:
    """EnumMappingConstraint: remap with unresolved-as-violation semantics
    (reference data.clj:292-306)."""
    ev = _t(spark, sf, "events")
    mapping = {
        "click": "interaction",
        "view": "interaction",
        "purchase": "conversion",
        "signup": "conversion",
    }
    mexpr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return (
        ev.select(F.coalesce(mexpr[F.col("event_type")], F.lit("UNRESOLVED")).alias("mapped"))
        .groupBy("mapped")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_profile_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """One profile-snapshot row: events null rates (profile_table's
    null_rate aggregate) × lineitem exact distinct counts (the HLL slot,
    oracle-checkable exactly). Merged from the former q_nullrate_events and
    q_distinct_counts rows (50-slot driver registry — see COVERAGE.md);
    both sides stay fully oracled, the cross join of two 1-row aggregates
    is free."""
    ev = _t(spark, sf, "events").agg(
        F.round(F.avg(F.col("props").isNull().cast("double")), 6).alias("null_rate_props"),
        F.round(F.avg(F.col("value").isNull().cast("double")), 6).alias("null_rate_value"),
        F.round(F.avg(F.col("user_id").isNull().cast("double")), 6).alias("null_rate_user"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    li = _t(spark, sf, "lineitem").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )
    return ev.crossJoin(li)


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based event sessionization (functions/sessions.py): per-user
    sessions at a 6-hour gap over the events table — F.session_window's
    native state machine (identical expression under Structured Streaming
    with a watermark). The oracle re-derives sessions with the classic
    lag/cumsum construction; matching rows pin Spark's merge semantics
    (session end = last event + gap; a new session starts only when the
    inter-event delta EXCEEDS the gap — events exactly gap apart merge,
    their windows touch). duration_s is excluded from the compare (engine-specific
    epoch truncation); n_events/sum_value/start/end carry the content."""
    from unify_spark.functions.sessions import sessionize

    ev = _t(spark, sf, "events")
    out = sessionize(
        ev, "ts", "user_id", gap="6 hours",
        agg_exprs=[F.round(F.sum("value"), 4).alias("sum_value")],
    )
    return out.select("user_id", "session_start", "session_end", "n_events", "sum_value")


def q_quantiles_price(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch slot — exact percentile here so the DuckDB oracle can
    verify values; the engine's profiler uses percentile_approx (mergeable
    sketch) for the same stat at scale. Computed via the distributed
    relational formulation (operators/profile.exact_group_percentiles):
    bit-identical to ``percentile(l_extendedprice, p)`` but without the
    builtin's one-reduce-task-per-group value-map merge (guide §2.5 skew /
    §5 per-task state — measured 14.9s → ~2s on 6M rows × 3 groups)."""
    from unify_spark.operators.profile import exact_group_percentiles

    li = _t(spark, sf, "lineitem")
    out = exact_group_percentiles(
        li, "l_extendedprice", {"p50_price": 0.5, "p95_price": 0.95}, "l_returnflag"
    )
    return out.select(
        "l_returnflag",
        F.round("p50_price", 4).alias("p50_price"),
        F.round("p95_price", 4).alias("p95_price"),
    )


def q_completeness_linenumber(spark: SparkSession, sf: str) -> DataFrame:
    """Count-vs-max completeness check (reference query.clj:136-146 —
    therapies-per-subject order completeness)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.max("l_linenumber").alias("max_line"),
        )
        .filter(F.col("n_lines") != F.col("max_line"))
    )


def q_window_top_event(spark: SparkSession, sf: str) -> DataFrame:
    """Window/top-k per key (row_number over value desc)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 6).alias("top_value"))
    )


def q_drift_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """DriftConstraint's distributed half: per-partition histogram counts
    (the KS/PSI sufficient statistic)."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_dedup_exact_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact text dedup by content hash."""
    docs = _t(spark, sf, "documents")
    return dedup.exact_duplicates(
        docs.select(F.md5("text").alias("text_hash")), ["text_hash"]
    )


def q_text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting per language: whitespace tokenizer AND the
    BPE-pretokenizer count (letter runs / digit runs / single punctuation)
    in one grouped pass — both tokenizer families, one correctness row."""
    docs = _t(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count("text").cast("long")).alias("total_tokens"),
        F.sum(text.bpe_ish_token_count("text").cast("long")).alias("total_bpe_tokens"),
    )


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality features: length/punct/stopword ratios plus
    the Gopher-style repetition signals (repeated-token and repeated-
    3-gram fractions — the boilerplate/keyword-stuffing gates), and the
    C4-style boilerplate-removal counters (remove_boilerplate_lines in
    token mode — the synthetic docs are single-line, so the segment
    delimiter is the token boundary and 'boilerplate' means tokens present
    in >= 50 distinct docs): n_lines segments scanned, n_removed dropped."""
    docs = _t(spark, sf, "documents")
    # batch (Arrow) quality features — same numbers as the Column form
    # (text.with_quality_frame docstring records the parity contract), one
    # tokenization per document instead of an interpreted HOF stack per
    # feature (guide §4.2; measured 8-10s → ~1s on the feature side)
    feats = text.with_quality_frame(docs.select("doc_id", "text"), "text")
    bp = text.remove_boilerplate_lines(
        docs, "doc_id", "text", min_doc_freq=50, delim=" "
    ).select("doc_id", "n_lines", "n_removed")
    return feats.select(
        "doc_id",
        F.col("n_tokens"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("token_repetition_ratio", 6).alias("tok_rep_ratio"),
        F.round("trigram_repetition_ratio", 6).alias("tri_rep_ratio"),
    ).join(bp, on="doc_id")


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized document fingerprint (md5 of canonicalized text)."""
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


def q_embed_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact cosine >= 0.35 (brute force)."""
    emb = _t(spark, sf, "embeddings")
    pairs = similarity.cosine_pairs(emb, threshold=0.35)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


def q_embed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 embedding (deterministic
    ordering by rounded similarity then id)."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    base = emb.filter(F.col("vec_id") != 0).crossJoin(
        F.broadcast(q.withColumnRenamed("embedding", "qv"))
    )
    sim = F.round(
        similarity.cosine(
            similarity._as_double("embedding"), similarity._as_double("qv")
        ),
        6,
    ).alias("cos_sim")
    return (
        base.select("vec_id", sim)
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(10)
    )


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang column (confusion counts)."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select("lang", text.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_minhash_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (rows-only check; semantics pinned in
    tests/test_functions.py)."""
    docs = _t(spark, sf, "documents")
    return dedup.minhash_candidates(docs, "doc_id", "text", num_hashes=32, bands=8)


def q_simhash_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash banding near-dup candidates (rows-only check)."""
    docs = _t(spark, sf, "documents")
    return dedup.simhash_candidates(docs, "doc_id", "text", band_bits=16)


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.2 — fully oracle-checked: shingles
    are plain token trigrams (no engine-specific hashing), so DuckDB
    reproduces identical (id_a, id_b, jaccard) rows via
    regexp_split_to_array + slice + self-join. The hot-shingle cap
    (default 10000) is a no-op at oracle scale (500 docs), so both sides
    compute over the identical shingle universe."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_lsh_ann(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate NN for the first 5 vectors (rows-only).
    Signatures are numpy-matmul'd in one Arrow batch; 4 bands of 4 bits
    give multi-band OR recall (see similarity.lsh_band_signatures)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_ann_topk(emb, queries, dim=64, k=5, n_planes=16, n_bands=4)
    return out.select("id_q", "id_b", F.round("cos_sim", 6).alias("cos_sim"), "rank")


def q_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate NN for the first 5 vectors (rows-only): deterministic
    spherical k-means quantizer, n_probe cell probing, exact cosine re-rank
    (see similarity.ivf_ann_topk; recall pinned in tests)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_ann_topk(emb, queries, dim=64, k=5, n_cells=16, n_probe=4)
    return out.select("id_q", "id_b", F.round("cos_sim", 6).alias("cos_sim"), "rank")


def q_winnow_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-fingerprint near-dup candidates (rows-only: the rolling
    hash isn't reproducible in DuckDB; edit-robustness pinned in
    tests/test_functions.py). Query tuning for this template-heavy
    synthetic corpus: w=12 (winnowing window — guarantee detects shared
    runs ≥ w+k−1 = 18 chars, ample for near-dup DOCS vs plagiarism
    granularity) thins fingerprint density ~2.6× and the pair join mass
    ~6×; max_fp_freq=800 cuts the boilerplate fingerprint band (quadratic
    join mass, no discriminative signal — the MOSS over-common-fingerprint
    rule); min_shared=15 rescales the share floor to the thinner
    fingerprint set. Measured against exact-Jaccard≥0.5 ground truth at
    sf0.01 this config's recall is 0.96 vs the dense (w=4, min_shared=40)
    setting's 0.92, at ~4× less wall (7.1s → ~3s at sf0.1); recall also
    pinned at these parameters in tests."""
    docs = _t(spark, sf, "documents")
    return dedup.winnow_candidates(
        docs, "doc_id", "text", w=12, min_shared=15, max_fp_freq=800
    )


def _rescore_candidates(spark: SparkSession, sf: str, cands: DataFrame) -> DataFrame:
    """Shared derived-oracle skeleton for the hash-dependent candidate
    generators: intersect the emitted candidate pairs with the EXACT
    3-gram-Jaccard-≥0.5 pair set. The intersection equals the exact set iff
    candidate recall@0.5 is 1.0 — so the driver's row/hash compare against
    the exact-all-pairs DuckDB oracle is a true recall gate on the banding
    scheme, even though the hashes themselves aren't SQL-reproducible. A
    single missed true pair drops a row and turns the query red."""
    docs = _t(spark, sf, "documents")
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return exact.join(cands.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_minhash_precision(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate completeness, fully oracled: candidates
    (num_hashes=32, bands=8 — the q_minhash_candidates config) re-scored
    with exact 3-gram Jaccard and intersected with the exact ≥0.5 pair set;
    the oracle computes that exact set directly. Miss probability per true
    pair at j=0.9 with r=4,b=8 is (1-j^4)^8 ≈ 4e-5 — measured recall here
    is 1.0 at sf0.001 and sf0.01. The raw (hash-dependent) candidate frame
    stays pytest-pinned in tests/test_functions.py."""
    docs = _t(spark, sf, "documents")
    cands = dedup.minhash_candidates(docs, "doc_id", "text", num_hashes=32, bands=8)
    return _rescore_candidates(spark, sf, cands)


def q_simhash_precision(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash candidate completeness, fully oracled (same skeleton as
    q_minhash_precision). band_bits=8 (8 bands of 8 bits) rather than the
    throughput query's 16: a true near-dup pair needs only ONE intact band,
    and 8-bit bands make a miss need hamming spread across all 8 — measured
    recall 1.0 at both oracle SFs, where 16-bit bands measured 0.84-0.86."""
    docs = _t(spark, sf, "documents")
    cands = dedup.simhash_candidates(docs, "doc_id", "text", band_bits=8)
    return _rescore_candidates(spark, sf, cands)


def q_winnow_precision(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing candidate completeness, fully oracled (same skeleton).
    The dense config (w=4, min_shared=10, max_fp_freq=2000) — winnowing
    guarantees a shared run ≥ w+k-1 chars yields a shared fingerprint, and
    near-dups at Jaccard ≥0.5 share many such runs; measured recall 1.0 at
    both oracle SFs (the throughput-tuned w=12 config measures 0.93-0.96
    and stays a rows-only + pytest-pinned query)."""
    docs = _t(spark, sf, "documents")
    cands = dedup.winnow_candidates(
        docs, "doc_id", "text", w=4, min_shared=10, max_fp_freq=2000
    )
    return _rescore_candidates(spark, sf, cands)


def _ann_precision_frames(spark: SparkSession, sf: str):
    """Deterministic ANN ground truth: the embeddings fixture has no
    high-similarity pairs (max pairwise cosine ≈0.51), so augment the base
    with SCALED copies (vec_id+100000 = 1.5×vector for vec_id<100). Scaling
    preserves direction exactly, so each query's copy sits at cosine 1.0 —
    and both hyperplane signatures and IVF cell assignment are pure
    functions of direction, making 'every duplicate direction is found' a
    deterministic invariant of the algorithms, not fixture luck. Returns
    (base, queries, exact ≥0.99 directed pairs)."""
    emb = _t(spark, sf, "embeddings")
    embd = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    scaled = embd.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    base = embd.unionByName(scaled)
    queries = embd.filter(F.col("vec_id") < 100)
    b2 = base.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    cross = queries.select(
        F.col("vec_id").alias("id_q"), F.col("embedding").alias("eq")
    ).crossJoin(F.broadcast(b2)).filter(F.col("id_q") != F.col("id_b"))
    exact = cross.select(
        "id_q",
        "id_b",
        F.round(similarity.cosine(F.col("eq"), F.col("eb")), 4).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= 0.99)
    return base, queries, exact


def q_lsh_ann_precision(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH ANN completeness, fully oracled: exact cosine-≥0.99
    directed pairs (each query and its scaled duplicate direction)
    intersected with lsh_ann_topk's candidates. Identical directions get
    identical band signatures, so recall on this set is 1.0 by
    construction; the oracle recomputes the exact pair set in SQL. Graded
    recall on borderline pairs stays pytest-pinned (test_functions.py)."""
    base, queries, exact = _ann_precision_frames(spark, sf)
    cands = similarity.lsh_ann_topk(base, queries, dim=64, k=10, n_planes=16, n_bands=4)
    return exact.join(cands.select("id_q", "id_b"), ["id_q", "id_b"], "left_semi")


def q_ivf_ann_precision(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN completeness, fully oracled (same construction): identical
    directions map to the same spherical-k-means cell, and a query always
    probes its own cell first, so its duplicate is always in the probed
    candidate set regardless of the trained centroids."""
    base, queries, exact = _ann_precision_frames(spark, sf)
    cands = similarity.ivf_ann_topk(base, queries, dim=64, k=10, n_cells=16, n_probe=4)
    return exact.join(cands.select("id_q", "id_b"), ["id_q", "id_b"], "left_semi")


def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate clustering via distributed connected components over
    exact-fingerprint star edges (each doc → its group's min id). The CC
    operator is the same one the near-dup pipeline uses on LSH candidate
    edges (graph.duplicate_clusters); phrasing the edges from fingerprints
    makes the result SQL-oracle-checkable (min-per-fingerprint window)."""
    from unify_spark.functions.graph import connected_components

    docs = _t(spark, sf, "documents")
    fp = docs.select("doc_id", text.fingerprint("text").alias("fp"))
    roots = fp.groupBy("fp").agg(F.min("doc_id").alias("root"))
    edges = fp.join(roots, on="fp").select(
        F.col("doc_id").alias("src"), F.col("root").alias("dst")
    )
    cc = connected_components(edges, "src", "dst")
    return (
        fp.select("doc_id")
        .join(cc, fp["doc_id"] == cc["node"], "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster"))
    )


def q_multihop_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-hop datalog-style join chain (SURVEY §2.3, reference
    query.clj:25-29): lineitem→orders→customer→nation→region rolled up to
    per-region revenue. Region/nation are broadcast dims; the fact-fact hop
    shuffles on the join key only."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf, "region").select("r_regionkey", "r_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", rev)
        .groupBy("r_name")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_uid_synthesis(spark: SparkSession, sf: str) -> DataFrame:
    """Identity model (SURVEY §1.4): context-scoped UID path join + md5
    hashing (unify's 256-char tuple workaround, tx_data.clj:67-85)."""
    from unify_spark.schema.model import context_uid, hashed_uid

    cust = _t(spark, sf, "customer")
    return cust.select(
        "c_custkey",
        context_uid(F.col("c_name"), F.col("c_nationkey").cast("string")).alias("uid"),
        F.md5(F.concat_ws("|:~", F.col("c_name"), F.col("c_nationkey").cast("string"))).alias("uid_md5"),
        hashed_uid(F.col("c_name"), F.col("c_nationkey").cast("string")).alias("huid"),
    )


def q_unpivot_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Molten/melt operator (SURVEY §2.2, data.clj:537-553) via unpivot."""
    from unify_spark.operators.transforms import molten

    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    )
    out = molten(li, ["l_orderkey", "l_linenumber"], ["l_quantity", "l_discount", "l_tax"])
    return out.select(
        "l_orderkey", "l_linenumber", "variable", F.round("value", 6).alias("value")
    )


def q_range_violations(spark: SparkSession, sf: str) -> DataFrame:
    """RangeConstraint shape: rows outside a numeric contract (filter is
    pushed into the parquet scan — see PLANS.md)."""
    ev = _t(spark, sf, "events")
    return ev.filter(
        F.col("value").isNotNull() & ((F.col("value") < 0) | (F.col("value") > 95))
    ).select("event_id", F.round("value", 6).alias("value"))


def q_windowed_events(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time windowed aggregation (the streaming window shape run on
    the batch table; identical code runs on readStream with a watermark)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_upsert_conflict(spark: SparkSession, sf: str) -> DataFrame:
    """Upsert-collision crosscheck (SURVEY §2.3, upsert_coordination.clj:25-105):
    duplicate composite keys whose other attributes differ."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.count_distinct(F.struct("l_quantity", "l_extendedprice")).alias("n_variants")
        )
        .filter(F.col("n_variants") > 1)
    )


def q_tdigest_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """t-digest sketch quantiles, oracle-checked as an accuracy bound:
    |sketch − exact percentile| ≤ 1% of the per-part value range. The oracle
    asserts TRUE per part, so a drifting sketch turns the row red. Tight
    accuracy pins live in tests/test_tdigest.py."""
    from unify_spark.operators import tdigest as td

    li = _t(spark, sf, "lineitem").withColumnRenamed("l_returnflag", "part")
    digests = td.sketch_column(li, "l_extendedprice", part_col="part")
    exact = {
        r["part"]: (r["e50"], r["e95"], r["rng"])
        for r in li.groupBy("part")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
            (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("rng"),
        )
        .collect()
    }
    rows = []
    for p, (e50, e95, rng) in sorted(exact.items()):
        d, tol = digests[p], 0.01 * rng
        rows.append(
            (
                p,
                bool(abs(td.quantile(d, 0.5) - e50) <= tol),
                bool(abs(td.quantile(d, 0.95) - e95) <= tol),
            )
        )
    return spark.createDataFrame(rows, "part string, p50_ok boolean, p95_ok boolean")


def q_regex_violations(spark: SparkSession, sf: str) -> DataFrame:
    """RegexConstraint (char-domain/pattern contract, specs.clj:26-44):
    violation rows via the constraint class itself."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import RegexConstraint

    docs = _t(spark, sf, "documents")
    c = RegexConstraint("documents", "source", "^src[0-9]$", description="src[0-9]")
    return c.violations({"documents": docs}, ValidationContext()).select("key", "observed")


def q_length_violations(spark: SparkSession, sf: str) -> DataFrame:
    """LengthConstraint (256-char-cap family, specs.clj:44)."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import LengthConstraint

    docs = _t(spark, sf, "documents")
    c = LengthConstraint("documents", "text", max_len=450)
    return c.violations({"documents": docs}, ValidationContext()).select("key", "observed")


def q_any_present(spark: SparkSession, sf: str) -> DataFrame:
    """AnyPresentConstraint (measurement-has-value family, specs.clj:565-635):
    rows where the whole value-column group is null."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import AnyPresentConstraint

    ev = _t(spark, sf, "events")
    c = AnyPresentConstraint("events", ["props", "value", "user_id"])
    return c.violations({"events": ev}, ValidationContext()).select("key")


def q_conditional_required(spark: SparkSession, sf: str) -> DataFrame:
    """ConditionalConstraint (cell-population shape, specs.clj:321-338):
    purchase events must carry value and user_id."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import ConditionalConstraint

    ev = _t(spark, sf, "events")
    c = ConditionalConstraint("events", "event_type = 'purchase'", ["value", "user_id"])
    return c.violations({"events": ev}, ValidationContext()).select("key", "column")


def q_embed_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic (embedding-space) duplicate clustering: banded hyperplane
    LSH candidates → exact-cosine filter → pointer-doubling connected
    components. Run over embeddings plus exact copies (ids +100000): the
    organic max pairwise cosine in this table is ~0.51, so at
    threshold=0.95 the injected copies are the ONLY duplicates, identical
    vectors share every LSH band deterministically, and the oracle reduces
    to min-id-per-identical-vector — a hard rows+hash check of the whole
    candidate→verify→cluster pipeline."""
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    copies = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    both = emb.unionByName(copies)
    return similarity.embedding_dup_clusters(both, dim=64, threshold=0.95)


def q_vector_violations(spark: SparkSession, sf: str) -> DataFrame:
    """VectorConstraint (embedding contract: non-null, dim=64, elements
    non-null and finite, nonzero norm — the screen every ANN/similarity
    stage assumes): run over embeddings plus deterministically corrupted
    copies (ids +100000; vec_id%5 picks truncation / null / NaN / null
    element / Infinity injection) so every mutated row violates with a
    distinct reason. Pure higher-order Column expressions; oracle mirrors
    the corruption and the reason CASE. The null-element and Infinity arms
    pin the advisor-flagged gap: a NULL element used to null out every
    predicate and pass the gate entirely."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import VectorConstraint

    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")

    def _first(v):
        return F.concat(F.array(F.lit(v).cast("float")), F.slice("embedding", 2, 63))

    mutated = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.when(F.col("vec_id") % 5 == 0, F.slice("embedding", 1, 10))
        .when(F.col("vec_id") % 5 == 1, F.lit(None).cast("array<float>"))
        .when(F.col("vec_id") % 5 == 2, _first(float("nan")))
        .when(F.col("vec_id") % 5 == 3, _first(None))
        .otherwise(_first(float("inf")))
        .alias("embedding"),
    )
    both = emb.unionByName(mutated)
    c = VectorConstraint("embeddings", "embedding", dim=64)
    return c.violations({"embeddings": both}, ValidationContext()).select(
        "key", F.col("observed").alias("reason")
    )


def q_sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sampling (functions/sampling.py): keep ~25% of
    documents by md5(doc_id) prefix — reproducible across runs, engines,
    and partitionings, so the oracle re-derives the exact member set."""
    from unify_spark.functions import sampling

    docs = _t(spark, sf, "documents")
    return sampling.sample_hash(docs, "doc_id", 0.25).select("doc_id")


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum deterministic sampling: purchases kept whole, clicks at
    10%, everything else at 5% — the corpus-rebalancing primitive."""
    from unify_spark.functions import sampling

    ev = _t(spark, sf, "events")
    out = sampling.stratified_sample(
        ev, "event_id", "event_type", {"click": 0.10, "purchase": 1.0}, default_rate=0.05
    )
    return out.select("event_id", "event_type")


def q_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split from contiguous hash ranges —
    a document's split never changes as the corpus grows around it."""
    from unify_spark.functions import sampling

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        sampling.split_columns("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
    )


def q_take_per_stratum(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-count deterministic sampling: the 50 events per type with the
    smallest id-hash — quota sampling that rate-based hash sampling can't
    express, still partition-independent and engine-reproducible."""
    from unify_spark.functions import sampling

    ev = _t(spark, sf, "events")
    return sampling.take_per_stratum(ev, "event_id", "event_type", 50).select(
        "event_id", "event_type"
    )


def q_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing (functions/packing.py): global
    exclusive prefix sum of whitespace token counts (distributed two-phase
    scan, never a single global window task) → chunk placement at a
    256-token budget. Oracle is the plain SQL window — same numbers,
    different physical plan."""
    from unify_spark.functions import packing

    docs = _t(spark, sf, "documents")
    return packing.pack_documents(docs, "doc_id", "text", budget=256)


def q_pack_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group (language) token packing: independent chunk streams per
    lang so no training sequence straddles two languages. Plain grouped
    window — one shuffle on the group key, no global-window task."""
    from unify_spark.functions import packing

    docs = _t(spark, sf, "documents").withColumn("_n_tok", text.token_count("text"))
    return packing.pack_chunks_grouped(docs, "doc_id", "_n_tok", budget=256, group_col="lang")


def q_pack_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Straddle splits over the packed documents: one (doc, chunk,
    slice_start, slice_len) row per chunk a document touches — the rows a
    training-sequence builder consumes. Same prefix-sum numbers as
    q_pack_chunks plus a pure sequence/explode projection (no extra
    shuffle); oracle re-derives the spans from the SQL window prefix sum
    with generate_series."""
    from unify_spark.functions import packing

    docs = _t(spark, sf, "documents")
    packed = packing.pack_documents(docs, "doc_id", "text", budget=256)
    return packing.pack_spans(packed, "doc_id", budget=256)


def q_pii_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PII surface scan (functions/text.py PII_PATTERNS): per-row match
    counts of email/ipv4/phone/ssn patterns. The testdata customer table
    carries no free-text columns, so the query derives a deterministic
    contact-card blob from the integer keys (same construction in the
    oracle SQL) — every row has an email, and ip/phone/ssn appear on
    modular subsets so the counts are non-trivial. Engine-portable regexes
    (no lookaround) keep Java and RE2 agreeing."""
    cust = _t(spark, sf, "customer")
    key = F.col("c_custkey").cast("string")
    nat = F.col("c_nationkey").cast("string")
    blob = F.concat(
        F.lit("u"), key, F.lit("@ex"), (F.col("c_custkey") % 7).cast("string"),
        F.lit(".com"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.concat(F.lit(" 10.0."), nat, F.lit(".1"))
        ).otherwise(F.lit("")),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.lit(" 25-989-"),
                F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
                F.lit("-2988"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.concat(
                F.lit(" 123-45-"),
                F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    counts = text.pii_counts(blob)
    return cust.select(
        "c_custkey",
        *[expr.cast("long").alias(f"n_{name}") for name, expr in counts.items()],
    )


def q_dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Formatting-insensitive exact dedup (normalize: lower, strip
    punctuation, collapse whitespace, then md5): run over documents plus an
    uppercased copy of itself, so every original/copy pair collides ONLY
    after normalization. Two-phase — the window sees (id, 32-byte fp),
    never the text."""
    docs = _t(spark, sf, "documents")
    shifted = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text")
    )
    both = docs.select("doc_id", "text").unionByName(shifted)
    return text.normalized_duplicates(both, "doc_id", "text")


def q_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment dedup (|A∩B| / |A| over trigram sets): run
    over documents plus a 20-token-prefix copy of each (ids +200000), so
    every prefix is fully contained in its source (containment 1.0) while
    scoring near-zero symmetric Jaccard — the subset-duplicate case this
    operator exists for. Fully oracle-checked: plain-string trigrams."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    trunc = docs.filter(F.col("text").isNotNull()).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.trim("text"), r"\s+"), 1, 20)).alias("text"),
    )
    both = docs.unionByName(trunc)
    pairs = dedup.ngram_containment_pairs(both, "doc_id", "text", n=3, threshold=0.9)
    return pairs.select(
        "id_small", "id_big", F.round("containment", 4).alias("containment")
    )


def q_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus top-20 bigrams by document frequency (boilerplate /
    contamination signal); TakeOrdered top-k, not a full sort."""
    docs = _t(spark, sf, "documents")
    return text.top_ngrams(docs, "text", n=2, k=20)


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_stats_lineitem(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_stats_lineitem": q_stats_lineitem,
        "q_uniqueness_dups": q_uniqueness_dups,
        "q_composite_uniqueness": q_composite_uniqueness,
        "q_ri_violations": q_ri_violations,
        "q_domain_event_type": q_domain_event_type,
        "q_enum_mapping": q_enum_mapping,
        "q_profile_snapshot": q_profile_snapshot,
        "q_sessionize": q_sessionize,
        "q_quantiles_price": q_quantiles_price,
        "q_completeness_linenumber": q_completeness_linenumber,
        "q_window_top_event": q_window_top_event,
        "q_drift_histogram": q_drift_histogram,
        "q_dedup_exact_docs": q_dedup_exact_docs,
        "q_text_tokens": q_text_tokens,
        "q_text_quality": q_text_quality,
        "q_text_fingerprint": q_text_fingerprint,
        "q_embed_cosine_pairs": q_embed_cosine_pairs,
        "q_embed_topk": q_embed_topk,
        "q_lang_id": q_lang_id,
        "q_minhash_precision": q_minhash_precision,
        "q_simhash_precision": q_simhash_precision,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_lsh_ann_precision": q_lsh_ann_precision,
        "q_ivf_ann_precision": q_ivf_ann_precision,
        "q_dup_clusters": q_dup_clusters,
        "q_multihop_revenue": q_multihop_revenue,
        "q_winnow_precision": q_winnow_precision,
        "q_uid_synthesis": q_uid_synthesis,
        "q_unpivot_lineitem": q_unpivot_lineitem,
        "q_range_violations": q_range_violations,
        "q_windowed_events": q_windowed_events,
        "q_upsert_conflict": q_upsert_conflict,
        "q_tdigest_quantiles": q_tdigest_quantiles,
        "q_regex_violations": q_regex_violations,
        "q_length_violations": q_length_violations,
        "q_any_present": q_any_present,
        "q_conditional_required": q_conditional_required,
        "q_embed_dup_clusters": q_embed_dup_clusters,
        "q_vector_violations": q_vector_violations,
        "q_sample_hash": q_sample_hash,
        "q_stratified_sample": q_stratified_sample,
        "q_split_assign": q_split_assign,
        "q_take_per_stratum": q_take_per_stratum,
        "q_pack_chunks": q_pack_chunks,
        "q_pack_grouped": q_pack_grouped,
        "q_pack_spans": q_pack_spans,
        "q_pii_scan": q_pii_scan,
        "q_dedup_normalized": q_dedup_normalized,
        "q_ngram_containment": q_ngram_containment,
        "q_top_ngrams": q_top_ngrams,
    }


_STOP_EN = "'the','a','of','and','to','in','is','that'"


def _jaccard_sql(thr: float) -> str:
    """Exact all-pairs token-3-gram Jaccard ≥ thr — the shared oracle for
    q_ngram_jaccard and the candidate-precision queries (which intersect
    their candidates with this exact set, so equality == recall 1.0)."""
    return rf"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents WHERE text IS NOT NULL
        ),
        idx AS (
          SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
          FROM toks
        ),
        sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM (
          SELECT id_a, id_b, common / (sa.sz + sb.sz - common) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        ) WHERE jaccard >= {thr}
    """


# exact cosine-≥0.99 directed pairs over embeddings ∪ scaled copies — the
# shared oracle for both ANN precision queries (see _ann_precision_frames:
# scaling preserves direction, so each of the first 100 vectors finds its
# 1.5× copy at cosine 1.0; no natural pair exceeds ~0.51)
_ANN_PRECISION_SQL = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scaled AS (
      SELECT vec_id + 100000 AS vec_id, list_transform(e, x -> x * 1.5) AS e
      FROM v WHERE vec_id < 100
    ),
    base AS (SELECT * FROM v UNION ALL SELECT * FROM scaled),
    q AS (SELECT * FROM v WHERE vec_id < 100)
    SELECT id_q, id_b, cos_sim FROM (
      SELECT q.vec_id AS id_q, b.vec_id AS id_b,
             ROUND(list_dot_product(q.e, b.e) /
                   (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(b.e, b.e))), 4)
                 AS cos_sim
      FROM q JOIN base b ON q.vec_id <> b.vec_id
    ) WHERE cos_sim >= 0.99
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q_stats_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   ROUND(MIN(l_extendedprice), 2) AS min_price,
                   ROUND(MAX(l_extendedprice), 2) AS max_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q_uniqueness_dups": """
            SELECT l_orderkey, COUNT(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
        """,
        "q_composite_uniqueness": """
            SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
        """,
        "q_ri_violations": """
            SELECT 'orders->customer' AS constraint, o_orderkey AS key, o_custkey AS ref
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'lineitem->orders' AS constraint, l_orderkey AS key, l_partkey AS ref
            FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        """,
        "q_domain_event_type": """
            SELECT event_id, event_type FROM events
            WHERE event_type NOT IN ('click','view','purchase','signup')
        """,
        "q_enum_mapping": """
            SELECT CASE event_type
                     WHEN 'click' THEN 'interaction'
                     WHEN 'view' THEN 'interaction'
                     WHEN 'purchase' THEN 'conversion'
                     WHEN 'signup' THEN 'conversion'
                     ELSE 'UNRESOLVED' END AS mapped,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "q_profile_snapshot": """
            SELECT * FROM (
              SELECT ROUND(AVG(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate_props,
                     ROUND(AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate_value,
                     ROUND(AVG(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate_user,
                     COUNT(*) AS n_rows
              FROM events
            ) CROSS JOIN (
              SELECT COUNT(DISTINCT l_partkey) AS n_parts,
                     COUNT(DISTINCT l_suppkey) AS n_supps,
                     COUNT(DISTINCT l_orderkey) AS n_orders
              FROM lineitem
            )
        """,
        "q_sessionize": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN LAG(ts) OVER w IS NULL
                           OR ts - LAG(ts) OVER w > INTERVAL '6 hours'
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts, value,
                     SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sid
              FROM o
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '6 hours' AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "q_quantiles_price": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
                   ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_completeness_linenumber": """
            SELECT l_orderkey, COUNT(*) AS n_lines, MAX(l_linenumber) AS max_line
            FROM lineitem GROUP BY l_orderkey
            HAVING COUNT(*) <> MAX(l_linenumber)
        """,
        "q_window_top_event": """
            SELECT user_id, event_id, ROUND(value, 6) AS top_value FROM (
              SELECT user_id, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q_drift_histogram": """
            SELECT CAST(month(o_orderdate) AS INT) AS order_month,
                   CAST(FLOOR(o_totalprice / 50000) AS INT) AS bucket,
                   COUNT(*) AS n
            FROM orders GROUP BY 1, 2
        """,
        "q_dedup_exact_docs": """
            SELECT md5(text) AS text_hash, COUNT(*) AS dup_count
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "q_text_tokens": r"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
                       AS total_tokens,
                   CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
                       AS total_bpe_tokens
            FROM documents GROUP BY lang
        """,
        "q_text_quality": rf"""
            WITH segs AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS l FROM documents
            ),
            hot AS (
              SELECT lt FROM (
                SELECT trim(l) AS lt, COUNT(DISTINCT doc_id) AS df
                FROM segs WHERE trim(l) <> '' GROUP BY 1
              ) WHERE df >= 50
            ),
            bp AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(SUM(CASE WHEN trim(l) IN (SELECT lt FROM hot)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
              FROM segs GROUP BY doc_id
            )
            SELECT q.doc_id, n_tokens, punct_ratio, stopword_ratio,
                   tok_rep_ratio, tri_rep_ratio, bp.n_lines, bp.n_removed
            FROM (
            SELECT doc_id,
                   len(t) AS n_tokens,
                   ROUND((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   ROUND(len(list_filter(t, x -> lower(x) IN ({_STOP_EN})))
                         / greatest(len(t), 1), 6) AS stopword_ratio,
                   ROUND(CASE WHEN len(t) > 0
                     THEN 1 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                     ELSE 0 END, 6) AS tok_rep_ratio,
                   ROUND(CASE WHEN len(t) >= 3
                     THEN 1 - len(list_distinct(list_transform(
                            generate_series(1, len(t) - 2),
                            i -> array_to_string(t[i:i+2], ' '))))
                          / CAST(len(t) - 2 AS DOUBLE)
                     ELSE 0 END, 6) AS tri_rep_ratio
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents)
            ) q JOIN bp USING (doc_id)
        """,
        "q_text_fingerprint": r"""
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "q_embed_cosine_pairs": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
            SELECT id_a, id_b, cos_sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_dot_product(a.e, b.e) /
                           (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4)
                         AS cos_sim
              FROM v a JOIN v b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.35
        """,
        "q_uid_synthesis": """
            SELECT c_custkey,
                   concat_ws('|:~', c_name, CAST(c_nationkey AS VARCHAR)) AS uid,
                   md5(concat_ws('|:~', c_name, CAST(c_nationkey AS VARCHAR))) AS uid_md5,
                   concat_ws('|:~', c_name, md5(CAST(c_nationkey AS VARCHAR))) AS huid
            FROM customer
        """,
        "q_unpivot_lineitem": """
            SELECT l_orderkey, l_linenumber, variable, ROUND(value, 6) AS value
            FROM (
              UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                       FROM lineitem)
              ON l_quantity, l_discount, l_tax INTO NAME variable VALUE value
            )
        """,
        "q_range_violations": """
            SELECT event_id, ROUND(value, 6) AS value FROM events
            WHERE value IS NOT NULL AND (value < 0 OR value > 95)
        """,
        "q_windowed_events": """
            SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS window_start,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q_upsert_conflict": """
            SELECT l_orderkey, l_linenumber,
                   COUNT(DISTINCT (l_quantity, l_extendedprice)) AS n_variants
            FROM lineitem GROUP BY l_orderkey, l_linenumber
            HAVING COUNT(DISTINCT (l_quantity, l_extendedprice)) > 1
        """,
        "q_lang_id": r"""
            WITH t AS (
              SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
            ), s AS (
              SELECT lang,
                len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','that'))) AS h_en,
                len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','zu'))) AS h_de,
                len(list_filter(toks, x -> lower(x) IN ('el','la','de','que','y','en','un','es'))) AS h_es,
                len(list_filter(toks, x -> lower(x) IN ('le','la','et','les','des','un','est','que'))) AS h_fr,
                len(list_filter(toks, x -> lower(x) IN ('的','是','在','了','和','有','我','不'))) AS h_zh
              FROM t
            )
            SELECT lang,
                   CASE WHEN greatest(h_en,h_de,h_es,h_fr,h_zh) = 0 THEN 'und'
                        WHEN h_zh >= greatest(h_en,h_de,h_es,h_fr) THEN 'zh'
                        WHEN h_fr >= greatest(h_en,h_de,h_es) THEN 'fr'
                        WHEN h_es >= greatest(h_en,h_de) THEN 'es'
                        WHEN h_en >= h_de THEN 'en'
                        ELSE 'de' END AS lang_pred,
                   COUNT(*) AS n
            FROM s GROUP BY 1, 2
        """,
        "q_tdigest_quantiles": """
            SELECT l_returnflag AS part, TRUE AS p50_ok, TRUE AS p95_ok
            FROM lineitem GROUP BY 1
        """,
        "q_multihop_revenue": """
            SELECT r_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_dup_clusters": r"""
            SELECT doc_id,
                   MIN(doc_id) OVER (
                     PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                   ) AS cluster
            FROM documents
        """,
        "q_regex_violations": """
            SELECT CAST(doc_id AS VARCHAR) AS key, source AS observed
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
        """,
        "q_length_violations": """
            SELECT CAST(doc_id AS VARCHAR) AS key, CAST(length(text) AS VARCHAR) AS observed
            FROM documents
            WHERE text IS NOT NULL AND length(text) > 450
        """,
        "q_any_present": """
            SELECT CAST(event_id AS VARCHAR) AS key FROM events
            WHERE COALESCE(CAST(props AS VARCHAR), CAST(value AS VARCHAR),
                           CAST(user_id AS VARCHAR)) IS NULL
        """,
        "q_conditional_required": """
            SELECT CAST(event_id AS VARCHAR) AS key, 'value' AS "column"
            FROM events WHERE event_type = 'purchase' AND value IS NULL
            UNION ALL
            SELECT CAST(event_id AS VARCHAR) AS key, 'user_id' AS "column"
            FROM events WHERE event_type = 'purchase' AND user_id IS NULL
        """,
        "q_ngram_jaccard": _jaccard_sql(0.2),
        # candidate-precision oracles: exact ≥0.5 Jaccard pair set — the
        # Spark side intersects its LSH/simhash/winnow candidates with this
        # set, so equality certifies recall 1.0 (see the query docstrings)
        "q_minhash_precision": _jaccard_sql(0.5),
        "q_simhash_precision": _jaccard_sql(0.5),
        "q_winnow_precision": _jaccard_sql(0.5),
        "q_lsh_ann_precision": _ANN_PRECISION_SQL,
        "q_ivf_ann_precision": _ANN_PRECISION_SQL,
        "q_embed_topk": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
                 q AS (SELECT e FROM v WHERE vec_id = 0)
            SELECT v.vec_id,
                   ROUND(list_dot_product(v.e, q.e) /
                         (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.e, q.e))), 6)
                       AS cos_sim
            FROM v, q WHERE v.vec_id <> 0
            ORDER BY cos_sim DESC, v.vec_id LIMIT 10
        """,
        "q_embed_dup_clusters": """
            WITH both_v AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
            )
            SELECT vec_id,
                   MIN(vec_id) OVER (
                     PARTITION BY CAST(embedding AS VARCHAR)
                   ) AS cluster
            FROM both_v
        """,
        "q_vector_violations": """
            WITH mutated AS (
              SELECT vec_id + 100000 AS vec_id,
                     CASE
                       WHEN vec_id % 5 = 0 THEN embedding[1:10]
                       WHEN vec_id % 5 = 1 THEN NULL
                       WHEN vec_id % 5 = 2
                         THEN list_concat(['NaN'::FLOAT], embedding[2:64])
                       WHEN vec_id % 5 = 3
                         THEN list_concat([NULL::FLOAT], embedding[2:64])
                       ELSE list_concat(['Infinity'::FLOAT], embedding[2:64])
                     END AS embedding
              FROM embeddings
            ),
            both_v AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM mutated
            )
            SELECT CAST(vec_id AS VARCHAR) AS key, reason FROM (
              SELECT vec_id,
                     CASE
                       WHEN embedding IS NULL THEN 'null'
                       WHEN len(embedding) <> 64 THEN 'wrong_dim'
                       WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                         THEN 'null_element'
                       WHEN len(list_filter(embedding, x -> isnan(x))) > 0 THEN 'nan'
                       WHEN len(list_filter(embedding,
                                x -> abs(CAST(x AS DOUBLE)) = 'Infinity'::DOUBLE)) > 0
                         THEN 'inf'
                       WHEN list_sum(list_transform(embedding,
                                     x -> CAST(x AS DOUBLE) * x)) = 0 THEN 'zero_norm'
                     END AS reason
              FROM both_v
            ) WHERE reason IS NOT NULL
        """,
        # deterministic hash sampling: the 8-hex md5-prefix comparison is the
        # engine-portable contract — thresholds come from the SAME
        # hash_threshold() the Spark side uses, so rates can never drift
        "q_sample_hash": f"""
            SELECT doc_id FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_thr(0.25)}'
        """,
        "q_stratified_sample": f"""
            SELECT event_id, event_type FROM events
            WHERE CASE
              WHEN CAST(event_type AS VARCHAR) = 'purchase' THEN TRUE
              WHEN CAST(event_type AS VARCHAR) = 'click'
                THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '{_thr(0.10)}'
              ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '{_thr(0.05)}'
            END
        """,
        "q_split_assign": f"""
            SELECT doc_id,
                   CASE
                     WHEN h < '{_thr(0.8)}' THEN 'train'
                     WHEN h < '{_thr(0.9)}' THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
                  FROM documents)
        """,
        "q_take_per_stratum": """
            SELECT event_id, event_type FROM (
              SELECT event_id, event_type,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                     ) AS rn
              FROM events
            ) WHERE rn <= 50
        """,
        "q_pack_chunks": r"""
            SELECT doc_id, n_tokens, tok_before,
                   tok_before // 256 AS chunk_id,
                   tok_before % 256 AS chunk_offset
            FROM (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS tok_before
              FROM (
                SELECT doc_id,
                       COALESCE(len(regexp_split_to_array(trim(text), '\s+')), 0)
                         AS n_tokens
                FROM documents
              )
            )
        """,
        "q_pack_grouped": r"""
            SELECT doc_id, lang, n_tokens, tok_before,
                   tok_before // 256 AS chunk_id,
                   tok_before % 256 AS chunk_offset
            FROM (
              SELECT doc_id, lang, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS tok_before
              FROM (
                SELECT doc_id, lang,
                       COALESCE(len(regexp_split_to_array(trim(text), '\s+')), 0)
                         AS n_tokens
                FROM documents
              )
            )
        """,
        "q_pack_spans": r"""
            WITH packed AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS tok_before
              FROM (
                SELECT doc_id,
                       COALESCE(len(regexp_split_to_array(trim(text), '\s+')), 0)
                         AS n_tokens
                FROM documents
              )
            ),
            fanned AS (
              SELECT doc_id, n_tokens, tok_before,
                     unnest(generate_series(tok_before // 256,
                                            (tok_before + n_tokens - 1) // 256)) AS chunk_id
              FROM packed WHERE n_tokens > 0
            )
            SELECT doc_id, chunk_id,
                   greatest(chunk_id * 256, tok_before) - tok_before AS slice_start,
                   least(chunk_id * 256 + 256, tok_before + n_tokens)
                     - greatest(chunk_id * 256, tok_before) AS slice_len
            FROM fanned
        """,
        "q_pii_scan": f"""
            SELECT c_custkey,
                   len(regexp_extract_all(blob, '{PII_PATTERNS["email"]}')) AS n_email,
                   len(regexp_extract_all(blob, '{PII_PATTERNS["ipv4"]}')) AS n_ipv4,
                   len(regexp_extract_all(blob, '{PII_PATTERNS["phone"]}')) AS n_phone,
                   len(regexp_extract_all(blob, '{PII_PATTERNS["ssn"]}')) AS n_ssn
            FROM (
              SELECT c_custkey,
                     'u' || CAST(c_custkey AS VARCHAR)
                     || '@ex' || CAST(c_custkey % 7 AS VARCHAR) || '.com'
                     || CASE WHEN c_custkey % 3 = 0
                          THEN ' 10.0.' || CAST(c_nationkey AS VARCHAR) || '.1'
                          ELSE '' END
                     || CASE WHEN c_custkey % 2 = 0
                          THEN ' 25-989-'
                               || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                               || '-2988'
                          ELSE '' END
                     || CASE WHEN c_custkey % 5 = 0
                          THEN ' 123-45-'
                               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END
                       AS blob
              FROM customer
            )
        """,
        "q_dedup_normalized": r"""
            WITH both_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, upper(text) AS text FROM documents
            ),
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                       '\s+', ' ', 'g'))) AS norm_fp
              FROM both_docs
            )
            SELECT doc_id, norm_fp, group_size FROM (
              SELECT doc_id, norm_fp,
                     COUNT(*) OVER (PARTITION BY norm_fp) AS group_size
              FROM fp
            ) WHERE group_size > 1
        """,
        "q_ngram_containment": r"""
            WITH both_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 200000 AS doc_id,
                     array_to_string(
                       (regexp_split_to_array(trim(text), '\s+'))[1:20], ' ') AS text
              FROM documents WHERE text IS NOT NULL
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM both_docs WHERE text IS NOT NULL
            ),
            idx AS (
              SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
              FROM toks
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            paired AS (
              SELECT id_a, id_b, common, sa.sz AS sz_a, sb.sz AS sz_b
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
            )
            SELECT id_small, id_big, ROUND(containment, 4) AS containment FROM (
              SELECT CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND id_a < id_b)
                          THEN id_a ELSE id_b END AS id_small,
                     CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND id_a < id_b)
                          THEN id_b ELSE id_a END AS id_big,
                     common / least(sz_a, sz_b) AS containment
              FROM paired
            ) WHERE containment >= 0.9
        """,
        "q_top_ngrams": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents WHERE text IS NOT NULL
            ),
            idx AS (
              SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
              FROM toks
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s FROM idx
            )
            SELECT s AS ngram, COUNT(*) AS doc_freq
            FROM sh GROUP BY s
            ORDER BY doc_freq DESC, ngram ASC
            LIMIT 20
        """,
    }
