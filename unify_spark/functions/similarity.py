"""Similarity search over embedding columns (array<float>).

Brute-force cosine (zip_with/aggregate — JVM-side, codegen'd) as the exact
baseline, plus a random-hyperplane LSH-bucketed variant as the scale path:
signatures shrink the candidate set from O(N) to a bucket, then exact cosine
re-ranks inside the bucket. Hyperplanes are deterministic (seeded hash-based
pseudo-gaussians), so results are reproducible without shipping a model.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine to a literal query vector.

    One narrow scan + a single global top-k (takeOrdered semantics via
    orderBy+limit → Spark's TakeOrderedAndProject, no full sort shuffle)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(_as_double(vec_col), q).alias("cos_sim")
    return (
        df.select(F.col(id_col), sim)
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — exact, O(N²) dot
    products; the correctness baseline the LSH path is checked against.
    At production N this is what ``lsh_ann_topk`` replaces."""
    v = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.round(F.col("cos_sim"), 4) >= threshold)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-gaussian hyperplane via splitmix64 + Box-Muller."""
    out = []
    for d in range(0, dim, 2):
        u1 = _splitmix_unit(plane_idx * 100_003 + d)
        u2 = _splitmix_unit(plane_idx * 100_003 + d + 1)
        r = math.sqrt(-2.0 * math.log(max(u1, 1e-12)))
        out.append(r * math.cos(2 * math.pi * u2))
        out.append(r * math.sin(2 * math.pi * u2))
    return out[:dim]


def _splitmix_unit(x: int) -> float:
    z = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z = z ^ (z >> 31)
    return (z >> 11) / float(1 << 53)


def _stack_valid(values, dim: int):
    """(matrix, mask) over an Arrow-batch vector column: stack only rows
    holding a non-null, length-``dim`` vector. One null or ragged vector
    must not kill the whole job (fail-at-end convention — the Column-
    expression form these UDFs replaced yielded null signatures for such
    rows; here they simply emit no signature/assignment rows, which
    downstream joins treat identically)."""
    import numpy as np

    mask = np.array(
        [v is not None and len(v) == dim for v in values], dtype=bool
    )
    if not mask.any():
        return None, mask
    return np.stack([np.asarray(values[i], dtype=np.float64) for i in np.flatnonzero(mask)]), mask


def _stack(values, dim: int, validated: bool):
    """``_stack_valid`` or its gated fast path: when the caller certifies
    the vectors already passed the VectorConstraint contract
    (``validated=True`` — see ``validated_vectors``), skip the per-row
    null/ragged mask and stack the batch directly; mask None means keep
    every row."""
    if not validated:
        return _stack_valid(values, dim)
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in values]), None


def validated_vectors(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_norm: bool = True,
):
    """Compose the VectorConstraint embedding contract as the documented
    pre-gate of the ANN entry points: returns ``(clean, violations)`` where
    ``clean`` rows satisfy non-null / dim / no-null-element / finite /
    nonzero-norm — exactly the invariants the Arrow stages assume — and
    ``violations`` is the standard violation frame for the audit sink.
    Downstream calls then pass ``validated=True`` to skip the per-batch
    masking (one pure-Column screen instead of N per-row Python checks)."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import VectorConstraint

    c = VectorConstraint("vectors", vec_col, dim=dim, check_norm=check_norm)
    clean = df.filter(c._reason().isNull())
    vios = c.violations({"vectors": df}, ValidationContext())
    return clean, vios


def _hyperplane_matrix(dim: int, n_planes: int):
    """dim × n_planes hyperplane matrix (deterministic; ships in the UDF
    closure — a few KB — instead of n_planes × dim literal expression trees)."""
    import numpy as np

    return np.array([_hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64).T


def lsh_band_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "id",
    out_vec: str = "v",
    validated: bool = False,
    with_bitsig: bool = False,
) -> DataFrame:
    """Banded random-hyperplane signatures, one row per (vector, band).

    The signature bits are computed in ONE Arrow-batched ``mapInPandas``
    (numpy matmul of the whole batch against the hyperplane matrix) — the
    scalar ``aggregate``/``zip_with`` expression storm this replaces was
    interpreted per-plane per-row and 10× slower. Bits split into
    ``n_bands`` contiguous bands (multi-band OR matching, mirroring the
    MinHash bander in dedup.py): two vectors are candidates when ANY band's
    packed signature matches, which restores recall that single-AND
    matching loses at scale. Vectors pass through the UDF so no join-back
    is needed.

    ``with_bitsig=True`` additionally packs ALL n_planes sign bits into
    ``ceil(n_planes/64)`` int64 words (``_bw0``, ``_bw1``, …): a compact
    per-vector sketch whose pairwise ``bit_count(xor)`` estimates the
    angle, used by ``embedding_near_dup_pairs`` to discard far-apart
    candidate pairs before any exchange or exact re-rank."""
    import numpy as np
    import pandas as pd

    if n_planes % n_bands:
        raise ValueError(f"n_planes={n_planes} must be divisible by n_bands={n_bands}")
    ppb = n_planes // n_bands
    H = _hyperplane_matrix(dim, n_planes)
    weights = (1 << np.arange(ppb, dtype=np.int64))
    n_words = (n_planes + 63) // 64 if with_bitsig else 0
    word_wts = [
        np.uint64(1) << np.arange(min(64, n_planes - 64 * wi), dtype=np.uint64)
        for wi in range(n_words)
    ]

    id_type = df.schema[id_col].dataType.simpleString()
    slim = df.select(F.col(id_col).alias(out_id), _as_double(vec_col).alias(out_vec))
    schema = f"{out_id} {id_type}, {out_vec} array<double>, sigs array<bigint>"
    schema += "".join(f", _bw{wi} bigint" for wi in range(n_words))

    def compute(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V, mask = _stack(pdf[out_vec].to_numpy(), dim, validated)
            if V is None:
                continue
            if mask is not None:
                pdf = pdf[mask]
            bits = (V @ H) >= 0.0  # n × n_planes
            sigs = np.stack(
                [bits[:, b * ppb : (b + 1) * ppb].astype(np.int64) @ weights for b in range(n_bands)],
                axis=1,
            )
            cols = {out_id: pdf[out_id], out_vec: pdf[out_vec], "sigs": list(sigs)}
            for wi in range(n_words):
                seg = bits[:, wi * 64 : (wi + 1) * 64].astype(np.uint64)
                cols[f"_bw{wi}"] = (seg * word_wts[wi]).sum(
                    axis=1, dtype=np.uint64
                ).view(np.int64)
            yield pd.DataFrame(cols)

    wide = slim.mapInPandas(compute, schema=schema)
    extra = [f"_bw{wi}" for wi in range(n_words)]
    return wide.select(
        out_id, out_vec, F.posexplode("sigs").alias("band", "sig"), *extra
    )


def ivf_train_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    validated: bool = False,
):
    """Deterministic IVF coarse quantizer: spherical k-means over the
    (L2-normalized) vectors, initialized from the seeded hyperplane
    pseudo-gaussians so training is reproducible without sampling.

    Distributed shape per iteration: ONE mapInPandas computes per-batch
    partial sums (cell → vector sum + count) via a numpy argmax against the
    broadcast centroid matrix, and a tiny groupBy(cell) reduces the
    per-dimension partials — the shuffle carries n_cells × dim doubles per
    batch, never vectors. Centroids (n_cells × dim floats) live on the
    driver like any broadcast model. Returns a numpy array."""
    import numpy as np
    import pandas as pd

    C = _hyperplane_matrix(dim, n_cells).T.astype(np.float64)  # n_cells × dim
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    slim = df.select(_as_double(vec_col).alias("v"))

    for _ in range(iters):
        Cb = C  # rebind for closure capture per iteration

        def partials(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                V, _ = _stack(pdf["v"].to_numpy(), dim, validated)
                if V is None:
                    continue
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
                cells = np.argmax(Vn @ Cb.T, axis=1)
                rows = {"cell": [], "vsum": [], "n": []}
                for c in np.unique(cells):
                    m = cells == c
                    rows["cell"].append(int(c))
                    rows["vsum"].append(V[m].sum(axis=0).tolist())
                    rows["n"].append(int(m.sum()))
                yield pd.DataFrame(rows)

        agg = (
            slim.mapInPandas(partials, "cell int, vsum array<double>, n long")
            .groupBy("cell")
            .agg(
                F.aggregate(
                    F.collect_list("vsum"),
                    F.array_repeat(F.lit(0.0), dim),
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("vsum"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        C = C.copy()
        for r in agg:
            if r["n"]:
                mean = np.array(r["vsum"]) / r["n"]
                norm_ = np.linalg.norm(mean)
                if norm_ > 1e-12:
                    C[r["cell"]] = mean / norm_
    return C


def ivf_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "id",
    out_vec: str = "v",
    n_probe: int = 1,
    validated: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid cells (one row
    per (vector, probed cell)); numpy matmul per Arrow batch. n_probe=1 for
    indexing the base side; >1 on the query side trades latency for recall."""
    import numpy as np
    import pandas as pd

    C = centroids / np.maximum(
        __import__("numpy").linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    id_type = df.schema[id_col].dataType.simpleString()
    slim = df.select(F.col(id_col).alias(out_id), _as_double(vec_col).alias(out_vec))
    schema = f"{out_id} {id_type}, {out_vec} array<double>, cells array<int>"

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V, mask = _stack(pdf[out_vec].to_numpy(), C.shape[1], validated)
            if V is None:
                continue
            if mask is not None:
                pdf = pdf[mask]
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            sims = Vn @ C.T
            top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
            yield pd.DataFrame(
                {out_id: pdf[out_id], out_vec: pdf[out_vec], "cells": list(top)}
            )

    wide = slim.mapInPandas(assign, schema=schema)
    return wide.select(out_id, out_vec, F.explode("cells").alias("cell"))


def ivf_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    validated: bool = False,
) -> DataFrame:
    """IVF approximate NN — the second scale path next to hyperplane LSH:
    a coarse quantizer routes vectors to cells, queries probe their
    ``n_probe`` nearest cells, exact cosine re-ranks inside probed cells.

    Plan shape: base vectors get ONE cell row each (no fan-out); the small
    query side fans out n_probe ways and broadcast-joins on cell, so the
    base is never shuffled. Recall grows with n_probe (and cell count sizes
    the candidate set: E[candidates] ≈ N × n_probe / n_cells). Pass
    ``centroids`` to reuse a trained quantizer across queries (the IVF
    "index")."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = ivf_train_centroids(df, dim, n_cells, iters, vec_col, validated=validated)
    base = ivf_assign(df, centroids, id_col, vec_col, "id_b", "vb", n_probe=1, validated=validated)
    qs = ivf_assign(
        queries, centroids, id_col, vec_col, "id_q", "vq", n_probe=n_probe, validated=validated
    )
    joined = base.join(F.broadcast(qs), on="cell").where(
        F.col("id_b") != F.col("id_q")
    )
    scored = joined.select(
        "id_q", "id_b", cosine(F.col("vq"), F.col("vb")).alias("cos_sim")
    ).dropDuplicates(["id_q", "id_b"])
    w = Window.partitionBy("id_q").orderBy(F.desc("cos_sim"), F.col("id_b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    n_bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validated: bool = False,
) -> DataFrame:
    """Approximate NN: multi-band hyperplane-LSH candidates, exact cosine
    re-rank, per-query top-k.

    Plan shape (scale path): the base side is never shuffled — its banded
    signatures broadcast-join against the (small) query side's, duplicate
    candidates from multiple matching bands are dropped, and only the
    matched candidate set flows into the window top-k. Recall/latency tuned
    by (n_planes, n_bands): more bands → higher recall, bigger candidate
    sets; more bits per band → tighter buckets."""
    from pyspark.sql import Window

    if n_bands is None:
        n_bands = max(1, n_planes // 6)
        while n_planes % n_bands:
            n_bands -= 1
    base = lsh_band_signatures(
        df, dim, n_planes, n_bands, id_col, vec_col,
        out_id="id_b", out_vec="vb", validated=validated,
    )
    qs = lsh_band_signatures(
        queries, dim, n_planes, n_bands, id_col, vec_col,
        out_id="id_q", out_vec="vq", validated=validated,
    )
    joined = (
        base.join(F.broadcast(qs), on=["band", "sig"])
        .where(F.col("id_b") != F.col("id_q"))
        .dropDuplicates(["id_q", "id_b"])  # multi-band OR: keep each pair once
    )
    scored = joined.select(
        "id_q", "id_b", cosine(F.col("vq"), F.col("vb")).alias("cos_sim")
    )
    w = Window.partitionBy("id_q").orderBy(F.desc("cos_sim"), F.col("id_b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 100,
    n_bands: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """All-pairs embedding near-duplicates: (id_a, id_b, cos_sim ≥
    threshold). The semantic-dedup primitive — exact-text and n-gram dedup
    miss paraphrases that embed nearly identically.

    Scale shape mirrors minhash_candidates, not the O(N²) cosine_pairs
    baseline: banded hyperplane signatures (one Arrow matmul pass), a
    capped SELF-join on (band, sig), the exact cosine computed ONLY on
    deduplicated candidates. Two all-pairs-specific choices (vs
    lsh_ann_topk's query defaults):

    - **Fine bands.** 10 bits × 10 bands: a cos≥0.95 pair shares a band
      with p ≈ 0.9^10 = 0.35, so multi-band OR recall ≈ 1−0.65^10 ≈ 0.99,
      while a random pair collides at 0.5^10 ≈ 1e-3 per band — the
      4-bit query-mode bands would bucket N vectors into 16 groups and
      regenerate ~N²/32 candidates (measured 1.85M pairs from 4k vectors).
    - **Slim join.** The band self-join carries ONLY (band, sig, id) plus
      the packed bit-signature words; duplicate (multi-band) candidates
      collapse BEFORE the vectors are re-attached by id, so the wide rows
      never pass through the dropDuplicates exchange — the same
      hash-not-payload rule as the equality constraint.
    - **Hamming prefilter.** A candidate pair's full-signature Hamming
      distance estimates its angle (E[h] = n_planes·θ/π — the standard
      SimHash estimator), so pairs whose h exceeds
      E[h@threshold] + 6σ + 2 cannot plausibly sit at cos ≥ threshold
      and are dropped INSIDE the self-join stage, before the dedup
      exchange, the vector join-back, and the exact cosine. Per-pair
      false-reject probability at the threshold is ≤ ~1e-6 — two orders
      below the band-OR miss rate (~1.5e-2 at the defaults), so the
      operator's recall profile is unchanged while the far-pair candidate
      mass (band collisions between unrelated vectors — the bulk of the
      join output at scale) dies at a bit_count instead of riding three
      exchanges and an interpreted 2·dim-flop cosine."""
    import math

    from unify_spark.functions.dedup import _drop_hot_buckets

    banded = lsh_band_signatures(
        df, dim, n_planes, n_bands, id_col, vec_col, out_id="id", out_vec="v",
        with_bitsig=True,
    )
    # vectors for the re-rank come straight from the INPUT, not from
    # `banded`: deriving them from the signature frame re-ran the whole
    # hyperplane matmul a second time and pushed n_bands copies of every
    # vector through the dedup exchange (banded is one row per (vector,
    # band)). Candidate ids all come from `banded`, so the inner joins
    # below still see only ids the signature pass accepted — and when a
    # (malformed) duplicate id exists, the row_number prefers a
    # well-formed vector deterministically, where dropDuplicates could
    # nondeterministically pick the twin the signature pass rejected.
    from pyspark.sql import Window

    n_words = (n_planes + 63) // 64
    p_thr = math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    mu = n_planes * p_thr
    tau = min(
        n_planes, int(math.ceil(mu + 6.0 * math.sqrt(max(mu * (1.0 - p_thr), 0.0)))) + 2
    )

    raw = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    slim = _drop_hot_buckets(
        banded.select("band", "sig", "id", *[f"_bw{i}" for i in range(n_words)]),
        ["band", "sig"],
        max_bucket_size,
    )
    # hinted shuffled-hash self-join → exchange reuse: the planner's size
    # estimate otherwise picks a broadcast join, which has no exchange to
    # reuse, so the whole signature mapInPandas subtree would run twice
    # (see dedup.minhash_candidates for the shared rationale)
    a, b = slim.alias("a"), slim.alias("b").hint("shuffle_hash")
    ham = None
    for i in range(n_words):
        t = F.bit_count(F.col(f"a._bw{i}").bitwiseXOR(F.col(f"b._bw{i}")))
        ham = t if ham is None else ham + t
    cand = (
        a.join(b, on=["band", "sig"])
        .where((F.col("a.id") < F.col("b.id")) & (ham <= F.lit(tau)))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # multi-band OR: each pair once
    )
    # the prefilter leaves only near-angle candidates, so the id set touched
    # by any pair is small; thinning the re-rank vector table with a
    # semi-join BEFORE the preference window keeps the full-payload frame
    # out of the window exchange (AQE broadcasts the slim id set). Winners
    # for the surviving ids are identical — the window only adjudicates
    # between same-id twins, row-locally per id.
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    pref = Window.partitionBy("id").orderBy(
        F.col("v").isNull().cast("int"),
        F.coalesce((F.size("v") != dim).cast("int"), F.lit(1)),
        F.xxhash64(F.col("v").cast("string")),
    )
    vecs = (
        raw.join(cand_ids, on="id", how="left_semi")
        .withColumn("_rn", F.row_number().over(pref))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    withv = cand.join(
        vecs.withColumnsRenamed({"id": "id_a", "v": "va"}), on="id_a"
    ).join(vecs.withColumnsRenamed({"id": "id_b", "v": "vb"}), on="id_b")
    return withv.select(
        "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def embedding_dup_clusters(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 50,
    **kwargs,
) -> DataFrame:
    """(id, cluster) from embedding near-dup pairs via the same
    pointer-doubling connected components the text pipeline uses —
    semantic duplicate groups ready for canonical selection. Vectors with
    no near-dup edge keep their own id as cluster (singletons)."""
    from unify_spark.functions.graph import connected_components

    pairs = embedding_near_dup_pairs(
        df, dim, threshold, id_col=id_col, vec_col=vec_col, **kwargs
    )
    cc = connected_components(pairs, "id_a", "id_b", max_iter=max_iter)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(cc, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("cluster"),
        )
    )
