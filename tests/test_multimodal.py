"""Audio column operators: binary payload columns decoded by the in-repo
codecs through Arrow-batched mapInPandas — features, activity segments,
loudness normalization, spectral embeddings and acoustic near-dup
detection."""


def test_audio_features_real_decode(spark):
    """Real feature extraction over the in-repo codecs: a loud sine-ish
    signal, near-silence, a clipped signal, and an undecodable row."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_features

    loud = pcm.synth_pcm16(1, 8000, 800)
    quiet = (pcm.synth_pcm16(2, 8000, 800) * 0.001).astype("<i2")
    clipped = np.full(800, 32767, dtype="<i2")
    rows = [
        ("c-loud", bytearray(pcm.encode(loud, "pcm_s16le")), "pcm_s16le", 8000),
        ("c-quiet", bytearray(pcm.encode(quiet, "ulaw")), "ulaw", 8000),
        ("c-clip", bytearray(pcm.encode(clipped, "pcm_s16le")), "pcm_s16le", 8000),
        ("c-bad", None, "pcm_s16le", 8000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r["clip_id"]: r for r in audio_features(df).collect()}

    assert got["c-loud"]["rms_db"] > got["c-quiet"]["rms_db"] + 20
    assert got["c-loud"]["n_samples"] == 800
    assert got["c-clip"]["clipping_ratio"] == 1.0 and got["c-clip"]["zcr"] == 0.0
    assert got["c-loud"]["clipping_ratio"] < 0.01
    assert got["c-bad"]["reason"] == "null bytes or unknown codec"
    assert got["c-bad"]["n_samples"] == 0


def test_clipping_counts_negative_rail(spark):
    """np.abs(int16 -32768) overflows back to -32768; the widened-abs fix
    must count negative-rail samples as clipped."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_features

    neg = np.full(800, -32768, dtype="<i2")
    half = np.concatenate([np.full(400, -32768, dtype="<i2"), np.zeros(400, dtype="<i2")])
    rows = [
        ("c-neg", bytearray(pcm.encode(neg, "pcm_s16le")), "pcm_s16le", 8000),
        ("c-half", bytearray(pcm.encode(half, "pcm_s16le")), "pcm_s16le", 8000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r["clip_id"]: r for r in audio_features(df).collect()}
    assert got["c-neg"]["clipping_ratio"] == 1.0
    assert abs(got["c-half"]["clipping_ratio"] - 0.5) < 1e-9


def test_audio_features_silence_and_dc(spark):
    """silence_ratio flags dead air (frame-RMS under -40 dBFS) and
    dc_offset exposes a biased channel; both computed in the same
    vectorized decode pass as the other features."""
    import numpy as np

    from unify_spark.functions.multimodal import audio_features

    sr = 16000
    n = sr // 2  # 500 ms → 50 frames of 10 ms
    loud = (10000 * np.sin(2 * np.pi * 440 * np.arange(n) / sr)).astype("<i2")
    silent = np.zeros(n, dtype="<i2")
    half = np.concatenate([loud[: n // 2], silent[: n // 2]]).astype("<i2")
    biased = (np.full(n, 5000) + loud // 4).astype("<i2")
    rows = [
        ("loud", loud.tobytes(), "pcm_s16le", sr),
        ("silent", silent.tobytes(), "pcm_s16le", sr),
        ("half", half.tobytes(), "pcm_s16le", sr),
        ("biased", biased.tobytes(), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r["clip_id"]: r for r in audio_features(df).collect()}
    assert got["loud"]["silence_ratio"] == 0.0
    assert got["silent"]["silence_ratio"] == 1.0
    assert abs(got["half"]["silence_ratio"] - 0.5) <= 0.06  # boundary frame slack
    assert abs(got["loud"]["dc_offset"]) < 0.01
    assert got["biased"]["dc_offset"] > 0.1


def test_audio_segments_vad(spark):
    """Energy segmentation finds the speech spans, bridges short gaps,
    and drops sub-min-duration blips."""
    import numpy as np

    from unify_spark.functions.multimodal import audio_segments

    sr = 16000
    t = lambda ms: int(sr * ms / 1000)
    tone = lambda ms: (12000 * np.sin(2 * np.pi * 440 * np.arange(t(ms)) / sr))
    quiet = lambda ms: np.zeros(t(ms))
    # 200ms speech | 300ms silence | 200ms speech  → two segments
    two = np.concatenate([tone(200), quiet(300), tone(200)]).astype("<i2")
    # 200ms | 60ms gap | 200ms → bridged into ONE segment (gap <= 100ms)
    bridged = np.concatenate([tone(200), quiet(60), tone(200)]).astype("<i2")
    # a lone 30ms blip → dropped (< min_dur 60ms)
    blip = np.concatenate([quiet(200), tone(30), quiet(200)]).astype("<i2")
    silent = quiet(400).astype("<i2")
    rows = [
        ("two", two.tobytes(), "pcm_s16le", sr),
        ("bridged", bridged.tobytes(), "pcm_s16le", sr),
        ("blip", blip.tobytes(), "pcm_s16le", sr),
        ("silent", silent.tobytes(), "pcm_s16le", sr),
        ("bad", None, "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r["clip_id"]: r for r in audio_segments(df).collect()}

    segs = [(s["start_ms"], s["end_ms"]) for s in got["two"]["segments"]]
    assert segs == [(0, 200), (500, 700)]
    assert got["two"]["speech_ms"] == 400
    assert got["bridged"]["n_segments"] == 1
    b = got["bridged"]["segments"][0]
    assert b["start_ms"] == 0 and b["end_ms"] == 460
    assert got["blip"]["n_segments"] == 0
    assert got["silent"]["segments"] == [] and got["silent"]["speech_ms"] == 0
    assert got["bad"]["reason"].startswith("null bytes")


def test_audio_sidecars_single_pass_matches_separate(spark):
    """The combined one-decode pass must emit exactly what the separate
    audio_features and audio_segments passes emit (projection equality)."""
    from unify_spark.fixtures import generate_fixture
    import tempfile

    from unify_spark.functions.multimodal import (
        audio_features,
        audio_segments,
        audio_sidecars,
    )

    with tempfile.TemporaryDirectory() as d:
        generate_fixture(d, n_rows=1000, n_parts=2)
        clips = spark.read.parquet(f"{d}/clips")
        combined = audio_sidecars(clips).persist()
        feats = audio_features(clips)
        segs = audio_segments(clips)
        fc = [c for c in feats.columns]
        sc = [c for c in segs.columns]
        assert combined.select(fc).exceptAll(feats).count() == 0
        assert feats.exceptAll(combined.select(fc)).count() == 0
        assert combined.select(sc).exceptAll(segs).count() == 0
        assert segs.exceptAll(combined.select(sc)).count() == 0
        combined.unpersist()


def test_clean_audio_corpus(spark):
    """The audio corpus gate end-to-end on the fixture: undecodable and
    silent/clipped clips are screened, exact-duplicate payloads keep one
    row, counters reconcile, and good clips survive with their quality
    columns attached."""
    import tempfile

    from pyspark.sql import functions as F

    from unify_spark.functions.pipeline import clean_audio_corpus

    with tempfile.TemporaryDirectory() as d:
        from unify_spark.fixtures import generate_fixture

        generate_fixture(d, n_rows=1000, n_parts=2)
        clips = spark.read.parquet(f"{d}/clips")
        # plant exact payload duplicates: re-id 10 clips
        dup = (
            clips.orderBy("clip_id").limit(10)
            .withColumn("clip_id", F.concat(F.lit("dup-"), F.col("clip_id")))
        )
        both = clips.unionByName(dup)
        n_input = both.count()

        kept, rep = clean_audio_corpus(both, max_silence_ratio=0.99)
        assert rep.n_input == n_input
        assert rep.removed_quality > 0          # fixture injects bad payloads
        assert rep.removed_duplicates >= 10     # the planted duplicates die
        assert rep.n_kept == kept.count()
        assert {"rms_db", "silence_ratio", "speech_ms"} <= set(kept.columns)
        # duplicates resolve to ONE surviving row per payload, original id wins
        survivors = {r["clip_id"] for r in kept.select("clip_id").collect()}
        assert not any(s.startswith("dup-") for s in survivors)
        kept.unpersist()


def _tone_clip(sr, seed, f0, f1, f2, seconds=2.0):
    import numpy as np

    t = np.arange(int(sr * seconds)) / sr
    rng = np.random.default_rng(seed)
    x = (0.4 * np.sin(2 * np.pi * f0 * t)
         + 0.3 * np.sin(2 * np.pi * f1 * t * (1 + 0.1 * t))
         + 0.2 * np.sin(2 * np.pi * f2 * t)
         + 0.02 * rng.standard_normal(len(t)))
    return (x / np.abs(x).max() * 20000).astype("<i2")


def test_audio_near_dup_across_codecs_and_gain(spark):
    """The acoustic-fingerprint dedup contract: the SAME recording under a
    different codec (pcm16 vs mu-law vs the 12-bit lossy stand-in) or at
    half gain is a near-dup candidate; different recordings are not; the
    fingerprint is deterministic."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import (
        audio_fingerprints,
        audio_near_dup_candidates,
    )

    sr = 16000
    a = _tone_clip(sr, 1, 440, 700, 1200)
    b = _tone_clip(sr, 2, 523, 880, 1500)
    c = _tone_clip(sr, 3, 330, 950, 1700)
    half = (a.astype(np.float64) * 0.5).astype("<i2")
    rows = [
        ("a-wav", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("a-ulaw", pcm.encode(a, "ulaw"), "ulaw", sr),
        ("a-alaw", pcm.encode(a, "alaw"), "alaw", sr),
        ("a-mp3", pcm.encode(a, "mp3"), "mp3", sr),
        ("a-half", pcm.encode(half, "pcm_s16le"), "pcm_s16le", sr),
        ("b-wav", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
        ("c-wav", pcm.encode(c, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5).collect()
    }
    a_family = {"a-wav", "a-ulaw", "a-alaw", "a-mp3", "a-half"}
    for p in pairs:
        assert set(p) <= a_family, f"false positive: {p}"
    # every codec/gain variant of `a` pairs with the wav original
    for other in ["a-ulaw", "a-alaw", "a-mp3", "a-half"]:
        assert tuple(sorted(("a-wav", other))) in pairs
    assert not any("b-wav" in p or "c-wav" in p for p in pairs)

    # determinism — including the alignment-voting sidecar
    key = lambda r: (  # noqa: E731
        r["clip_id"],
        tuple(r["fps"]),
        tuple(r["vfps"]),
        tuple(tuple(ps) for ps in r["vposs"]),
    )
    f1 = sorted(key(r) for r in audio_fingerprints(df).collect())
    f2 = sorted(key(r) for r in audio_fingerprints(df).collect())
    assert f1 == f2
    # short clip: reasoned, not crashed
    short = spark.createDataFrame(
        [("s", pcm.encode(a[:100], "pcm_s16le"), "pcm_s16le", sr)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    r = audio_fingerprints(short).first()
    assert r["n_frames"] == 0 and "no fingerprint" in r["reason"]


def test_cli_audio_dedup(spark, tmp_path, capsys):
    """Acoustic near-dup pairs end-to-end from the CLI: a mu-law re-encode
    of a clip pairs with its wav original."""
    import json

    import numpy as np

    from unify_spark import cli
    from unify_spark.audio import pcm

    sr = 16000
    a = _tone_clip(sr, 7, 392, 660, 1100)
    b = _tone_clip(sr, 8, 494, 830, 1600)
    rows = [
        ("orig", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("reenc", pcm.encode(a, "ulaw"), "ulaw", sr),
        ("other", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
    ]
    src = str(tmp_path / "clips")
    spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    ).write.parquet(src)

    out = str(tmp_path / "pairs")
    rc = cli.main(["audio-dedup", "--table", src, "--out", out])
    o = capsys.readouterr().out
    r = json.loads(o[o.index("{"):])
    assert rc == 0 and r["n_pairs"] == 1 and r["n_clips_with_dup"] == 2
    p = spark.read.parquet(out).first()
    assert {p["id_a"], p["id_b"]} == {"orig", "reenc"}


def test_clean_audio_corpus_with_near_dup_stage(spark):
    """Full audio pipeline: gate → exact payload dedup → acoustic near-dup
    clustering. A mu-law re-encode survives exact dedup (different bytes)
    but collapses in the fingerprint stage; distinct recordings survive."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.pipeline import clean_audio_corpus

    sr = 16000
    a = _tone_clip(sr, 21, 392, 660, 1100)
    b = _tone_clip(sr, 22, 494, 830, 1600)
    rows = [
        ("a-orig", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("a-reenc", pcm.encode(a, "ulaw"), "ulaw", sr),
        ("a-copy", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),  # exact dup bytes
        ("b-orig", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    kept, rep = clean_audio_corpus(df, near_dup_min_shared=5)
    ids = {r["clip_id"] for r in kept.select("clip_id").collect()}
    kept.unpersist()
    assert rep.n_input == 4 and rep.removed_quality == 0
    assert ids == {"a-copy", "b-orig"}  # min-id canonical per acoustic cluster
    assert rep.removed_duplicates == 2  # exact copy + re-encode both collapsed

    # without the stage, the re-encode survives (different bytes)
    kept2, rep2 = clean_audio_corpus(df)
    ids2 = {r["clip_id"] for r in kept2.select("clip_id").collect()}
    kept2.unpersist()
    assert ids2 == {"a-copy", "a-reenc", "b-orig"} and rep2.removed_duplicates == 1


def test_audio_features_threshold_moves_silence_gate(spark):
    """threshold_dbfs must drive silence_ratio, not just the VAD: a quiet
    (-50 dBFS) tone is 'silent' at the -40 default but NOT at -60."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_features

    sr = 16000
    t = np.arange(sr) / sr
    quiet = (np.sin(2 * np.pi * 440 * t) * 32768 * 10 ** (-50 / 20)).astype("<i2")
    df = spark.createDataFrame(
        [("q", pcm.encode(quiet, "pcm_s16le"), "pcm_s16le", sr)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    at40 = audio_features(df).first()["silence_ratio"]
    at60 = audio_features(df, threshold_dbfs=-60.0).first()["silence_ratio"]
    assert at40 > 0.9 and at60 < 0.1


def test_audio_fingerprints_low_sample_rate_guard(spark):
    """Sample rates below the 300-2000 Hz band range emit no fingerprint
    with a reason instead of garbage band assignments."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_fingerprints

    sr = 500
    x = (np.sin(np.arange(sr * 2) * 0.1) * 20000).astype("<i2")
    df = spark.createDataFrame(
        [("lo", pcm.encode(x, "pcm_s16le"), "pcm_s16le", sr)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    r = audio_fingerprints(df).first()
    assert r["n_frames"] == 0 and "no fingerprint" in r["reason"]


def test_audio_near_dup_across_sample_rates(spark):
    """Sample-rate normalization: the same recording at 16 kHz and its
    8 kHz decimated re-upload fingerprint-match after the resample step."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_near_dup_candidates

    a16 = _tone_clip(16000, 31, 392, 660, 1100)
    a8 = a16[::2]                                  # naive 8 kHz re-upload
    b16 = _tone_clip(16000, 32, 494, 830, 1600)
    rows = [
        ("a16", pcm.encode(a16, "pcm_s16le"), "pcm_s16le", 16000),
        ("a8", pcm.encode(a8, "pcm_s16le"), "pcm_s16le", 8000),
        ("b16", pcm.encode(b16, "pcm_s16le"), "pcm_s16le", 16000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5).collect()
    }
    assert ("a16", "a8") in pairs or ("a8", "a16") in pairs
    assert not any("b16" in p for p in pairs)


def test_audio_near_dup_time_offset(spark):
    """Time-offset robustness (the dominant real dup transform after
    re-encode): the same recording with 50-150 ms of leading audio trimmed
    or silence added still pairs with the original. The overlapping-frame
    hop grid (hop_ms=8 < frame_ms=64) is what makes this work — with the
    legacy non-overlapping layout (hop_ms=None) every frame misaligns and
    the pair vanishes, which this test also pins so the regression is
    visible from both sides."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_near_dup_candidates

    sr = 16000
    a = _tone_clip(sr, 41, 440, 700, 1200)
    b = _tone_clip(sr, 42, 523, 880, 1500)
    trim = a[int(sr * 0.100):]                      # 100 ms trimmed re-upload
    pad = np.concatenate(                            # 150 ms leading silence
        [np.zeros(int(sr * 0.150), dtype=a.dtype), a]
    )
    rows = [
        ("a", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("a-trim", pcm.encode(trim, "pcm_s16le"), "pcm_s16le", sr),
        ("a-pad", pcm.encode(pad, "pcm_s16le"), "pcm_s16le", sr),
        ("b", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5).collect()
    }
    assert ("a", "a-trim") in pairs
    assert ("a", "a-pad") in pairs
    # distinct-signal zero-FP pin survives the denser fingerprints
    assert not any("b" in p for p in pairs)

    # counterfactual: the non-overlapping grid misses the offset dups
    legacy = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5, hop_ms=None).collect()
    }
    assert ("a", "a-trim") not in legacy and ("a", "a-pad") not in legacy


def test_audio_near_dup_stationary_signals_not_self_aligned(spark):
    """Two UNRELATED stationary signals (steady tones, hums, near-silence)
    each emit ONE sub-fingerprint at every frame. The alignment vote must
    count DISTINCT fps per delta, not position pairs — counting pairs
    would let that single shared fp self-align (cap² same-delta pairs)
    and flag, then silently delete, unrelated hum-dominated clips. A true
    re-encode dup of a stationary signal must still pair (its shared fp
    count comes from the union of transition frames, not repetition)."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_near_dup_candidates

    sr = 16000
    t = np.arange(int(sr * 2.0)) / sr

    def tone(f):
        return (0.5 * np.sin(2 * np.pi * f * t) * 32000).astype("<i2")

    # two pure steady tones: constant spectrum → constant sub-fp sequence
    rows = [
        ("tone-500", pcm.encode(tone(500.0), "pcm_s16le"), "pcm_s16le", sr),
        ("tone-1000", pcm.encode(tone(1000.0), "pcm_s16le"), "pcm_s16le", sr),
        # richer signal + its mu-law re-encode: the true-dup control
        ("a", pcm.encode(_tone_clip(sr, 61, 440, 700, 1200), "pcm_s16le"),
         "pcm_s16le", sr),
        ("a-ulaw", pcm.encode(_tone_clip(sr, 61, 440, 700, 1200), "ulaw"),
         "ulaw", sr),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5).collect()
    }
    assert ("a", "a-ulaw") in pairs
    assert not any("tone-500" in p or "tone-1000" in p for p in pairs)


def test_audio_dup_clusters_non_default_target_sr(spark):
    """audio_dup_clusters reaches target_sr/hop_ms through to its candidate
    generator: an 8 kHz corpus clustered AT 8 kHz (no resample) still
    collapses a mu-law re-encode family into one cluster and keeps the
    distinct signal a singleton."""
    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_dup_clusters

    sr = 8000
    a = _tone_clip(sr, 51, 440, 700, 1200)
    b = _tone_clip(sr, 52, 523, 880, 1500)
    rows = [
        ("a-wav", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("a-ulaw", pcm.encode(a, "ulaw"), "ulaw", sr),
        ("b-wav", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r["clip_id"]: r["cluster"] for r in
           audio_dup_clusters(df, min_shared=5, target_sr=sr).collect()}
    assert got["a-wav"] == got["a-ulaw"]
    assert got["b-wav"] != got["a-wav"]


def test_clean_audio_corpus_twin_resolution_deterministic(spark):
    """Distinct-payload twins sharing an id: the attached quality columns
    must come from the SAME twin regardless of input partitioning — the
    content-deterministic window pick, not dropDuplicates' first-seen row."""
    from unify_spark.audio import pcm
    from unify_spark.functions.pipeline import clean_audio_corpus

    sr = 16000
    loud = _tone_clip(sr, 61, 440, 700, 1200)
    quiet = (loud * 0.01).astype(loud.dtype)
    rows = [
        ("twin", pcm.encode(loud, "pcm_s16le"), "pcm_s16le", sr),
        ("twin", pcm.encode(quiet, "pcm_s16le"), "pcm_s16le", sr),
        ("solo", pcm.encode(loud, "pcm_s16le"), "pcm_s16le", sr),
    ]
    schema = "clip_id string, bytes binary, codec string, sr_hz int"

    def run(nparts):
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        kept, _ = clean_audio_corpus(df, max_silence_ratio=1.0)
        got = sorted(
            (r["clip_id"], round(r["rms_db"], 6)) for r in kept.collect()
        )
        kept.unpersist()
        return got

    a, b, c = run(1), run(3), run(7)
    assert a == b == c
    assert {x[0] for x in a} == {"twin", "solo"}


def test_normalize_audio_gain(spark):
    """Loudness leveling as a distributed rewrite: quiet and loud clips of
    the same signal land on the same RMS (+/- re-encode noise), codec and
    sr are preserved, payloads stay decodable in their own codec, upward
    gain is capped, silence passes through un-gained with a reason."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_features, normalize_audio_gain

    sr = 16000
    base = _tone_clip(sr, 71, 440, 700, 1200)
    loud = base
    quiet = (base * 0.05).astype(base.dtype)
    tiny = (base * 0.0005).astype(base.dtype)       # needs > max_gain_db
    silent = np.zeros(sr, dtype=base.dtype)
    rows = [
        ("loud", pcm.encode(loud, "pcm_s16le"), "pcm_s16le", sr),
        ("quiet", pcm.encode(quiet, "ulaw"), "ulaw", sr),
        ("tiny", pcm.encode(tiny, "pcm_s16le"), "pcm_s16le", sr),
        ("silent", pcm.encode(silent, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    out = normalize_audio_gain(df, target_dbfs=-20.0, max_gain_db=30.0).persist()
    got = {r["clip_id"]: r for r in out.collect()}
    assert got["loud"]["codec"] == "pcm_s16le" and got["quiet"]["codec"] == "ulaw"
    assert got["silent"]["reason"].startswith("digital silence")
    assert got["silent"]["gain_db"] == 0.0
    assert bytes(got["silent"]["bytes"]) == bytes(rows[3][1])
    # gain cap honored
    assert abs(got["tiny"]["gain_db"] - 30.0) < 1e-6

    # normalized clips measure at the target RMS (ulaw re-encode ~38 dB SNR
    # keeps RMS within a fraction of a dB)
    feats = {r["clip_id"]: r["rms_db"] for r in audio_features(out).collect()}
    assert abs(feats["loud"] - (-20.0)) < 0.5
    assert abs(feats["quiet"] - (-20.0)) < 0.5
    out.unpersist()


def test_cli_audio_normalize(spark, tmp_path, capsys):
    """Loudness normalization end-to-end from the CLI: output table is a
    drop-in clips replacement at the target RMS, knobs honored from a
    corpus.audio_normalize config section."""
    import json

    from unify_spark import cli
    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_features

    sr = 16000
    a = _tone_clip(sr, 81, 392, 660, 1100)
    quiet = (a * 0.05).astype(a.dtype)
    src = str(tmp_path / "clips")
    spark.createDataFrame(
        [("c1", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
         ("c2", pcm.encode(quiet, "ulaw"), "ulaw", sr)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    ).write.parquet(src)

    cfgp = tmp_path / "corpus.yaml"
    cfgp.write_text("corpus:\n  audio_normalize:\n    target_dbfs: -23.0\n")
    out = str(tmp_path / "leveled")
    rc = cli.main(["audio-normalize", "--table", src, "--out", out,
                   "--config", str(cfgp)])
    o = capsys.readouterr().out
    r = json.loads(o[o.index("{"):])
    assert rc == 0 and r["n_clips"] == 2 and r["n_normalized"] == 2

    leveled = spark.read.parquet(out)
    assert set(leveled.columns) >= {"clip_id", "bytes", "codec", "sr_hz"}
    feats = {x["clip_id"]: x["rms_db"] for x in audio_features(leveled).collect()}
    assert abs(feats["c1"] - (-23.0)) < 0.5 and abs(feats["c2"] - (-23.0)) < 0.5


def test_aligned_pair_counts_votes_on_delta(spark):
    """The alignment-voting kernel: matches at ONE consistent frame delta
    (+/-1 jitter merged) count toward n_shared; the same number of matches
    scattered over inconsistent deltas never accumulates."""
    from unify_spark.functions.audio_dedup import _aligned_pair_counts

    rows = []
    # pair (a, b): 5 shared fps, all at delta 12 or 13 → aligned count 5
    for i, (pa, pb) in enumerate([(0, 12), (10, 23), (20, 32), (30, 43), (40, 52)]):
        rows += [("a", 100 + i, pa), ("b", 100 + i, pb)]
    # pair (c, d): 6 shared fps at wildly different deltas → max aligned 1
    for i, (pc, pd_) in enumerate([(0, 50), (10, 0), (20, 90), (30, 5), (40, 70), (50, 33)]):
        rows += [("c", 200 + i, pc), ("d", 200 + i, pd_)]
    sh = spark.createDataFrame(rows, "id string, fp long, pos int")

    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in _aligned_pair_counts(sh, min_shared=5).collect()}
    assert got == {("a", "b"): 5}


def test_audio_near_dup_long_clip_chance_collisions(spark):
    """The chance-collision floor on LONG clips: two different 20 s
    recordings share dozens of 16-bit sub-fingerprints purely by density
    (the raw set intersection crosses min_shared), but the matches scatter
    over frame deltas — alignment voting (default) rejects the pair while
    align=False reproduces the false positive. A real trimmed dup of the
    same length still surfaces on the align path."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.audio_dedup import audio_near_dup_candidates

    sr = 16000
    t = np.arange(sr * 20) / sr
    def long_clip(seed, f0, f1, f2):
        rng = np.random.default_rng(seed)
        x = (0.4 * np.sin(2 * np.pi * f0 * t)
             + 0.3 * np.sin(2 * np.pi * f1 * t * (1 + 0.1 * t))
             + 0.2 * np.sin(2 * np.pi * f2 * t)
             + 0.02 * rng.standard_normal(len(t)))
        return (x / np.abs(x).max() * 20000).astype("<i2")

    a = long_clip(101, 450, 710, 1300)
    b = long_clip(102, 460, 720, 1310)
    a_trim = a[int(sr * 0.120):]
    rows = [
        ("a", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("b", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
        ("a-trim", pcm.encode(a_trim, "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    aligned = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5).collect()
    }
    assert ("a", "a-trim") in aligned
    assert not any("b" in p for p in aligned)

    unaligned = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in audio_near_dup_candidates(df, min_shared=5, align=False).collect()
    }
    # the floor the voting kills: set intersection falsely pairs a with b
    assert ("a", "b") in unaligned


def test_audio_embeddings_bridge_to_vector_family(spark):
    """The audio->vector bridge: spectral embeddings are unit-norm,
    gain-invariant (a half-gain copy lands within cosine 0.99 of its
    original), discriminative (different signals separate), and feed the
    existing embedding near-dup clustering unchanged."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import audio_embeddings
    from unify_spark.functions.similarity import embedding_dup_clusters

    sr = 16000
    a = _tone_clip(sr, 91, 440, 700, 1200)
    half = (a.astype(np.float64) * 0.5).astype("<i2")
    b = _tone_clip(sr, 92, 523, 880, 1500)
    rows = [
        ("a", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
        ("a-half", pcm.encode(half, "ulaw"), "ulaw", sr),
        ("b", pcm.encode(b, "pcm_s16le"), "pcm_s16le", sr),
        ("short", pcm.encode(a[:100], "pcm_s16le"), "pcm_s16le", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    out = audio_embeddings(df, n_bands=32).persist()
    got = {r["clip_id"]: r for r in out.collect()}

    assert got["short"]["embedding"] is None and "no embedding" in got["short"]["reason"]
    va = np.array(got["a"]["embedding"])
    assert len(va) == 32 and abs(np.linalg.norm(va) - 1.0) < 1e-5
    cos = lambda u, v: float(np.dot(u, v))  # noqa: E731 (unit vectors)
    vh = np.array(got["a-half"]["embedding"])
    vb = np.array(got["b"]["embedding"])
    assert cos(va, vh) > 0.99          # gain + codec invariant
    assert cos(va, vb) < 0.9           # different signals separate

    # composes with the vector family unchanged
    clusters = {
        r["clip_id"]: r["cluster"]
        for r in embedding_dup_clusters(
            out.filter(out.embedding.isNotNull()), dim=32, threshold=0.98,
            id_col="clip_id", vec_col="embedding",
        ).collect()
    }
    assert clusters["a"] == clusters["a-half"]
    assert clusters["b"] != clusters["a"]
    out.unpersist()


def test_cli_audio_embed(spark, tmp_path, capsys):
    """Spectral embeddings end-to-end from the CLI: an embeddings table
    with the configured dimension, undecodable rows counted as failed."""
    import json

    from unify_spark import cli
    from unify_spark.audio import pcm

    sr = 16000
    a = _tone_clip(sr, 95, 392, 660, 1100)
    src = str(tmp_path / "clips")
    spark.createDataFrame(
        [("c1", pcm.encode(a, "pcm_s16le"), "pcm_s16le", sr),
         ("c2", pcm.encode(a, "ulaw"), "ulaw", sr),
         ("bad", None, "pcm_s16le", sr)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    ).write.parquet(src)

    out = str(tmp_path / "emb")
    rc = cli.main(["audio-embed", "--table", src, "--out", out, "--n-bands", "16"])
    o = capsys.readouterr().out
    r = json.loads(o[o.index("{"):])
    assert rc == 0 and r["n_clips"] == 3 and r["n_embedded"] == 2 and r["dim"] == 16
    emb = {x["clip_id"]: x["embedding"] for x in spark.read.parquet(out).collect()}
    assert emb["bad"] is None and len(emb["c1"]) == 16


def test_normalize_audio_gain_idempotent(spark):
    """Normalizing an already-normalized table is a fixed point (gains on
    the second pass ~0 dB), and both the operator and its embedding/
    fingerprint consumers see identical bytes across repeated runs."""
    import numpy as np

    from unify_spark.audio import pcm
    from unify_spark.functions.multimodal import normalize_audio_gain

    sr = 16000
    rows = [
        (f"c{i}", pcm.encode(_tone_clip(sr, 96 + i, 392 + 10 * i, 660, 1100), "pcm_s16le"),
         "pcm_s16le", sr)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")

    once = normalize_audio_gain(df, target_dbfs=-20.0).persist()
    twice = normalize_audio_gain(once, target_dbfs=-20.0)
    g2 = {r["clip_id"]: r["gain_db"] for r in twice.collect()}
    assert all(abs(g) < 0.1 for g in g2.values()), g2
    # determinism: repeated runs produce identical payloads
    b1 = sorted((r["clip_id"], bytes(r["bytes"])) for r in once.collect())
    b2 = sorted(
        (r["clip_id"], bytes(r["bytes"]))
        for r in normalize_audio_gain(df, target_dbfs=-20.0).collect()
    )
    assert b1 == b2
    once.unpersist()
