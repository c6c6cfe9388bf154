"""End-to-end golden test: run the full constraint suite on the seeded
fixture and pin EXACT violation key sets per constraint + the per-partition
verdict matrix (the analogue of the reference's validations.edn golden counts
and the 2601-tx pin, reference test/.../import_test.clj:68)."""

import pytest
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.plans import ValidationRunner, audio_suite


@pytest.fixture(scope="module")
def run(spark, audio_tables, manifest, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_out"))
    ctx = ValidationContext(run_id="golden", payload_cap_ms=manifest["payload_cap_ms"])
    runner = ValidationRunner(spark, out, ctx)
    result = runner.run(audio_tables, audio_suite(), resume=False)
    return runner, result, out


def _violation_keys(spark, out, constraint_name):
    import os

    # stages can emit several constraint names (e.g. payload also emits the
    # bytes-nullness rows), so scan all written violations and filter
    path = os.path.join(out, "violations")
    if not os.path.exists(path):
        return set()
    df = spark.read.parquet(path)
    return {
        r["key"]
        for r in df.filter(df["constraint"] == constraint_name)
        .select("key")
        .distinct()
        .collect()
    }


def test_uniqueness_exact(spark, run, manifest):
    runner, result, out = run
    name = "uniqueness:clips.clip_id"
    assert _violation_keys(spark, out, name) == set(manifest["uniqueness_clip_ids"])
    # each dup id contributes 2 rows
    assert result.violation_counts[name] == 2 * len(manifest["uniqueness_clip_ids"])


def test_referential_exact(spark, run, manifest):
    runner, result, out = run
    name = "referential:transcript_map.clip_id->clips.clip_id"
    assert _violation_keys(spark, out, name) == set(manifest["dangling_transcript_ids"])
    assert result.violation_counts[name] == len(manifest["dangling_transcript_ids"])


def test_transcript_equality_exact(spark, run, manifest):
    runner, result, out = run
    name = "equality:clips.transcript=transcript_map.transcript"
    assert _violation_keys(spark, out, name) == set(manifest["mismatch_transcript_ids"])


def test_codec_domain_exact(spark, run, manifest):
    runner, result, out = run
    name = "domain:clips.codec"
    assert _violation_keys(spark, out, name) == set(manifest["codec_domain_clip_ids"])


def test_range_exact(spark, run, manifest):
    runner, result, out = run
    got = _violation_keys(spark, out, "range:clips.sr_hz") | _violation_keys(
        spark, out, "range:clips.dur_ms"
    )
    assert got == set(manifest["range_clip_ids"])
    assert (
        result.violation_counts["range:clips.sr_hz"]
        + result.violation_counts["range:clips.dur_ms"]
        == len(manifest["range_clip_ids"])
    )


def test_nullness_exact(spark, run, manifest):
    runner, result, out = run
    got = _violation_keys(spark, out, "required:clips.transcript") | _violation_keys(
        spark, out, "required:clips.bytes"
    )
    assert got == set(manifest["nullness_clip_ids"])
    # 4 null transcripts + 3 null payloads (FIXTURES.md V6 split)
    assert result.violation_counts["required:clips.transcript"] == 4
    assert result.violation_counts["required:clips.bytes"] == 3


def test_payload_exact(spark, run, manifest):
    runner, result, out = run
    name = "payload:clips.bytes"
    assert _violation_keys(spark, out, name) == set(manifest["payload_clip_ids"])


def test_drift_partition(spark, run, manifest):
    runner, result, out = run
    name = "drift:clips.dur_ms"
    assert _violation_keys(spark, out, name) == {manifest["drift_part"]}


def test_verdict_matrix_complete(spark, run, manifest):
    """Every (constraint, partition) cell present; drift fails exactly the
    shifted partition; a clean partition passes everything."""
    runner, result, out = run
    verdicts = runner.verdict_matrix().collect()
    cells = {(r["constraint"], r["part"]): r["status"] for r in verdicts}
    n_parts = manifest["n_parts"]
    # drift rows exist for every partition of the clips table
    drift_cells = {p: s for (c, p), s in cells.items() if c == "drift:clips.dur_ms"}
    assert len(drift_cells) == n_parts
    assert drift_cells[manifest["drift_part"]] == "fail"
    assert all(
        s == "pass" for p, s in drift_cells.items() if p != manifest["drift_part"]
    )


def test_clean_fixture_all_pass(spark, tmp_path_factory):
    """No injected violations → zero violations everywhere."""
    from unify_spark.fixtures import generate_fixture
    from unify_spark.plans import load_audio_tables

    d = str(tmp_path_factory.mktemp("clean_fixture"))
    generate_fixture(d, n_rows=2_000, n_parts=4, inject=False)
    tables = load_audio_tables(spark, d)
    out = str(tmp_path_factory.mktemp("clean_out"))
    runner = ValidationRunner(
        spark, out, ValidationContext(run_id="clean", payload_cap_ms=50)
    )
    result = runner.run(tables, audio_suite(), resume=False)
    assert result.passed, result.violation_counts


def test_generate_fixture_parallel_byte_identical(tmp_path):
    """Sharded payload synthesis must reproduce the serial fixture byte for
    byte — every golden count in this file depends on it."""
    import hashlib
    import os

    from unify_spark.fixtures import generate_fixture

    def tree_hash(d):
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, d).encode())
                h.update(open(p, "rb").read())
        return h.hexdigest()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate_fixture(a, n_rows=5000, n_parts=4, workers=1)
    generate_fixture(b, n_rows=5000, n_parts=4, workers=3)
    assert tree_hash(a) == tree_hash(b)
