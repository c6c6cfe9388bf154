"""Generate PLANS.md: formatted physical plans for the engine's key
operators, annotated with what to check (column pruning, pushed filters,
whole-stage codegen spans, partial aggregation, AQE join strategy).

Run: python scripts/explain_audit.py [fixture_dir]
(fixture_dir: a ``generate-fixture`` output; default .bench_data/clips_4000000)
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MANUAL_SENTINEL = "<!-- MANUAL ANALYSIS BELOW — explain_audit.py preserves everything from this line down -->"


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from unify_spark.operators import (
        AudioPayloadConstraint,
        DriftConstraint,
        UniquenessConstraint,
    )
    from unify_spark.operators.base import ValidationContext, row_local_violations
    from unify_spark.operators.constraints import (
        EqualityAcrossTablesConstraint,
        ReferentialIntegrityConstraint,
    )
    from unify_spark.fixtures.generate import DUR_MAX_MS
    from unify_spark.plans import audio_suite, load_audio_tables
    from unify_spark.session import get_spark

    fixture = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".bench_data", "clips_4000000"
    )
    spark = get_spark("explain-audit", master="local[4]")
    tables = load_audio_tables(spark, fixture)
    ctx = ValidationContext(run_id="explain", payload_cap_ms=50)

    sections: list[tuple[str, str, object]] = [
        (
            "uniqueness (two-phase partial count)",
            "CHECK: scan ReadSchema contains ONLY clip_id (bytes pruned); two "
            "HashAggregate levels (partial per input partition, final after "
            "exchange); duplicate join-back planned by AQE.",
            UniquenessConstraint("clips", ["clip_id"]).violations(tables, ctx),
        ),
        (
            "referential integrity (anti-join)",
            "CHECK: LeftAnti join; both sides project only the key column.",
            ReferentialIntegrityConstraint(
                "transcript_map", "clip_id", "clips", "clip_id", strategy="shuffle"
            ).violations(tables, ctx),
        ),
        (
            "row-local bundle (one scan, all row constraints)",
            "CHECK: single FileScan of clips; a Filter (the OR of every "
            "predicate) sits under Generate(inline); ReadSchema excludes "
            "bytes (nullness of bytes rides the payload scan); ONE "
            "WholeStageCodegen stage wraps filter+generate+filter.",
            row_local_violations(
                tables["clips"],
                "clips",
                ctx,
                [
                    (c, preds)
                    for c in audio_suite()
                    if (preds := c.row_predicates(ctx))
                ],
            ),
        ),
        (
            "audio payload (mapInPandas + failing-set join)",
            "CHECK: exactly one ArrowEvalPython/MapInPandas over the bytes "
            "scan; the reference_decode join consumes the FILTERED failing "
            "set, not the full decode output.",
            AudioPayloadConstraint(
                "clips", "reference_decode", null_bytes_constraint="required:clips.bytes"
            ).violations(tables, ctx),
        ),
        (
            "audio payload SAMPLED (keep-filter below the Arrow boundary)",
            "CHECK: the md5 hash keep-filter sits BELOW the MapInPandas "
            "decode node (non-sampled rows never cross into Arrow/pandas); "
            "plan shape otherwise identical to the exhaustive payload plan.",
            AudioPayloadConstraint(
                "clips", "reference_decode", sample_rate=0.01
            ).violations(tables, ctx),
        ),
        (
            "drift (histogram + one applyInPandas PSI/KS scorer)",
            "CHECK: the only pass over raw rows is one hash aggregate over "
            "(part, bucket), whose bucket universe is a broadcast Range (the "
            "bounds contract; no min/max pre-scan); ONE FlatMapGroupsInPandas "
            "scores the whole histogram (n_parts x n_buckets rows) in a single "
            "group; no Window node and no per-row Python.",
            DriftConstraint("clips", "dur_ms", bounds=(0, DUR_MAX_MS)).violations(tables, ctx),
        ),
        (
            "transcript equality (hash-only shuffle on the fact side)",
            "CHECK: the clips-side Exchange carries (clip_id, xxhash64 long) "
            "— the raw transcript column appears in the clips ReadSchema only "
            "to feed xxhash64 and is NOT a join-side shuffle column; the "
            "transcript_map side keeps its raw value for the violation "
            "projection.",
            EqualityAcrossTablesConstraint(
                "clips", "transcript_map", on="clip_id",
                left_col="transcript", right_col="transcript",
                key_col="transcript_id",
            ).violations(tables, ctx),
        ),
    ]

    docs_path = "/root/testdata/sf0.01/documents.parquet"
    if os.path.exists(docs_path):
        from unify_spark.functions import dedup

        docs = spark.read.parquet(docs_path)
        sections.append(
            (
                "MinHash-LSH candidates (explode→k-min, banded alias self-join)",
                "CHECK: ONE Generate(explode) of shingles feeding k min-"
                "aggregates (two HashAggregate levels — partial combine "
                "before the id shuffle); both self-join sides are the "
                "identical subplan (alias join) so the exchange is reusable; "
                "join keys are (band_id, band_hash) uniform 64-bit buckets.",
                dedup.minhash_candidates(docs, "doc_id", "text", num_hashes=32, bands=8),
            )
        )

    emb_path = "/root/testdata/sf0.01/embeddings.parquet"
    if os.path.exists(emb_path):
        from unify_spark.functions import similarity

        emb = spark.read.parquet(emb_path)
        sections.append(
            (
                "LSH ANN (vectorized signatures + broadcast band join)",
                "CHECK: exactly one MapInPandas per side (numpy matmul "
                "signatures); BroadcastHashJoin on (band, sig) — the base "
                "side has NO Exchange before the join; only the matched "
                "candidate set reaches the dedup + window top-k.",
                similarity.lsh_ann_topk(
                    emb, emb.filter("vec_id < 5"), dim=64, k=5,
                    n_planes=16, n_bands=4,
                ),
            )
        )

    with open(os.path.join(fixture, "manifest.json")) as f:
        m = json.load(f)
    where = os.path.relpath(fixture, REPO) if fixture.startswith(REPO) else fixture
    out = [
        "# PLANS — physical-plan audit of the core operators\n",
        "Generated by scripts/explain_audit.py (`.explain('formatted')` on the",
        f"fixture made by `python -m unify_spark.cli generate-fixture --out {where}",
        f"--rows {m['n_rows']} --parts {m['n_parts']} --payload-cap-ms {m['payload_cap_ms']}`).",
        "Each section lists what the plan must show for the 100 TB design to",
        "hold, followed by the actual plan.\n",
    ]
    for title, check, df in sections:
        plan = explain_str(df)
        # keep plans readable: drop the long Location/field-by-field output
        plan = re.sub(r"Location: \S+ \[[^\]]*\]", "Location: <fixture>", plan)
        out.append(f"\n## {title}\n\n{check}\n\n```\n{plan}\n```\n")

    # preserve the hand-written analysis sections (HOF pitfall, per-round
    # plan-shape notes) that live below the sentinel — regenerating the
    # plan dumps must not destroy them
    path = os.path.join(REPO, "PLANS.md")
    manual = ""
    if os.path.exists(path):
        with open(path) as f:
            prior = f.read()
        at = prior.find(MANUAL_SENTINEL)
        if at != -1:
            manual = prior[at:]
    if not manual:
        manual = MANUAL_SENTINEL + "\n"
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n" + manual)
    print("PLANS.md written (manual sections preserved)")
    spark.stop()


if __name__ == "__main__":
    main()
