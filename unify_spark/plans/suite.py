"""The audio-clips constraint suite (the engine's flagship plan) and table
loading helpers.

This is the declarative "import config" analogue: where unify parses an EDN
config into directive jobs
(src/com/vendekagonlabs/unify/import/engine/parse/config.clj:594-660), we
build the constraint plan for the clips + transcript_map dataset mandated by
BASELINE.json input_hint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from unify_spark.audio import pcm
from unify_spark.operators import (
    AudioPayloadConstraint,
    Constraint,
    DomainConstraint,
    DriftConstraint,
    EqualityAcrossTablesConstraint,
    RangeConstraint,
    ReferentialIntegrityConstraint,
    RequiredConstraint,
    UniquenessConstraint,
)
from unify_spark.fixtures.generate import DUR_MAX_MS, SR_CHOICES
from unify_spark.sources.readers import read_parquet


def load_audio_tables(spark: SparkSession, fixture_dir: str) -> dict[str, DataFrame]:
    return {
        name: read_parquet(spark, os.path.join(fixture_dir, rel))
        for name, rel in (
            ("clips", "clips"),
            ("transcript_map", "transcript_map.parquet"),
            ("codec_domain", "codec_domain.parquet"),
            ("reference_decode", "reference_decode.parquet"),
        )
    }


def audio_suite(
    include_payload: bool = True,
    include_drift: bool = True,
    payload_sample_rate: float | None = None,
) -> list[Constraint]:
    """Full constraint suite per the north rule: uniqueness, referential,
    domain, range, nullness, transcript equality, payload, drift.

    ``payload_sample_rate`` puts ONLY the decode-heavy payload check in
    deterministic hash-sampled mode (everything else stays exhaustive —
    the cheap Column-expression checks gain nothing from sampling);
    ``ValidationRunner.sampling_estimates`` then extrapolates its counts
    with a Wilson interval."""
    suite: list[Constraint] = [
        UniquenessConstraint("clips", ["clip_id"]),
        ReferentialIntegrityConstraint(
            "transcript_map", "clip_id", "clips", "clip_id",
            strategy="shuffle", key_col="transcript_id",
        ),
        DomainConstraint("clips", "codec", dim_table="codec_domain", dim_key="codec"),
        RangeConstraint("clips", "sr_hz", allowed_set=list(SR_CHOICES)),
        RangeConstraint("clips", "dur_ms", min_value=0, max_value=DUR_MAX_MS, min_exclusive=True),
        # bytes nullness is checked inside the payload scan (one read of the
        # payload column for both constraints); transcript stays row-local
        RequiredConstraint("clips", ["transcript"]),
        EqualityAcrossTablesConstraint(
            "clips", "transcript_map", on="clip_id",
            left_col="transcript", right_col="transcript", key_col="transcript_id",
        ),
    ]
    if include_payload:
        suite.append(
            AudioPayloadConstraint(
                "clips", "reference_decode",
                null_bytes_constraint="required:clips.bytes",
                sample_rate=payload_sample_rate,
            )
        )
    else:
        suite.append(RequiredConstraint("clips", ["bytes"]))
    if include_drift:
        # contract bounds (the range constraint's legal domain) skip the
        # min/max pre-scan; DriftConstraint is multi-column capable (tests
        # cover sr_hz too) — the default suite mirrors the north rule (dur)
        suite.append(DriftConstraint("clips", "dur_ms", bounds=(0, DUR_MAX_MS)))
    return suite


# re-export so callers can phrase domains without importing fixtures
CODEC_DOMAIN = list(pcm.CODEC_DOMAIN)
