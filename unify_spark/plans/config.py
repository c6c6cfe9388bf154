"""Config-file-driven validation runs: YAML/JSON suite config → constraint
plan → runner.

This is the Spark analogue of unify's config-driven import — an EDN/YAML
config parsed into directive jobs (reference
src/com/vendekagonlabs/unify/import/engine/parse/config.clj:594-660,
src/com/vendekagonlabs/unify/util/yaml.clj:75-103). A suite config names the
tables and declares one entry per constraint; every constraint family the
engine implements is constructible from config, so a full validation run
needs zero Python.

Schema (YAML or JSON — chosen by file extension):

    run_id: r42                 # optional, default run-0
    part_col: part_date         # optional
    payload_cap_ms: 50          # optional (null = full duration)
    violation_cap: 1000         # optional
    fail_fast: false            # optional
    tables:
      clips: /path/clips
      transcript_map: /path/map.parquet
    constraints:
      - {type: uniqueness, table: clips, keys: [clip_id]}
      - {type: referential, child_table: transcript_map, child_key: clip_id,
         parent_table: clips, parent_key: clip_id, key_col: transcript_id}
      - {type: domain, table: clips, column: codec, dim_table: codec_domain}
      - {type: range, table: clips, column: dur_ms, min: 0, max: 30000,
         min_exclusive: true}
      - {type: required, table: clips, columns: [transcript], na_tokens: [NA]}
      - {type: regex, table: clips, column: clip_id, pattern: '^clip-'}
      - {type: length, table: clips, column: transcript, max_len: 256}
      - {type: any_present, table: clips, columns: [a, b]}
      - {type: conditional, table: clips, when: "codec = 'flac'",
         then_required: [bytes]}
      - {type: composite_id, table: t, id_col: id, components: [a, b], sep: '-'}
      - {type: enum_mapping, table: t, column: c, mapping: {x: y}}
      - {type: equality, left_table: clips, right_table: transcript_map,
         on: clip_id, left_col: transcript, right_col: transcript}
      - {type: upsert_conflict, table: t, keys: [k], compare: [v1, v2]}
      - {type: payload, table: clips, reference_table: reference_decode}
      - {type: drift, table: clips, column: dur_ms, bounds: [0, 30000]}
      - {type: freshness, table: clips, ts_col: part_date, max_age_hours: 48,
         ref: '2024-01-05'}
      - {type: partition_completeness, table: clips,
         expected_range: ['2024-01-01', '2024-01-04'], min_rows: 100}
      - {type: derived_range, table: clips, name: chars_per_sec,
         expr: "length(transcript) / (dur_ms / 1000.0)", min: 1, max: 30}
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from unify_spark.operators import (
    AnyPresentConstraint,
    AudioPayloadConstraint,
    CompositeIdConstraint,
    ConditionalConstraint,
    Constraint,
    DomainConstraint,
    DriftConstraint,
    EnumMappingConstraint,
    EqualityAcrossTablesConstraint,
    FuzzyEqualityConstraint,
    LengthConstraint,
    RangeConstraint,
    ReferentialIntegrityConstraint,
    RegexConstraint,
    RequiredConstraint,
    UniquenessConstraint,
    ValidationContext,
)
from unify_spark.operators.constraints import UpsertConflictConstraint, VectorConstraint


@dataclass
class SuiteConfig:
    tables: dict[str, str]
    constraints: list[Constraint]
    run_id: str = "run-0"
    part_col: str = "part_date"
    payload_cap_ms: int | None = 50
    violation_cap: int = 1000
    fail_fast: bool = False
    raw: dict = field(default_factory=dict)

    def context(self) -> ValidationContext:
        return ValidationContext(
            run_id=self.run_id,
            part_col=self.part_col,
            payload_cap_ms=self.payload_cap_ms,
            violation_cap=self.violation_cap,
            fail_fast=self.fail_fast,
        )


def _build_constraint(spec: dict) -> Constraint:
    """Build the typed constraint, then apply the GENERIC verdict keys any
    spec may carry (Constraint.severity docstring): ``severity: warn`` and
    the ``max_violations`` / ``max_violation_rate`` tolerances."""
    c = _build_typed_constraint(spec)
    sev = spec.get("severity", "error")
    if sev not in ("error", "warn"):
        raise ValueError(f"severity must be 'error' or 'warn', got {sev!r}")
    if sev != "error":
        c.severity = sev
    if "max_violations" in spec:
        c.max_violations = int(spec["max_violations"])
    if "max_violation_rate" in spec:
        rate = float(spec["max_violation_rate"])
        if not 0.0 <= rate < 1.0:
            raise ValueError(f"max_violation_rate must be in [0, 1), got {rate}")
        c.max_violation_rate = rate
    if "depends_on" in spec:
        c.depends_on = list(spec["depends_on"])
    return c


def _build_typed_constraint(spec: dict) -> Constraint:
    # YAML 1.1 parses a bare `on:` key as boolean True (the classic yaml
    # pitfall) — the equality constraint's join key is spelled `on`, so
    # normalize it back instead of KeyError'ing on a valid-looking config
    spec = {("on" if k is True else k): v for k, v in spec.items()}
    t = spec.get("type")
    if t == "uniqueness":
        # a legacy `salted:` key is ignored (one aggregate plan serves all)
        return UniquenessConstraint(spec["table"], list(spec["keys"]))
    if t == "referential":
        return ReferentialIntegrityConstraint(
            spec["child_table"],
            spec["child_key"],
            spec["parent_table"],
            spec["parent_key"],
            strategy=spec.get("strategy", "auto"),
            key_col=spec.get("key_col"),
        )
    if t == "domain":
        return DomainConstraint(
            spec["table"],
            spec["column"],
            allowed=spec.get("allowed"),
            dim_table=spec.get("dim_table"),
            dim_key=spec.get("dim_key"),
        )
    if t == "derived_range":
        from unify_spark.operators.constraints import DerivedRangeConstraint

        return DerivedRangeConstraint(
            spec["table"],
            spec["expr"],
            min_value=spec.get("min"),
            max_value=spec.get("max"),
            name=spec.get("name"),
        )
    if t == "range":
        return RangeConstraint(
            spec["table"],
            spec["column"],
            min_value=spec.get("min"),
            max_value=spec.get("max"),
            allowed_set=spec.get("allowed_set"),
            min_exclusive=bool(spec.get("min_exclusive", False)),
        )
    if t == "required":
        return RequiredConstraint(
            spec["table"], list(spec["columns"]), na_tokens=spec.get("na_tokens")
        )
    if t == "regex":
        if "alphabet" in spec:
            return RegexConstraint.char_domain(spec["table"], spec["column"], spec["alphabet"])
        return RegexConstraint(
            spec["table"], spec["column"], spec["pattern"], description=spec.get("description")
        )
    if t == "length":
        return LengthConstraint(
            spec["table"], spec["column"], max_len=int(spec["max_len"]),
            min_len=int(spec.get("min_len", 0)),
        )
    if t == "any_present":
        return AnyPresentConstraint(spec["table"], list(spec["columns"]))
    if t == "conditional":
        return ConditionalConstraint(spec["table"], spec["when"], list(spec["then_required"]))
    if t == "composite_id":
        return CompositeIdConstraint(
            spec["table"], spec["id_col"], list(spec["components"]), sep=spec.get("sep", "-")
        )
    if t == "enum_mapping":
        return EnumMappingConstraint(spec["table"], spec["column"], dict(spec["mapping"]))
    if t == "fuzzy_equality":
        return FuzzyEqualityConstraint(
            spec["left_table"],
            spec["right_table"],
            on=spec["on"],
            left_col=spec["left_col"],
            right_col=spec["right_col"],
            max_norm_edit=float(spec.get("max_norm_edit", 0.1)),
            max_edit_distance=spec.get("max_edit_distance"),
            canonicalize=bool(spec.get("canonicalize", True)),
            key_col=spec.get("key_col"),
        )
    if t == "equality":
        return EqualityAcrossTablesConstraint(
            spec["left_table"],
            spec["right_table"],
            on=spec["on"],
            left_col=spec["left_col"],
            right_col=spec["right_col"],
            key_col=spec.get("key_col"),
        )
    if t == "upsert_conflict":
        return UpsertConflictConstraint(spec["table"], list(spec["keys"]), list(spec["compare"]))
    if t == "payload":
        sr = spec.get("sample_rate")
        return AudioPayloadConstraint(
            spec.get("table", "clips"),
            spec.get("reference_table", "reference_decode"),
            snr_threshold_db=float(spec.get("snr_threshold_db", 30.0)),
            null_bytes_constraint=spec.get("null_bytes_constraint"),
            sample_rate=None if sr is None else float(sr),
            sample_salt=str(spec.get("sample_salt", "")),
        )
    if t == "vector":
        return VectorConstraint(
            spec["table"],
            spec["column"],
            dim=int(spec["dim"]),
            required=bool(spec.get("required", True)),
            check_norm=bool(spec.get("check_norm", True)),
        )
    if t == "agg_consistency":
        from unify_spark.operators.constraints import AggregateConsistencyConstraint

        return AggregateConsistencyConstraint(
            spec["left_table"],
            spec["left_expr"],
            spec["right_table"],
            spec["right_expr"],
            on=spec.get("on"),
            rel_tol=float(spec.get("rel_tol", 0.0)),
            abs_tol=float(spec.get("abs_tol", 0.0)),
            name=spec.get("name"),
        )
    if t == "freshness":
        from unify_spark.operators.constraints import FreshnessConstraint

        return FreshnessConstraint(
            spec["table"],
            spec["ts_col"],
            max_age_hours=float(spec["max_age_hours"]),
            ref=spec.get("ref"),
        )
    if t == "partition_completeness":
        from unify_spark.operators.constraints import PartitionCompletenessConstraint

        rng = spec.get("expected_range")
        return PartitionCompletenessConstraint(
            spec["table"],
            expected_parts=spec.get("expected_parts"),
            expected_range=tuple(rng) if rng else None,
            min_rows=int(spec.get("min_rows", 1)),
            part_col=spec.get("part_col"),
        )
    if t == "categorical_drift":
        from unify_spark.operators.drift import CategoricalDriftConstraint

        cats = spec.get("categories")
        return CategoricalDriftConstraint(
            spec["table"],
            spec["column"],
            top_k=int(spec.get("top_k", 50)),
            psi_threshold=float(spec.get("psi_threshold", 0.25)),
            categories=list(cats) if cats else None,
            new_category_fails=bool(spec.get("new_category_fails", True)),
        )
    if t == "drift":
        bounds = spec.get("bounds")
        return DriftConstraint(
            spec["table"],
            spec["column"],
            n_bins=int(spec.get("n_bins", 20)),
            psi_threshold=float(spec.get("psi_threshold", 0.25)),
            ks_threshold=float(spec.get("ks_threshold", 0.15)),
            bounds=tuple(bounds) if bounds else None,
        )
    raise ValueError(f"unknown constraint type: {t!r}")


def parse_suite_config(doc: dict, base_dir: str = ".") -> SuiteConfig:
    """Build a SuiteConfig from an already-parsed config document. Relative
    table paths resolve against ``base_dir`` (the config file's directory)."""
    tables = {
        name: (p if os.path.isabs(p) else os.path.join(base_dir, p))
        for name, p in dict(doc.get("tables", {})).items()
    }
    constraints = [_build_constraint(s) for s in doc.get("constraints", [])]
    if not constraints:
        raise ValueError("suite config declares no constraints")
    return SuiteConfig(
        tables=tables,
        constraints=constraints,
        run_id=doc.get("run_id", "run-0"),
        part_col=doc.get("part_col", "part_date"),
        payload_cap_ms=doc.get("payload_cap_ms", 50),
        violation_cap=int(doc.get("violation_cap", 1000)),
        fail_fast=bool(doc.get("fail_fast", False)),
        raw=doc,
    )


def load_suite_config(path: str) -> SuiteConfig:
    """Load a YAML (.yaml/.yml) or JSON (.json) suite config file."""
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        doc = yaml.safe_load(text)
    else:
        doc = json.loads(text)
    return parse_suite_config(doc, base_dir=os.path.dirname(os.path.abspath(path)))


def load_tables(spark: SparkSession, cfg: SuiteConfig) -> dict[str, DataFrame]:
    from unify_spark.sources import read_table

    return {name: read_table(spark, p) for name, p in cfg.tables.items()}


# ---------------------------------------------------------------------------
# corpus-pipeline config — the knob surface for the LLM-data operators, so
# semantic dedup / quality cleaning / audio feature extraction run from a
# config file with zero Python (same zero-code contract as the constraint
# suite above). A ``corpus:`` section coexists with ``tables:``/
# ``constraints:`` in one file, or stands alone:
#
#     corpus:
#       clean:        {id_col: doc_id, text_col: text, min_tokens: 5,
#                      max_punct_ratio: 0.3, min_est_jaccard: 0.8}
#       embed_dedup:  {id_col: vec_id, vec_col: embedding, dim: 64,
#                      threshold: 0.95, n_planes: 100, n_bands: 10,
#                      max_bucket_size: 100000}
#       audio:        {id_col: clip_id, bytes_col: bytes, codec_col: codec,
#                      sr_col: sr_hz, threshold_dbfs: -40.0,
#                      max_gap_ms: 100, min_dur_ms: 60}
# ---------------------------------------------------------------------------


@dataclass
class CorpusConfig:
    clean: dict = field(default_factory=dict)
    embed_dedup: dict = field(default_factory=dict)
    audio: dict = field(default_factory=dict)
    audio_clean: dict = field(default_factory=dict)
    audio_dedup: dict = field(default_factory=dict)
    audio_normalize: dict = field(default_factory=dict)
    audio_embed: dict = field(default_factory=dict)
    raw: dict = field(default_factory=dict)


_CORPUS_KEYS = {
    "clean": {
        "id_col", "text_col", "min_tokens", "max_punct_ratio",
        "max_tok_rep_ratio", "boilerplate_min_df", "min_est_jaccard",
        "benchmark", "bench_id_col", "bench_text_col",
        "decontaminate_n", "decontaminate_min_overlap",
    },
    "embed_dedup": {
        "id_col", "vec_col", "dim", "threshold", "n_planes", "n_bands",
        "max_bucket_size",
    },
    "audio": {
        "id_col", "bytes_col", "codec_col", "sr_col", "threshold_dbfs",
        "max_gap_ms", "min_dur_ms",
    },
    "audio_clean": {
        "id_col", "bytes_col", "codec_col", "sr_col", "threshold_dbfs",
        "max_silence_ratio", "max_clipping_ratio", "min_speech_ms",
        "near_dup_min_shared",
    },
    "audio_dedup": {
        "id_col", "bytes_col", "codec_col", "sr_col", "frame_ms", "n_bands",
        "min_shared", "max_fp_freq", "target_sr", "hop_ms", "align",
    },
    "audio_normalize": {
        "id_col", "bytes_col", "codec_col", "sr_col", "target_dbfs",
        "mode", "max_gain_db",
    },
    "audio_embed": {
        "id_col", "bytes_col", "codec_col", "sr_col", "n_bands",
        "frame_ms", "target_sr",
    },
}


def parse_corpus_config(doc: dict | None) -> CorpusConfig:
    """Validate and extract the ``corpus:`` section; unknown keys inside a
    sub-section are an error (a typo'd knob silently falling back to a
    default is exactly the config bug a validation engine must not have),
    and non-mapping sections get a clear ValueError rather than a raw
    traceback (an empty YAML file parses to None)."""
    doc = doc if doc is not None else {}
    if not isinstance(doc, dict):
        raise ValueError(f"corpus config must be a mapping, got {type(doc).__name__}")
    section = doc.get("corpus") or {}
    if not isinstance(section, dict):
        raise ValueError(f"corpus: must be a mapping, got {type(section).__name__}")
    out: dict[str, dict] = {}
    for name, allowed in _CORPUS_KEYS.items():
        sub = section.get(name) or {}
        if not isinstance(sub, dict):
            raise ValueError(f"corpus.{name}: must be a mapping, got {type(sub).__name__}")
        unknown = set(sub) - allowed
        if unknown:
            raise ValueError(
                f"corpus.{name}: unknown keys {sorted(unknown)}; allowed: {sorted(allowed)}"
            )
        out[name] = dict(sub)
    return CorpusConfig(raw=doc, **out)


def load_corpus_config(path: str) -> CorpusConfig:
    """Load the corpus section of a YAML/JSON config file."""
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        doc = yaml.safe_load(text)
    else:
        doc = json.loads(text)
    return parse_corpus_config(doc)
