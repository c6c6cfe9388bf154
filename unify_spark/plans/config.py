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
from types import SimpleNamespace
from typing import Literal, get_args, get_origin

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


# the top-level run keys a suite config may set (and validate's flags
# override); their defaults are ValidationContext's own
RUN_KEYS = ("run_id", "part_col", "payload_cap_ms", "violation_cap", "fail_fast")


@dataclass
class SuiteConfig:
    tables: dict[str, str]
    constraints: list[Constraint]
    ctx: ValidationContext = field(default_factory=ValidationContext)

    @property
    def run_id(self) -> str:
        return self.ctx.run_id

    def context(self) -> ValidationContext:
        return self.ctx


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
    ctx = ValidationContext(**{k: doc[k] for k in RUN_KEYS if k in doc})
    ctx.violation_cap = int(ctx.violation_cap)
    ctx.fail_fast = bool(coerce("fail_fast", bool, ctx.fail_fast))
    return SuiteConfig(tables=tables, constraints=constraints, ctx=ctx)


def _read_doc(path: str):
    """Parse a YAML (.yaml/.yml) or JSON config file."""
    with open(path) as f:
        if path.endswith((".yaml", ".yml")):
            import yaml

            return yaml.safe_load(f)
        return json.load(f)


def load_suite_config(path: str) -> SuiteConfig:
    """Load a YAML (.yaml/.yml) or JSON (.json) suite config file."""
    doc = _read_doc(path)
    return parse_suite_config(doc, base_dir=os.path.dirname(os.path.abspath(path)))


# ---------------------------------------------------------------------------
# corpus-pipeline config — the knob surface for the LLM-data operators, so
# text cleaning, semantic dedup and the audio family run from a config file
# with zero Python (same zero-code contract as the constraint suite above).
# A ``corpus:`` section coexists with ``tables:``/``constraints:`` in one
# file, or stands alone; each sub-section feeds one CLI command:
#
#     corpus:
#       clean:           {min_tokens: 5, min_est_jaccard: 0.8}  # corpus-clean
#       embed_dedup:     {dim: 64, threshold: 0.95}      # corpus-embed-dedup
#       audio:           {threshold_dbfs: -40.0}         # audio-features
#       audio_clean:     {near_dup_min_shared: 5}        # audio-clean
#       audio_dedup:     {min_shared: 5, align: true}    # audio-dedup
#       audio_normalize: {target_dbfs: -20.0}            # audio-normalize
#       audio_embed:     {n_bands: 32}                   # audio-embed
#
# CORPUS_COMMANDS below is the only statement of these knobs: the CLI builds
# its flags from it and the parser derives the allowed keys from it. A knob
# set neither in the file nor by a flag is not passed at all, so its default
# is the operator's own keyword default.
# ---------------------------------------------------------------------------


class TablePath(str):
    """Knob type of a table-valued knob: given as a path, read as a
    DataFrame before the operator is called."""


_AUDIO_COLS = {"id_col": str, "bytes_col": str, "codec_col": str, "sr_col": str}

# section -> (command, "module:function", {knob: type | (type, help)}); the
# function is named, not imported, so building the CLI loads no operator
CORPUS_COMMANDS: dict[str, tuple[str, str, dict]] = {
    "clean": ("corpus-clean", "unify_spark.functions.pipeline:clean_corpus", {
        "id_col": str, "text_col": str, "min_tokens": int,
        "max_punct_ratio": float, "max_tok_rep_ratio": float,
        "boilerplate_min_df": (int, "strip lines appearing in >= N docs before the gate"),
        "min_est_jaccard": float,
        "benchmark": (TablePath, "eval-set parquet: drop docs with n-gram overlap "
                                 "(decontamination stage)"),
        "bench_id_col": str, "bench_text_col": str,
        "decontaminate_n": int, "decontaminate_min_overlap": int,
    }),
    "embed_dedup": ("corpus-embed-dedup",
                    "unify_spark.functions.similarity:embedding_dup_clusters", {
        "id_col": str, "vec_col": str, "dim": int, "threshold": float,
        "n_planes": int, "n_bands": int, "max_bucket_size": int,
    }),
    "audio": ("audio-features", "unify_spark.functions.multimodal:audio_sidecars", {
        **_AUDIO_COLS, "threshold_dbfs": float, "max_gap_ms": int, "min_dur_ms": int,
    }),
    "audio_clean": ("audio-clean", "unify_spark.functions.pipeline:clean_audio_corpus", {
        **_AUDIO_COLS, "threshold_dbfs": float, "max_silence_ratio": float,
        "max_clipping_ratio": float, "min_speech_ms": int,
        "near_dup_min_shared": (int, "enable the acoustic near-dup collapse stage"),
    }),
    "audio_dedup": ("audio-dedup",
                    "unify_spark.functions.audio_dedup:audio_near_dup_candidates", {
        **_AUDIO_COLS, "frame_ms": int, "n_bands": int, "min_shared": int,
        "max_fp_freq": int, "target_sr": int, "hop_ms": int,
        "align": (bool, "time-alignment voting over fingerprint matches"),
    }),
    "audio_normalize": ("audio-normalize",
                        "unify_spark.functions.multimodal:normalize_audio_gain", {
        **_AUDIO_COLS, "target_dbfs": float, "mode": Literal["rms", "peak"],
        "max_gain_db": float,
    }),
    "audio_embed": ("audio-embed", "unify_spark.functions.multimodal:audio_embeddings", {
        **_AUDIO_COLS, "n_bands": int, "frame_ms": int, "target_sr": int,
    }),
}


def knob_spec(spec) -> tuple:
    """(type, help, choices) of one knob-table entry; a ``Literal`` type is
    a string knob with a fixed set of choices."""
    t, help_ = spec if isinstance(spec, tuple) else (spec, None)
    if get_origin(t) is Literal:
        return str, help_, get_args(t)
    return t, help_, None


def coerce(where: str, t, v):
    """A config value through its knob type; None stays None (an explicit
    null is an operator value, e.g. ``hop_ms: null``), and a bool knob takes
    only a real bool, since ``bool("false")`` is True."""
    if v is None:
        return None
    if t is bool and not isinstance(v, bool):
        raise ValueError(f"{where}: must be true or false, got {v!r}")
    return t(v)


def corpus_knobs(section: str, flags: dict, config_path: str | None = None) -> dict:
    """Resolve one section's knobs: the config file's value (an explicit
    null included), overridden by a given flag (flags default to None),
    coerced through the knob's type. Knobs set nowhere are left out, so the
    operator's own default applies."""
    cfg = getattr(load_corpus_config(config_path), section) if config_path else {}
    out = {}
    for knob, spec in CORPUS_COMMANDS[section][2].items():
        t = knob_spec(spec)[0]
        if flags.get(knob) is not None:
            out[knob] = t(flags[knob])
        elif knob in cfg:
            out[knob] = coerce(f"corpus.{section}.{knob}", t, cfg[knob])
    return out


def parse_corpus_config(doc: dict | None) -> SimpleNamespace:
    """Validate and extract the ``corpus:`` section, one attribute per
    sub-section; unknown keys inside a sub-section are an error (a typo'd
    knob silently falling back to a default is exactly the config bug a
    validation engine must not have), and non-mapping sections get a clear
    ValueError rather than a raw traceback (an empty YAML file parses to
    None)."""
    doc = doc if doc is not None else {}
    if not isinstance(doc, dict):
        raise ValueError(f"corpus config must be a mapping, got {type(doc).__name__}")
    section = doc.get("corpus") or {}
    if not isinstance(section, dict):
        raise ValueError(f"corpus: must be a mapping, got {type(section).__name__}")
    out: dict[str, dict] = {}
    for name, (_, _, knobs) in CORPUS_COMMANDS.items():
        sub = section.get(name) or {}
        if not isinstance(sub, dict):
            raise ValueError(f"corpus.{name}: must be a mapping, got {type(sub).__name__}")
        unknown = set(sub) - set(knobs)
        if unknown:
            raise ValueError(
                f"corpus.{name}: unknown keys {sorted(unknown)}; allowed: {sorted(knobs)}"
            )
        out[name] = dict(sub)
    return SimpleNamespace(**out)


def load_corpus_config(path: str) -> SimpleNamespace:
    """Load the corpus section of a YAML/JSON config file."""
    return parse_corpus_config(_read_doc(path))
