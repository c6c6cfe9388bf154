"""Config-file-driven runs: a YAML suite config must reproduce the built-in
audio suite exactly (unify's config-driven import analogue,
config.clj:594-660), end to end through the CLI."""

import json
import os

import pytest
import yaml

from unify_spark.fixtures.generate import DUR_MAX_MS, SR_CHOICES
from unify_spark.operators.base import ValidationContext
from unify_spark.plans import ValidationRunner, audio_suite
from unify_spark.plans.config import load_suite_config, parse_suite_config
from unify_spark.sources import read_table


def _audio_config_doc(fixture_dir: str) -> dict:
    return {
        "run_id": "cfg-run",
        "part_col": "part_date",
        "payload_cap_ms": 50,
        "tables": {
            "clips": os.path.join(fixture_dir, "clips"),
            "transcript_map": os.path.join(fixture_dir, "transcript_map.parquet"),
            "codec_domain": os.path.join(fixture_dir, "codec_domain.parquet"),
            "reference_decode": os.path.join(fixture_dir, "reference_decode.parquet"),
        },
        "constraints": [
            # `salted` is a legacy key: still accepted, ignored
            {"type": "uniqueness", "table": "clips", "keys": ["clip_id"], "salted": True},
            {
                "type": "referential",
                "child_table": "transcript_map",
                "child_key": "clip_id",
                "parent_table": "clips",
                "parent_key": "clip_id",
                "strategy": "shuffle",
                "key_col": "transcript_id",
            },
            {"type": "domain", "table": "clips", "column": "codec",
             "dim_table": "codec_domain", "dim_key": "codec"},
            {"type": "range", "table": "clips", "column": "sr_hz",
             "allowed_set": list(SR_CHOICES)},
            {"type": "range", "table": "clips", "column": "dur_ms",
             "min": 0, "max": DUR_MAX_MS, "min_exclusive": True},
            {"type": "required", "table": "clips", "columns": ["transcript"]},
            {"type": "equality", "left_table": "clips", "right_table": "transcript_map",
             "on": "clip_id", "left_col": "transcript", "right_col": "transcript",
             "key_col": "transcript_id"},
            {"type": "payload", "table": "clips", "reference_table": "reference_decode",
             "null_bytes_constraint": "required:clips.bytes"},
            {"type": "drift", "table": "clips", "column": "dur_ms",
             "bounds": [0, DUR_MAX_MS]},
        ],
    }


def test_yaml_config_reproduces_builtin_suite(spark, fixture_dir, tmp_path):
    cfg_path = str(tmp_path / "suite.yaml")
    with open(cfg_path, "w") as f:
        yaml.safe_dump(_audio_config_doc(fixture_dir), f)
    cfg = load_suite_config(cfg_path)
    assert cfg.run_id == "cfg-run" and len(cfg.constraints) == 9

    tables = {name: read_table(spark, p) for name, p in cfg.tables.items()}
    cfg_res = ValidationRunner(spark, str(tmp_path / "cfg_out"), cfg.context()).run(
        tables, cfg.constraints
    )
    builtin_res = ValidationRunner(
        spark, str(tmp_path / "b_out"), ValidationContext(run_id="b", payload_cap_ms=50)
    ).run(tables, audio_suite())
    assert cfg_res.violation_counts == builtin_res.violation_counts
    assert cfg_res.verdicts == builtin_res.verdicts


def test_cli_validate_with_config(fixture_dir, tmp_path, capsys):
    from unify_spark import cli

    cfg_path = str(tmp_path / "suite.yaml")
    with open(cfg_path, "w") as f:
        yaml.safe_dump(_audio_config_doc(fixture_dir), f)
    rc = cli.main(
        ["validate", "--config", cfg_path, "--out", str(tmp_path / "out"), "--fused"]
    )
    out = capsys.readouterr().out
    report = json.loads(out[out.index("{"):])
    assert rc == 1  # fixture has injected violations
    assert not report["passed"]
    assert report["violation_counts"]["uniqueness:clips.clip_id"] > 0


def test_json_config_and_relative_paths(spark, fixture_dir, tmp_path):
    doc = _audio_config_doc(fixture_dir)
    # make paths relative to the config dir to exercise base_dir resolution
    doc["tables"] = {n: os.path.relpath(p, str(tmp_path)) for n, p in doc["tables"].items()}
    doc["constraints"] = doc["constraints"][:1]
    cfg_path = str(tmp_path / "suite.json")
    with open(cfg_path, "w") as f:
        json.dump(doc, f)
    cfg = load_suite_config(cfg_path)
    tables = {name: read_table(spark, p) for name, p in cfg.tables.items()}
    assert tables["clips"].count() > 0


def test_cli_validate_baseline_cross_run_drift(spark, tmp_path, capsys):
    """End-to-end cross-run drift through the CLI: run 1 persists its
    drift-histogram sidecar under --out; run 2 with --baseline <out1> scores
    its partitions against it. The current run's two partitions are shifted
    IDENTICALLY, so in-run drift (part vs rest) passes and the only failure
    is the cross-run one — isolating the --baseline path."""
    import numpy as np

    from unify_spark import cli

    rng = np.random.Generator(np.random.PCG64(11))
    base_rows = [(float(v), p) for p in ("p1", "p2")
                 for v in rng.normal(150, 20, 2000).clip(1, 299)]
    cur_rows = [(float(v), p) for p in ("p3", "p4")
                for v in rng.normal(60, 10, 2000).clip(1, 299)]
    base_path = str(tmp_path / "clips_base")
    cur_path = str(tmp_path / "clips_cur")
    spark.createDataFrame(base_rows, ["dur_ms", "part_date"]).write.parquet(base_path)
    spark.createDataFrame(cur_rows, ["dur_ms", "part_date"]).write.parquet(cur_path)

    def cfg(clips_path, run_id):
        p = str(tmp_path / f"{run_id}.yaml")
        with open(p, "w") as f:
            yaml.safe_dump(
                {
                    "run_id": run_id,
                    "tables": {"clips": clips_path},
                    "constraints": [
                        {"type": "drift", "table": "clips", "column": "dur_ms",
                         "bounds": [0, 300]},
                    ],
                },
                f,
            )
        return p

    out1, out2 = str(tmp_path / "out1"), str(tmp_path / "out2")
    rc1 = cli.main(["validate", "--config", cfg(base_path, "r1"), "--out", out1])
    r1 = json.loads((o := capsys.readouterr().out)[o.index("{"):])
    assert rc1 == 0 and r1["drift_histograms_persisted"] == 1
    assert os.path.exists(os.path.join(out1, "drift_hist"))

    rc2 = cli.main(
        ["validate", "--config", cfg(cur_path, "r2"), "--out", out2,
         "--baseline", out1]
    )
    r2 = json.loads((o := capsys.readouterr().out)[o.index("{"):])
    assert rc2 == 1 and not r2["passed"]
    assert r2["total_violations"] == 0  # in-run drift passed: p3 ≈ p4
    assert r2["drift_vs_baseline_failed"] == 2  # both parts drifted vs run 1
    assert {d["part"]: d["failed"] for d in r2["drift_vs_baseline"]} == {
        "p3": True, "p4": True,
    }


def test_unknown_constraint_type_rejected():
    with pytest.raises(ValueError, match="unknown constraint type"):
        parse_suite_config(
            {"tables": {}, "constraints": [{"type": "bogus"}]}
        )


def test_empty_constraints_rejected():
    with pytest.raises(ValueError, match="no constraints"):
        parse_suite_config({"tables": {"t": "/x"}, "constraints": []})


def test_quoted_fail_fast_rejected():
    # bool("false") is True: a quoted boolean must not turn fail_fast on
    doc = {
        "tables": {"clips": "/x"},
        "constraints": [{"type": "uniqueness", "table": "clips", "keys": ["clip_id"]}],
    }
    assert parse_suite_config({**doc, "fail_fast": True}).context().fail_fast is True
    with pytest.raises(ValueError, match="fail_fast: must be true or false"):
        parse_suite_config({**doc, "fail_fast": "false"})


def test_parse_corpus_config_rejects_malformed():
    """Empty files and non-mapping sections get clear ValueErrors, not raw
    AttributeError/TypeError tracebacks."""
    import pytest

    from unify_spark.plans.config import parse_corpus_config

    assert parse_corpus_config(None).embed_dedup == {}      # empty YAML → None
    assert parse_corpus_config({}).clean == {}
    with pytest.raises(ValueError, match="must be a mapping"):
        parse_corpus_config([1, 2])
    with pytest.raises(ValueError, match="corpus: must be a mapping"):
        parse_corpus_config({"corpus": "nope"})
    with pytest.raises(ValueError, match="corpus.clean: must be a mapping"):
        parse_corpus_config({"corpus": {"clean": 5}})


def test_shipped_example_configs_parse():
    """The examples/ configs must always parse — including the YAML-1.1
    pitfall where a bare `on:` key loads as boolean True (normalized back
    by the constraint factory)."""
    import os

    import yaml

    from unify_spark.plans.config import parse_corpus_config, parse_suite_config

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    suite_doc = yaml.safe_load(open(os.path.join(repo, "examples", "suite.yaml")))
    suite = parse_suite_config(suite_doc, base_dir=os.path.join(repo, "examples"))
    assert len(suite.constraints) == 10
    names = {c.name for c in suite.constraints}
    assert any(n.startswith("equality:") for n in names)  # the `on:` consumer

    corpus = parse_corpus_config(
        yaml.safe_load(open(os.path.join(repo, "examples", "corpus.yaml")))
    )
    assert corpus.embed_dedup["dim"] == 64
    assert corpus.clean["max_tok_rep_ratio"] == 0.6
    assert corpus.audio["threshold_dbfs"] == -40.0


def test_validate_flags_override_config(spark, fixture_dir, tmp_path, capsys):
    """`validate --config` honours the run flags: --violation-cap caps the
    evidence per constraint and --run-id run-0 replaces the config's
    run_id (it is not a sentinel)."""
    from unify_spark import cli
    from unify_spark.plans.audit import AuditLog

    doc = _audio_config_doc(fixture_dir)
    doc["violation_cap"] = 1000
    # uniqueness + required: both violated more than once in the fixture
    doc["constraints"] = [doc["constraints"][0], doc["constraints"][5]]
    cfg_path = str(tmp_path / "suite.yaml")
    with open(cfg_path, "w") as f:
        yaml.safe_dump(doc, f)
    out = str(tmp_path / "out")
    rc = cli.main(["validate", "--config", cfg_path, "--out", out,
                   "--violation-cap", "1", "--run-id", "run-0", "--no-fingerprints"])
    report = json.loads((o := capsys.readouterr().out)[o.index("{"):])
    assert rc == 1 and report["run_id"] == "run-0"
    assert all(n > 1 for n in report["violation_counts"].values())
    per = spark.read.parquet(os.path.join(out, "violations")).groupBy("constraint").count()
    assert {r["constraint"]: r["count"] for r in per.collect()} == {
        name: 1 for name in report["violation_counts"]
    }
    runs = AuditLog(spark, os.path.join(out, "audit")).read().select("run_id").distinct()
    assert [r["run_id"] for r in runs.collect()] == ["run-0"]
