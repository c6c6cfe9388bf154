"""CLI entry point (spark-submit compatible).

Subcommand surface mirrors the reference CLI task list
(src/com/vendekagonlabs/unify/cli.clj:288-300): ``infer-schema`` /
``validate`` / ``profile`` / ``generate-fixture`` replace unify's
compile-schema / validate / prepare trio for the Spark world.

Usage (cluster):
    spark-submit --py-files unify_spark.zip -m unify_spark.cli validate \
        --tables clips=/path/clips transcript_map=/path/map.parquet \
        --metamodel mm.json --out /path/run_out --run-id r42

Locally the module creates its own session (master from SPARK_GRAFT_MASTER
or local[*]).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from unify_spark.session import get_spark


def _parse_tables(specs: list[str]):
    out = {}
    for s in specs:
        name, path = s.split("=", 1)
        out[name] = path
    return out


def cmd_infer_schema(args) -> int:
    from unify_spark.schema.infer import infer_metamodel
    from unify_spark.sources import read_table

    spark = get_spark("unify-infer-schema")
    tables = {n: read_table(spark, p) for n, p in _parse_tables(args.tables).items()}
    mm = infer_metamodel(tables)
    out = mm.to_json()
    if args.out:
        with open(args.out, "w") as f:
            f.write(out)
    if getattr(args, "baseline", None):
        # schema drift vs the metamodel a prior run validated against —
        # the metadata sibling of the `validate --baseline` histogram drift.
        # stdout carries exactly ONE JSON document: the drift report, with
        # the inferred metamodel embedded when --out didn't take it
        from unify_spark.schema.diff import diff_json

        with open(args.baseline) as f:
            report = diff_json(f.read(), out)
        report["baseline"] = args.baseline
        if not args.out:
            report["metamodel"] = json.loads(out)
        print(json.dumps(report, indent=2, sort_keys=True))
    elif not args.out:
        print(out)
    return 0


def cmd_infer_json_schema(args) -> int:
    """infer-json-schema analogue (reference cli.clj:288-300)."""
    from unify_spark.schema.json_schema import metamodel_json_schema
    from unify_spark.schema.model import Metamodel

    if args.metamodel:
        with open(args.metamodel) as f:
            mm = Metamodel.from_json(f.read())
    else:
        from unify_spark.schema.infer import infer_metamodel
        from unify_spark.sources import read_table

        spark = get_spark("unify-infer-json-schema")
        tables = {n: read_table(spark, p) for n, p in _parse_tables(args.tables).items()}
        mm = infer_metamodel(tables)
    out = metamodel_json_schema(mm)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out)
    else:
        print(out)
    return 0


def _finish_validate(args, runner, tables, constraints, res, inc_plan=None) -> int:
    """Shared validate epilogue: persist this run's drift-histogram sidecar
    and partition fingerprints (so this run can be a later run's baseline),
    optionally score cross-run drift against a prior run's sidecar
    (``--baseline``), print the JSON report, map to the exit code."""
    if args.profile:
        runner.profile(tables, metrics_repo=getattr(args, "metrics_repo", None))
    report = {
        "run_id": res.run_id,
        "passed": res.passed,
        "total_violations": res.total_violations,
        "violation_counts": res.violation_counts,
        "skipped_stages": res.skipped,
        "stage_errors": res.errors,
        "wall_sec": round(res.wall_sec, 3),
    }
    # severity interpretation (only when some count was downgraded — the
    # default all-error zero-tolerance report stays byte-identical)
    if res.warn_counts:
        report["warnings"] = res.warn_counts
    if res.tolerated:
        report["tolerated"] = res.tolerated
    if res.gated:
        report["gated_stages"] = res.gated
    if inc_plan is not None:
        report["incremental"] = inc_plan.summary()
    elif not getattr(args, "no_fingerprints", False):
        # one hash-agg scan per table, metadata-scale output — the sidecar
        # a later `validate --incremental-from <this --out>` diffs against
        from unify_spark.plans.incremental import (
            collect_fingerprints,
            save_fingerprints,
        )

        save_fingerprints(
            runner.out_dir,
            collect_fingerprints(tables, runner.ctx.part_col),
            constraints=constraints,
        )
    # always persist the bounded drift histograms (n_parts × n_bins rows per
    # constraint — metadata-sized) so THIS run can be a later run's baseline
    n_hist = runner.persist_drift_histograms(tables, constraints)
    if n_hist:
        report["drift_histograms_persisted"] = n_hist
    if args.baseline:
        scored = runner.drift_vs_baseline(tables, constraints, args.baseline).collect()
        report["drift_vs_baseline"] = [
            {
                "constraint": r["constraint"],
                "part": r["part"],
                "psi": round(r["psi"], 4),
                # categorical drift rows carry null ks (undefined for
                # unordered categories)
                "ks": round(r["ks"], 4) if r["ks"] is not None else None,
                "failed": bool(r["failed"]),
            }
            for r in sorted(scored, key=lambda r: (r["constraint"], str(r["part"])))
        ]
        n_drifted = sum(1 for r in scored if r["failed"])
        report["drift_vs_baseline_failed"] = n_drifted
        if n_drifted:
            report["passed"] = False
    if any(getattr(c, "is_sampled", False) for c in constraints):
        # sampled payload mode: counts above are of the hash-sample; attach
        # the Wilson-extrapolated full-table band per emitted name
        report["sampled_estimates"] = runner.sampling_estimates(
            tables, constraints, res
        )
    if getattr(args, "quarantine_to", None):
        # expect-or-drop epilogue: route rows whose key violated any
        # row-grain constraint to quarantine, ship the clean remainder
        table = args.quarantine_table
        clean, bad = runner.split_valid(
            tables[table], table, args.quarantine_key, constraints=constraints
        )
        qdir = args.quarantine_to
        clean.write.mode("overwrite").parquet(os.path.join(qdir, "clean"))
        bad.write.mode("overwrite").parquet(os.path.join(qdir, "quarantined"))
        n_bad = runner.spark.read.parquet(os.path.join(qdir, "quarantined")).count()
        n_clean = runner.spark.read.parquet(os.path.join(qdir, "clean")).count()
        report["quarantine"] = {
            "table": table,
            "clean_rows": n_clean,
            "quarantined_rows": n_bad,
            "dir": qdir,
        }
    print(json.dumps(report, indent=2, sort_keys=True))
    if res.errors:
        return 2
    return 0 if report["passed"] else 1


def cmd_validate(args) -> int:
    from unify_spark.operators.base import ValidationContext
    from unify_spark.plans import ValidationRunner, audio_suite
    from unify_spark.plans.compile import compile_constraints
    from unify_spark.schema.model import Metamodel
    from unify_spark.sources import read_table

    spark = get_spark("unify-validate")

    if args.config:
        # config-file-driven run: tables + constraints + knobs all come from
        # the YAML/JSON suite config (unify's config-driven import analogue,
        # config.clj:594-660); CLI flags override where given
        from unify_spark.plans import ValidationRunner
        from unify_spark.plans.config import load_suite_config, load_tables

        cfg = load_suite_config(args.config)
        for n, p in _parse_tables(args.tables or []).items():
            cfg.tables[n] = p
        if args.run_id != "run-0":
            cfg.run_id = args.run_id
        tables = load_tables(spark, cfg)
        runner = ValidationRunner(spark, args.out, cfg.context())
        res, inc_plan = _run_validate(args, runner, tables, cfg.constraints)
        return _finish_validate(args, runner, tables, cfg.constraints, res, inc_plan)

    if not args.tables:
        print("error: --tables is required without --config", file=sys.stderr)
        return 2
    table_paths = _parse_tables(args.tables)
    tables = {n: read_table(spark, p) for n, p in table_paths.items()}
    # payload cap must match the cap used when payloads were synthesized:
    # prefer the fixture manifest next to the clips table, then the
    # ValidationContext default (50). <=0 means validate full duration.
    cap = args.payload_cap_ms
    if cap is None:
        cap = 50
        clips_path = table_paths.get("clips")
        if clips_path:
            mpath = os.path.join(os.path.dirname(clips_path.rstrip("/")), "manifest.json")
            if os.path.exists(mpath):
                with open(mpath) as f:
                    cap = json.load(f).get("payload_cap_ms", 50)
    if cap is not None and cap <= 0:
        cap = None
    if args.metamodel:
        with open(args.metamodel) as f:
            mm = Metamodel.from_json(f.read())
        constraints = compile_constraints(mm)
    else:
        constraints = audio_suite(
            payload_sample_rate=getattr(args, "payload_sample_rate", None)
        )
        needed = {"clips", "transcript_map", "codec_domain", "reference_decode"}
        missing = sorted(needed - set(tables))
        if missing:
            print(
                f"error: the built-in audio suite needs tables {sorted(needed)}; "
                f"missing {missing}. Pass them as --tables name=path or supply "
                "--metamodel for an inferred plan.",
                file=sys.stderr,
            )
            return 2
    ctx = ValidationContext(
        run_id=args.run_id,
        fail_fast=args.fail_fast,
        violation_cap=args.violation_cap,
        payload_cap_ms=cap,
        part_col=args.part_col,
    )
    runner = ValidationRunner(spark, args.out, ctx)
    res, inc_plan = _run_validate(args, runner, tables, constraints)
    return _finish_validate(args, runner, tables, constraints, res, inc_plan)


def _run_validate(args, runner, tables, constraints):
    """Dispatch a validate run: incremental (fingerprint-diff vs a prior
    run's out dir) when ``--incremental-from`` is given, else full."""
    if getattr(args, "quarantine_to", None):
        # the split needs the UNCAPPED key sidecar, so the flag must be
        # set before the run executes
        runner.ctx.collect_violating_keys = True
    if getattr(args, "incremental_from", None):
        res, plan = runner.run_incremental(
            tables,
            constraints,
            args.incremental_from,
            fused=args.fused,
        )
        return res, plan
    if args.fused:
        return runner.run_fused(tables, constraints, resume=not args.no_resume), None
    return runner.run(tables, constraints, resume=not args.no_resume), None


def cmd_compile_schema(args) -> int:
    """compile-schema analogue (reference compile.clj:184-212): DSL file →
    schema.json / metamodel.json / enums.json / metaschema.json."""
    from unify_spark.schema.compile_dsl import compile_schema, load_dsl, write_schema_dir

    mm = compile_schema(load_dsl(args.dsl))
    paths = write_schema_dir(mm, args.out)
    for name, p in sorted(paths.items()):
        print(f"{name}: {p}")
    return 0


def cmd_infer_metaschema(args) -> int:
    """infer-metaschema analogue (reference metaschema.clj:34-62): emit the
    {tables, joins} query metaschema from a metamodel."""
    from unify_spark.schema.compile_dsl import metaschema
    from unify_spark.schema.model import Metamodel

    with open(args.metamodel) as f:
        mm = Metamodel.from_json(f.read())
    out = json.dumps(metaschema(mm), indent=2, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out)
    else:
        print(out)
    return 0


def cmd_profile(args) -> int:
    from unify_spark.operators import profile_table
    from unify_spark.sources import read_table

    spark = get_spark("unify-profile")
    repo = None
    if args.metrics_repo:
        from unify_spark.plans.history import MetricsRepository

        repo = MetricsRepository(spark, args.metrics_repo)
    for name, path in _parse_tables(args.tables).items():
        df = read_table(spark, path)
        stats = profile_table(df, name, part_col=args.part_col if args.part_col in df.columns else None)
        if repo is not None:
            stats = stats.persist()
            repo.append(stats, args.run_id)
        stats.coalesce(1).write.mode("append").parquet(args.out)
        if repo is not None:
            stats.unpersist()
    print(f"profiles written to {args.out}")
    return 0


def cmd_suggest_constraints(args) -> int:
    """Profile the tables and emit a RUNNABLE suite config (the
    Deequ-ConstraintSuggestion analogue): `suggest-constraints --tables ...
    --out suite.yaml` then `validate --config suite.yaml`."""
    from unify_spark.plans.suggest import suggest_constraints, suggestions_to_suite
    from unify_spark.sources import read_table

    spark = get_spark("unify-suggest")
    table_paths = _parse_tables(args.tables)
    tables = {n: read_table(spark, p) for n, p in table_paths.items()}
    exclude: dict[str, list[str]] = {}
    for spec in args.exclude or []:
        name, _, cols = spec.partition("=")
        exclude.setdefault(name, []).extend(c for c in cols.split(",") if c)
    sug = suggest_constraints(
        tables,
        part_col=args.part_col,
        domain_max_cardinality=args.domain_max_cardinality,
        verify_unique=not args.no_verify_unique,
        exclude=exclude,
    )
    suite = suggestions_to_suite(
        sug, {n: os.path.abspath(p) for n, p in table_paths.items()},
        part_col=args.part_col,
    )
    if args.out:
        import yaml

        with open(args.out, "w") as f:
            yaml.safe_dump(suite, f, sort_keys=False)
    print(
        json.dumps(
            {
                "n_suggestions": len(sug["constraints"]),
                "by_type": {
                    t: sum(1 for s in sug["constraints"] if s["type"] == t)
                    for t in sorted({s["type"] for s in sug["constraints"]})
                },
                "evidence": sug["evidence"],
                "suite_written": args.out,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_history_anomalies(args) -> int:
    """Score the newest run's profile metrics against the trailing runs
    (median ± k·MAD envelope). Exit 1 when anomalies are found — the
    alerting contract, same as a failed validation. History source is
    either explicit run out-dirs (--runs, oldest first) or one cross-run
    metrics repository (--repo, appended by profile/validate
    --metrics-repo)."""
    from unify_spark.plans.history import (
        MetricsRepository,
        history_anomalies,
        repo_anomalies,
    )

    if bool(args.runs) == bool(args.repo):
        print("history-anomalies: pass exactly one of --runs or --repo", file=sys.stderr)
        return 2
    spark = get_spark("unify-history")
    if args.repo:
        repo = MetricsRepository(spark, args.repo)
        anomalies = repo_anomalies(
            repo,
            run_id=args.run_id,
            k=args.k,
            min_history=args.min_history,
            max_history=args.max_history,
        )
        src = {"repo": args.repo, "current": args.run_id or repo.runs()[-1]}
    else:
        anomalies = history_anomalies(
            spark,
            args.runs,
            k=args.k,
            min_history=args.min_history,
        )
        src = {"runs": args.runs, "current": args.runs[-1]}
    print(
        json.dumps(
            {
                **src,
                "n_anomalies": len(anomalies),
                "anomalies": anomalies,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 1 if anomalies else 0


def cmd_metrics_prune(args) -> int:
    """Retention for the cross-run metrics repository: keep the newest
    --keep runs (or drop one explicit --run-id) and print what was
    dropped. The anomaly envelope only needs its trailing window; an
    unbounded repo eventually straddles regime changes and dulls the MAD
    (plans/history.py prune docstring)."""
    from unify_spark.plans.history import MetricsRepository

    if (args.keep is None) == (args.run_id is None):
        print("metrics-prune: pass exactly one of --keep or --run-id", file=sys.stderr)
        return 2
    if args.keep is not None and args.keep < 1:
        print("metrics-prune: --keep must be >= 1", file=sys.stderr)
        return 2
    spark = get_spark("unify-metrics-prune")
    repo = MetricsRepository(spark, args.repo)
    if args.run_id:
        known = repo.runs()
        if args.run_id not in known:
            print(f"metrics-prune: unknown run_id {args.run_id!r}", file=sys.stderr)
            return 2
        repo.delete_run(args.run_id)
        dropped = [args.run_id]
    else:
        dropped = repo.prune(args.keep)
    print(
        json.dumps(
            {"repo": args.repo, "dropped": dropped, "kept": repo.runs()},
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_reconcile(args) -> int:
    """Row-level diff of two table versions (migration validation): classify
    every key as only-left / only-right / differing / matching via slim
    (key, fingerprint) projections, drill into per-column evidence for the
    differing keys only. Exit 1 unless the tables reconcile exactly."""
    from unify_spark.operators.reconcile import reconcile_tables
    from unify_spark.sources import read_table

    spark = get_spark("unify-reconcile")
    left = read_table(spark, args.left)
    right = read_table(spark, args.right)
    report, evidence = reconcile_tables(
        left,
        right,
        key_cols=args.keys,
        compare_cols=args.compare,
        float_digits=args.float_digits,
        details=not args.no_details,
        detail_cap=args.detail_cap,
        table=args.table,
    )
    out = report.summary()
    if evidence is not None and args.out:
        evidence.coalesce(1).write.mode("overwrite").parquet(args.out)
        out["evidence"] = args.out
    print(json.dumps(out, indent=2, sort_keys=True))
    return 0 if report.identical else 1


def cmd_verdict_diff(args) -> int:
    """Diff two runs' per-(constraint, partition) verdict matrices from the
    shared audit table — the release-gate "which partitions did this load
    make worse". Exit 1 when any cell regressed (pass→fail), appeared
    failing, or still fails with MORE violations; fixed/disappeared cells
    are informational."""
    from unify_spark.plans.audit import AuditLog, verdict_diff

    spark = get_spark("unify-verdict-diff")
    audit = AuditLog(spark, os.path.join(args.out, "audit"))
    diff = verdict_diff(audit, args.from_run, args.to_run)
    worse = [
        d
        for d in diff
        if d["change"] in ("regressed", "appeared")
        or (
            d["change"] == "still_fail"
            and (d["violations_b"] or 0) > (d["violations_a"] or 0)
        )
    ]
    print(
        json.dumps(
            {
                "from_run": args.from_run,
                "to_run": args.to_run,
                "n_changes": len(diff),
                "n_worse": len(worse),
                "by_change": {
                    c: sum(1 for d in diff if d["change"] == c)
                    for c in sorted({d["change"] for d in diff})
                },
                "changes": diff,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 1 if worse else 0


def cmd_list_runs(args) -> int:
    """list-dbs analogue: summarize runs recorded in an audit table."""
    from pyspark.sql import functions as F

    from unify_spark.plans.audit import AuditLog

    spark = get_spark("unify-list-runs")
    audit = AuditLog(spark, os.path.join(args.out, "audit"))
    rows = (
        audit.read()
        .filter(F.col("status") == "done")
        .groupBy("run_id")
        .agg(
            F.count(F.lit(1)).alias("stages"),
            F.sum("violation_count").alias("violations"),
            # fused mode stamps the wave's wall on every stage of the wave -> max
            F.round(F.max("wall_sec"), 2).alias("wall_sec"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy(F.desc("last_ts"))
        .collect()
    )
    for r in rows:
        print(
            f"{r['run_id']}: stages={r['stages']} violations={r['violations']}"
            f" wall={r['wall_sec']}s"
        )
    return 0


def cmd_retract(args) -> int:
    """retract analogue (reference import/retract.clj:84-153): undo a run."""
    from unify_spark.sources.sinks import retract_run

    spark = get_spark("unify-retract")
    removed = retract_run(spark, args.out, args.run_id)
    print(f"retracted {removed} audit rows for run {args.run_id}")
    return 0


def _parse_rates(specs: list[str]) -> dict[str, float]:
    out = {}
    for s in specs:
        k, v = s.split("=", 1)
        out[k] = float(v)
    return out


def cmd_corpus_clean(args) -> int:
    """End-to-end corpus cleaning: quality gate → near-dup clustering →
    canonical selection (functions/pipeline.py clean_corpus)."""
    from unify_spark.functions.pipeline import clean_corpus
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "clean",
        {
            "id_col": "doc_id",
            "text_col": "text",
            "min_tokens": 5,
            "max_punct_ratio": 0.3,
            "max_tok_rep_ratio": None,
            "boilerplate_min_df": None,
            "min_est_jaccard": 0.5,
            "benchmark": None,
            "bench_id_col": None,
            "bench_text_col": None,
            "decontaminate_n": 8,
            "decontaminate_min_overlap": 1,
        },
    )
    spark = get_spark("unify-corpus-clean")
    df = read_table(spark, args.table)
    rep = knobs["max_tok_rep_ratio"]
    bench = (
        read_table(spark, knobs["benchmark"])
        if knobs["benchmark"] is not None
        else None
    )
    kept, report = clean_corpus(
        df,
        id_col=knobs["id_col"],
        text_col=knobs["text_col"],
        min_tokens=int(knobs["min_tokens"]),
        max_punct_ratio=float(knobs["max_punct_ratio"]),
        max_tok_rep_ratio=None if rep is None else float(rep),
        boilerplate_min_df=(
            None if knobs["boilerplate_min_df"] is None
            else int(knobs["boilerplate_min_df"])
        ),
        min_est_jaccard=float(knobs["min_est_jaccard"]),
        benchmark=bench,
        bench_id_col=knobs["bench_id_col"],
        bench_text_col=knobs["bench_text_col"],
        decontaminate_n=int(knobs["decontaminate_n"]),
        decontaminate_min_overlap=int(knobs["decontaminate_min_overlap"]),
    )
    kept.write.mode("overwrite").parquet(args.out)
    kept.unpersist()
    print(
        json.dumps(
            {
                "n_input": report.n_input,
                "n_after_quality": report.n_after_quality,
                "n_kept": report.n_kept,
                "removed_quality": report.removed_quality,
                "removed_decontaminated": report.n_decontaminated,
                "removed_duplicates": report.removed_duplicates,
                "out": args.out,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_corpus_sample(args) -> int:
    """Deterministic hash sampling: flat rate, per-stratum rates, or exact
    per-stratum quotas (functions/sampling.py)."""
    from unify_spark.functions import sampling
    from unify_spark.sources import read_table

    spark = get_spark("unify-corpus-sample")
    df = read_table(spark, args.table)
    if args.quota is not None:
        if not args.stratum:
            print("error: --quota needs --stratum", file=sys.stderr)
            return 2
        out = sampling.take_per_stratum(
            df, args.id_col, args.stratum, args.quota, salt=args.salt,
            strata_counts=("auto" if args.auto_thin else None),
        )
    elif args.rates:
        if not args.stratum:
            print("error: --rates needs --stratum", file=sys.stderr)
            return 2
        out = sampling.stratified_sample(
            df, args.id_col, args.stratum, _parse_rates(args.rates),
            default_rate=args.rate or 0.0, salt=args.salt,
        )
    else:
        if args.rate is None:
            print("error: one of --rate / --rates / --quota required", file=sys.stderr)
            return 2
        out = sampling.sample_hash(df, args.id_col, args.rate, salt=args.salt)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"n_sampled": n, "out": args.out}))
    return 0


def cmd_corpus_pack(args) -> int:
    """Token-budget sequence packing: writes (id, n_tokens, tok_before,
    chunk_id, chunk_offset) placements (functions/packing.py)."""
    from unify_spark.functions import packing
    from unify_spark.sources import read_table

    spark = get_spark("unify-corpus-pack")
    df = read_table(spark, args.table)
    from pyspark.sql import functions as F

    out = packing.pack_documents(df, args.id_col, args.text_col, budget=args.budget)
    out.write.mode("overwrite").parquet(args.out)
    packed = spark.read.parquet(args.out)
    row = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("chunk_id") + 1).alias("n_chunks"),
    ).first()
    print(
        json.dumps(
            {
                "n_docs": row["n_docs"],
                "total_tokens": int(row["total_tokens"] or 0),
                "n_chunks": int(row["n_chunks"] or 0),
                "budget": args.budget,
                "out": args.out,
            }
        )
    )
    return 0


def _with_config(args, section: str, defaults: dict) -> dict:
    """Resolve operator knobs: built-in default < config-file corpus section
    < explicit CLI flag (flags default to None so a given flag always
    wins). This is the zero-Python contract for the corpus operators —
    every knob reachable from a YAML/JSON file (plans/config.py
    parse_corpus_config)."""
    cfg = {}
    if getattr(args, "config", None):
        from unify_spark.plans.config import load_corpus_config

        cfg = getattr(load_corpus_config(args.config), section)
    out = dict(defaults)
    out.update(cfg)
    for k in defaults:
        v = getattr(args, k, None)
        if v is not None:
            out[k] = v
    return out


def cmd_schema_diff(args) -> int:
    """Schema-evolution drift between two metamodel JSONs (e.g. the one a
    pipeline was validated against vs one freshly inferred): prints the
    change list with breaking/compatible severities; --fail-on-breaking
    turns a breaking change into a non-zero exit for CI gates. Driver-side
    metadata comparison — no Spark session."""
    from unify_spark.schema.diff import main_diff_files

    report = main_diff_files(args.old, args.new)
    print(json.dumps(report, indent=2, sort_keys=True))
    if args.fail_on_breaking and report["n_breaking"] > 0:
        return 1
    return 0


def cmd_corpus_embed_dedup(args) -> int:
    """Semantic (embedding-space) duplicate clustering from the CLI:
    banded hyperplane LSH candidates → exact cosine → pointer-doubling
    connected components (functions/similarity.py embedding_dup_clusters).
    All knobs config-reachable: corpus.embed_dedup in --config."""
    from pyspark.sql import functions as F

    from unify_spark.functions.similarity import embedding_dup_clusters
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "embed_dedup",
        {
            "id_col": "vec_id",
            "vec_col": "embedding",
            "dim": None,
            "threshold": 0.95,
            "n_planes": 100,
            "n_bands": 10,
            "max_bucket_size": 100_000,
        },
    )
    if knobs["dim"] is None:
        print("error: dim required (flag --dim or corpus.embed_dedup.dim)", file=sys.stderr)
        return 2
    spark = get_spark("unify-embed-dedup")
    df = read_table(spark, args.table)
    out = embedding_dup_clusters(
        df,
        dim=int(knobs["dim"]),
        threshold=float(knobs["threshold"]),
        id_col=knobs["id_col"],
        vec_col=knobs["vec_col"],
        n_planes=int(knobs["n_planes"]),
        n_bands=int(knobs["n_bands"]),
        max_bucket_size=int(knobs["max_bucket_size"]),
    )
    out.write.mode("overwrite").parquet(args.out)
    clusters = spark.read.parquet(args.out)
    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster").alias("n_clusters"),
    ).first()
    print(
        json.dumps(
            {
                "n_vectors": row["n"],
                "n_clusters": row["n_clusters"],
                "n_duplicates": row["n"] - row["n_clusters"],
                "threshold": float(knobs["threshold"]),
                "out": args.out,
            }
        )
    )
    return 0


def cmd_corpus_decontaminate(args) -> int:
    """Test-set leakage screen: flag corpus docs sharing >= min-overlap
    token n-grams with any benchmark doc (functions/dedup.py decontaminate);
    writes the flagged (doc_id, bench_id, n_shared, contamination) pairs."""
    from pyspark.sql import functions as F

    from unify_spark.functions.dedup import decontaminate
    from unify_spark.sources import read_table

    spark = get_spark("unify-decontaminate")
    corpus = read_table(spark, args.table)
    bench = read_table(spark, args.benchmark)
    out = decontaminate(
        corpus,
        bench,
        id_col=args.id_col,
        text_col=args.text_col,
        bench_id_col=args.bench_id_col,
        bench_text_col=args.bench_text_col,
        n=args.ngram,
        min_overlap=args.min_overlap,
    )
    out.write.mode("overwrite").parquet(args.out)
    flags = spark.read.parquet(args.out)
    row = flags.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("doc_id").alias("n_docs_flagged"),
    ).first()
    print(
        json.dumps(
            {
                "n_pairs": row["n_pairs"],
                "n_docs_flagged": row["n_docs_flagged"],
                "ngram": args.ngram,
                "min_overlap": args.min_overlap,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_audio_features(args) -> int:
    """Audio feature + activity-segment sidecars from the CLI: ONE decode
    pass (audio_sidecars — PCM decode dominates, so features and segments
    share the decoded matrices) projected into (features.parquet,
    segments.parquet) under ``--out``. Column names and VAD knobs come from
    corpus.audio in --config or flags — the same config-driven entry the
    text corpus path has."""
    from pyspark.sql import functions as F

    from unify_spark.functions.multimodal import audio_sidecars
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "audio",
        {
            "id_col": "clip_id",
            "bytes_col": "bytes",
            "codec_col": "codec",
            "sr_col": "sr_hz",
            "threshold_dbfs": -40.0,
            "max_gap_ms": 100,
            "min_dur_ms": 60,
        },
    )
    spark = get_spark("unify-audio-features")
    df = read_table(spark, args.table)
    cols = {k: knobs[k] for k in ("id_col", "bytes_col", "codec_col", "sr_col")}
    feats_path = os.path.join(args.out, "features.parquet")
    segs_path = os.path.join(args.out, "segments.parquet")
    combined = audio_sidecars(
        df,
        **cols,
        threshold_dbfs=float(knobs["threshold_dbfs"]),
        max_gap_ms=int(knobs["max_gap_ms"]),
        min_dur_ms=int(knobs["min_dur_ms"]),
    ).persist()
    idc = knobs["id_col"]
    combined.select(
        idc, "rms_db", "peak", "zcr", "clipping_ratio", "silence_ratio",
        "dc_offset", "n_samples", "reason",
    ).write.mode("overwrite").parquet(feats_path)
    combined.select(
        idc, "segments", "n_segments", "speech_ms", "reason"
    ).write.mode("overwrite").parquet(segs_path)
    combined.unpersist()
    feats = spark.read.parquet(feats_path)
    segs = spark.read.parquet(segs_path)
    row = feats.agg(
        F.count(F.lit(1)).alias("n"),
        # undecodable rows carry a non-empty reason string ('' = decoded)
        F.sum((F.col("reason") != "").cast("long")).alias("n_failed"),
    ).first()
    srow = segs.agg(F.sum("speech_ms").alias("speech_ms")).first()
    print(
        json.dumps(
            {
                "n_clips": row["n"],
                "n_failed": int(row["n_failed"] or 0),
                "total_speech_ms": int(srow["speech_ms"] or 0),
                "features": feats_path,
                "segments": segs_path,
            }
        )
    )
    return 0


def cmd_audio_embed(args) -> int:
    """Deterministic spectral embeddings from the CLI (multimodal.py
    audio_embeddings): the audio->vector bridge table, ready for
    corpus-embed-dedup / ANN; knobs from corpus.audio_embed or flags."""
    from pyspark.sql import functions as F

    from unify_spark.functions.multimodal import audio_embeddings
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "audio_embed",
        {
            "id_col": "clip_id",
            "bytes_col": "bytes",
            "codec_col": "codec",
            "sr_col": "sr_hz",
            "n_bands": 32,
            "frame_ms": 32,
            "target_sr": 16_000,
        },
    )
    spark = get_spark("unify-audio-embed")
    df = read_table(spark, args.table)
    out = audio_embeddings(
        df,
        id_col=knobs["id_col"],
        bytes_col=knobs["bytes_col"],
        codec_col=knobs["codec_col"],
        sr_col=knobs["sr_col"],
        n_bands=int(knobs["n_bands"]),
        frame_ms=int(knobs["frame_ms"]),
        target_sr=(None if knobs["target_sr"] is None else int(knobs["target_sr"])),
    )
    out.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    row = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("reason") != "").cast("long")).alias("n_failed"),
    ).first()
    print(
        json.dumps(
            {
                "n_clips": row["n"],
                "n_embedded": row["n"] - int(row["n_failed"] or 0),
                "dim": int(knobs["n_bands"]),
                "out": args.out,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_audio_clean(args) -> int:
    """Audio corpus gate from the CLI: decode + quality screen + exact
    payload dedup (functions/pipeline.py clean_audio_corpus); writes the
    kept clips with quality columns attached. Knobs from corpus.audio_clean
    in --config or flags."""
    from unify_spark.functions.pipeline import clean_audio_corpus
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "audio_clean",
        {
            "id_col": "clip_id",
            "bytes_col": "bytes",
            "codec_col": "codec",
            "sr_col": "sr_hz",
            "threshold_dbfs": -40.0,
            "max_silence_ratio": 0.95,
            "max_clipping_ratio": 0.2,
            "min_speech_ms": 0,
            "near_dup_min_shared": None,
        },
    )
    spark = get_spark("unify-audio-clean")
    df = read_table(spark, args.table)
    kept, report = clean_audio_corpus(
        df,
        id_col=knobs["id_col"],
        bytes_col=knobs["bytes_col"],
        codec_col=knobs["codec_col"],
        sr_col=knobs["sr_col"],
        threshold_dbfs=float(knobs["threshold_dbfs"]),
        max_silence_ratio=float(knobs["max_silence_ratio"]),
        max_clipping_ratio=float(knobs["max_clipping_ratio"]),
        min_speech_ms=int(knobs["min_speech_ms"]),
        near_dup_min_shared=(
            None if knobs["near_dup_min_shared"] is None
            else int(knobs["near_dup_min_shared"])
        ),
    )
    kept.write.mode("overwrite").parquet(args.out)
    kept.unpersist()
    print(
        json.dumps(
            {
                "n_input": report.n_input,
                "n_after_quality": report.n_after_quality,
                "n_kept": report.n_kept,
                "removed_quality": report.removed_quality,
                "removed_duplicates": report.removed_duplicates,
                "out": args.out,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_audio_normalize(args) -> int:
    """Loudness-normalize a clips table to a target dBFS (decode → gain →
    re-encode in the clip's own codec; functions/multimodal.py
    normalize_audio_gain); knobs from corpus.audio_normalize or flags."""
    from pyspark.sql import functions as F

    from unify_spark.functions.multimodal import normalize_audio_gain
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "audio_normalize",
        {
            "id_col": "clip_id",
            "bytes_col": "bytes",
            "codec_col": "codec",
            "sr_col": "sr_hz",
            "target_dbfs": -20.0,
            "mode": "rms",
            "max_gain_db": 30.0,
        },
    )
    spark = get_spark("unify-audio-normalize")
    df = read_table(spark, args.table)
    out = normalize_audio_gain(
        df,
        id_col=knobs["id_col"],
        bytes_col=knobs["bytes_col"],
        codec_col=knobs["codec_col"],
        sr_col=knobs["sr_col"],
        target_dbfs=float(knobs["target_dbfs"]),
        mode=str(knobs["mode"]),
        max_gain_db=float(knobs["max_gain_db"]),
    )
    out.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    summary = res.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum((F.col("reason") == "").cast("long")).alias("n_normalized"),
        F.round(F.avg(F.when(F.col("reason") == "", F.col("gain_db"))), 3).alias(
            "mean_gain_db"
        ),
    ).first()
    print(
        json.dumps(
            {
                "n_clips": summary["n_clips"],
                "n_normalized": int(summary["n_normalized"] or 0),
                "mean_gain_db": summary["mean_gain_db"],
                "out": args.out,
            },
            indent=2,
            sort_keys=True,
        )
    )
    return 0


def cmd_audio_dedup(args) -> int:
    """Near-duplicate audio from the CLI: acoustic-fingerprint candidate
    pairs (functions/audio_dedup.py) — the same recording under a
    different codec/gain surfaces; knobs from corpus.audio_dedup in
    --config or flags."""
    from pyspark.sql import functions as F

    from unify_spark.functions.audio_dedup import audio_near_dup_candidates
    from unify_spark.sources import read_table

    knobs = _with_config(
        args,
        "audio_dedup",
        {
            "id_col": "clip_id",
            "bytes_col": "bytes",
            "codec_col": "codec",
            "sr_col": "sr_hz",
            "frame_ms": 64,
            "n_bands": 17,
            "min_shared": 5,
            "max_fp_freq": 10_000,
            "target_sr": 16_000,
            "hop_ms": 4,
            "align": True,
        },
    )
    spark = get_spark("unify-audio-dedup")
    df = read_table(spark, args.table)
    out = audio_near_dup_candidates(
        df,
        id_col=knobs["id_col"],
        bytes_col=knobs["bytes_col"],
        codec_col=knobs["codec_col"],
        sr_col=knobs["sr_col"],
        frame_ms=int(knobs["frame_ms"]),
        n_bands=int(knobs["n_bands"]),
        min_shared=int(knobs["min_shared"]),
        max_fp_freq=int(knobs["max_fp_freq"]),
        target_sr=(None if knobs["target_sr"] is None else int(knobs["target_sr"])),
        hop_ms=(None if knobs["hop_ms"] is None else int(knobs["hop_ms"])),
        align=bool(knobs["align"]),
    )
    out.write.mode("overwrite").parquet(args.out)
    pairs = spark.read.parquet(args.out)
    n_pairs = pairs.count()
    # clips-with-a-duplicate counts BOTH sides of each pair
    n_dup = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    print(
        json.dumps(
            {
                "n_pairs": n_pairs,
                "n_clips_with_dup": n_dup,
                "min_shared": int(knobs["min_shared"]),
                "out": args.out,
            }
        )
    )
    return 0


def cmd_generate_fixture(args) -> int:
    from unify_spark.fixtures import generate_fixture

    m = generate_fixture(
        args.out, n_rows=args.rows, n_parts=args.parts, payload_cap_ms=args.payload_cap_ms
    )
    print(m.to_json())
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="unify-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("infer-schema", help="profile tables and emit a metamodel JSON")
    s.add_argument("--tables", nargs="+", required=True, metavar="name=path")
    s.add_argument("--out")
    s.add_argument("--baseline", help="prior metamodel JSON: also print the schema drift report")
    s.set_defaults(fn=cmd_infer_schema)

    s = sub.add_parser("infer-json-schema", help="emit JSON Schema per kind")
    s.add_argument("--tables", nargs="*", default=[], metavar="name=path")
    s.add_argument("--metamodel", help="metamodel JSON (skip profiling)")
    s.add_argument("--out")
    s.set_defaults(fn=cmd_infer_json_schema)

    s = sub.add_parser("validate", help="run a constraint suite, emit verdicts + audit")
    s.add_argument("--tables", nargs="*", default=[], metavar="name=path")
    s.add_argument("--config", help="YAML/JSON suite config (tables + constraints); "
                                    "--tables entries override config paths")
    s.add_argument("--metamodel", help="metamodel JSON; default = built-in audio suite")
    s.add_argument("--out", required=True)
    s.add_argument("--run-id", default="run-0")
    s.add_argument("--part-col", default="part_date")
    s.add_argument("--fail-fast", action="store_true")
    s.add_argument("--no-resume", action="store_true")
    s.add_argument("--violation-cap", type=int, default=1000)
    s.add_argument("--payload-cap-ms", type=int, default=None,
                   help="payload truncation used at synthesis time; default reads "
                        "the fixture manifest next to the clips table, else 50; "
                        "<=0 validates the full duration")
    s.add_argument("--fused", action="store_true",
                   help="single-job fused plan (max throughput; stage-grain resume off)")
    s.add_argument("--profile", action="store_true",
                   help="also persist column statistics to <out>/profile")
    s.add_argument("--metrics-repo", dest="metrics_repo", default=None,
                   metavar="PATH",
                   help="with --profile: also append this run's stat rows to "
                        "a cross-run metrics repository (parquet dir or "
                        "Iceberg table) scored by history-anomalies --repo")
    s.add_argument("--baseline", default=None, metavar="DIR",
                   help="a PRIOR run's --out directory: score this run's "
                        "partitions against its persisted drift-histogram "
                        "sidecar (<dir>/drift_hist); any cross-run drift "
                        "failure fails the run")
    s.add_argument("--incremental-from", default=None, metavar="DIR",
                   help="a PRIOR run's --out directory: fingerprint-diff its "
                        "partitions against this run's tables and re-validate "
                        "ONLY changed/added partitions for partition-local "
                        "constraints (global checks always re-run); unchanged "
                        "partitions inherit the prior run's verdicts")
    s.add_argument("--no-fingerprints", action="store_true",
                   help="skip saving the per-partition content fingerprints "
                        "a later --incremental-from run would diff against")
    s.add_argument("--payload-sample-rate", dest="payload_sample_rate",
                   type=float, default=None, metavar="R",
                   help="built-in suite only: run the decode-heavy payload "
                        "check on a deterministic hash-sample of rate R "
                        "(0<R<=1) and report Wilson-extrapolated "
                        "sampled_estimates; all other checks stay exhaustive")
    s.add_argument("--quarantine-to", default=None, metavar="DIR",
                   help="expect-or-drop: after validating, write DIR/clean "
                        "(rows whose key violated no row-grain constraint) "
                        "and DIR/quarantined (the rest) for the quarantine "
                        "table; forces the uncapped violating-keys sidecar")
    s.add_argument("--quarantine-table", default="clips",
                   help="table to split (default clips)")
    s.add_argument("--quarantine-key", default="clip_id",
                   help="row key column of the quarantine table (default clip_id)")
    s.set_defaults(fn=cmd_validate)

    s = sub.add_parser("compile-schema", help="compile a schema DSL (YAML/JSON) to artifacts")
    s.add_argument("--dsl", required=True, help="DSL file: kind -> {id, parent, attributes}")
    s.add_argument("--out", required=True, help="output directory for compiled artifacts")
    s.set_defaults(fn=cmd_compile_schema)

    s = sub.add_parser("infer-metaschema", help="emit {tables, joins} metaschema from a metamodel")
    s.add_argument("--metamodel", required=True)
    s.add_argument("--out")
    s.set_defaults(fn=cmd_infer_metaschema)

    s = sub.add_parser("profile", help="column statistics to parquet")
    s.add_argument("--tables", nargs="+", required=True, metavar="name=path")
    s.add_argument("--out", required=True)
    s.add_argument("--part-col", default="part_date")
    s.add_argument("--metrics-repo", dest="metrics_repo", default=None,
                   metavar="PATH",
                   help="also append the stat rows, tagged --run-id, to a "
                        "cross-run metrics repository (parquet dir or "
                        "Iceberg table)")
    s.add_argument("--run-id", default="run-0",
                   help="run tag for --metrics-repo rows (default run-0)")
    s.set_defaults(fn=cmd_profile)

    s = sub.add_parser(
        "suggest-constraints",
        help="profile tables and emit a runnable suite config "
             "(range/domain/required/uniqueness/referential suggestions)",
    )
    s.add_argument("--tables", nargs="+", required=True, metavar="name=path")
    s.add_argument("--out", default=None, help="write the suggested suite.yaml here")
    s.add_argument("--part-col", default="part_date")
    s.add_argument("--domain-max-cardinality", type=int, default=50)
    s.add_argument("--exclude", nargs="+", default=None, metavar="table=col,col",
                   help="columns to skip profiling (e.g. clips=bytes to keep "
                        "the payload column out of the suggestion scan)")
    s.add_argument("--no-verify-unique", action="store_true",
                   help="skip the exact count-distinct confirmation of "
                        "uniqueness candidates (extreme-scale escape; "
                        "suggestions are then marked approximate)")
    s.set_defaults(fn=cmd_suggest_constraints)

    s = sub.add_parser(
        "history-anomalies",
        help="score the newest run's profile metrics against the trailing "
             "runs (median +/- k*MAD); exit 1 on anomalies",
    )
    s.add_argument("--runs", nargs="+", default=None, metavar="OUT_DIR",
                   help="run out dirs oldest-first; the LAST is scored "
                        "against the rest (each needs a profile sidecar)")
    s.add_argument("--repo", default=None, metavar="PATH",
                   help="cross-run metrics repository (appended by "
                        "profile/validate --metrics-repo) as the history "
                        "source instead of --runs")
    s.add_argument("--run-id", default=None,
                   help="with --repo: run to score (default: newest)")
    s.add_argument("--max-history", type=int, default=None,
                   help="with --repo: trailing-window size (default: all "
                        "earlier runs)")
    s.add_argument("--k", type=float, default=4.0,
                   help="robust z-score threshold (default 4)")
    s.add_argument("--min-history", type=int, default=3,
                   help="minimum prior observations per metric (default 3)")
    s.set_defaults(fn=cmd_history_anomalies)

    s = sub.add_parser(
        "metrics-prune",
        help="retention for a cross-run metrics repository: keep the "
             "newest N runs or drop one run_id",
    )
    s.add_argument("--repo", required=True, metavar="PATH",
                   help="metrics repository (parquet dir or Iceberg table)")
    s.add_argument("--keep", type=int, default=None, metavar="N",
                   help="drop every run except the newest N")
    s.add_argument("--run-id", default=None,
                   help="drop exactly this run instead of pruning by count")
    s.set_defaults(fn=cmd_metrics_prune)

    s = sub.add_parser(
        "reconcile",
        help="row-level diff of two table versions; exit 1 unless identical",
    )
    s.add_argument("--left", required=True, help="baseline table path")
    s.add_argument("--right", required=True, help="candidate table path")
    s.add_argument("--keys", nargs="+", required=True, metavar="COL",
                   help="row-identity columns")
    s.add_argument("--compare", nargs="+", default=None, metavar="COL",
                   help="columns to compare (default: all shared non-key)")
    s.add_argument("--float-digits", type=int, default=None,
                   help="round float/double columns to N digits before "
                        "comparing (default: exact bit-form)")
    s.add_argument("--no-details", action="store_true",
                   help="skip the per-column drill-down over differing keys")
    s.add_argument("--detail-cap", type=int, default=1000,
                   help="max evidence rows per class (default 1000)")
    s.add_argument("--table", default="table",
                   help="table name used in evidence rows")
    s.add_argument("--out", default=None,
                   help="write evidence rows (VIOLATION_SCHEMA) to this "
                        "parquet path")
    s.set_defaults(fn=cmd_reconcile)

    s = sub.add_parser(
        "verdict-diff",
        help="diff two runs' per-(constraint, partition) verdict matrices; "
             "exit 1 when any cell got worse",
    )
    s.add_argument("--out", required=True,
                   help="the runs' shared --out directory (audit table)")
    s.add_argument("--from-run", dest="from_run", required=True)
    s.add_argument("--to-run", dest="to_run", required=True)
    s.set_defaults(fn=cmd_verdict_diff)

    s = sub.add_parser("list-runs", help="summarize runs in an audit directory")
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_list_runs)

    s = sub.add_parser("retract", help="undo a run: drop its audit + violation state")
    s.add_argument("--out", required=True)
    s.add_argument("--run-id", required=True)
    s.set_defaults(fn=cmd_retract)

    s = sub.add_parser("corpus-clean", help="quality-gate + dedup + canonicalize a corpus")
    s.add_argument("--table", required=True, help="input parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.clean section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--text-col", dest="text_col")
    s.add_argument("--min-tokens", dest="min_tokens", type=int)
    s.add_argument("--max-punct-ratio", dest="max_punct_ratio", type=float)
    s.add_argument("--max-tok-rep-ratio", dest="max_tok_rep_ratio", type=float)
    s.add_argument("--boilerplate-min-df", dest="boilerplate_min_df", type=int,
                   help="strip lines appearing in >= N docs before the gate")
    s.add_argument("--min-est-jaccard", dest="min_est_jaccard", type=float)
    s.add_argument("--benchmark", dest="benchmark",
                   help="eval-set parquet: drop docs with n-gram overlap "
                        "(decontamination stage)")
    s.add_argument("--bench-id-col", dest="bench_id_col")
    s.add_argument("--bench-text-col", dest="bench_text_col")
    s.add_argument("--decontaminate-n", dest="decontaminate_n", type=int)
    s.add_argument("--decontaminate-min-overlap", dest="decontaminate_min_overlap",
                   type=int)
    s.set_defaults(fn=cmd_corpus_clean)

    s = sub.add_parser("corpus-sample", help="deterministic hash sampling (rate/strata/quota)")
    s.add_argument("--table", required=True, help="input parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--rate", type=float, default=None,
                   help="flat keep rate (or default rate with --rates)")
    s.add_argument("--stratum", default=None, help="stratum column for --rates/--quota")
    s.add_argument("--rates", nargs="*", default=None, metavar="value=rate",
                   help="per-stratum keep rates")
    s.add_argument("--quota", type=int, default=None,
                   help="exact rows per stratum (smallest id-hash wins)")
    s.add_argument("--salt", default="", help="decorrelate independent samples")
    s.add_argument("--auto-thin", dest="auto_thin", action="store_true",
                   help="with --quota: discover giant strata (count pass) "
                        "and pre-thin them before the window")
    s.set_defaults(fn=cmd_corpus_sample)

    s = sub.add_parser("corpus-pack", help="token-budget sequence packing placements")
    s.add_argument("--table", required=True, help="input parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--budget", type=int, default=2048, help="tokens per chunk")
    s.set_defaults(fn=cmd_corpus_pack)

    s = sub.add_parser(
        "schema-diff", help="schema-evolution drift between two metamodel JSONs"
    )
    s.add_argument("--old", required=True, help="baseline metamodel JSON path")
    s.add_argument("--new", required=True, help="candidate metamodel JSON path")
    s.add_argument("--fail-on-breaking", action="store_true")
    s.set_defaults(fn=cmd_schema_diff)

    s = sub.add_parser(
        "corpus-embed-dedup", help="semantic duplicate clusters over an embedding column"
    )
    s.add_argument("--table", required=True, help="input parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.embed_dedup section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--vec-col", dest="vec_col")
    s.add_argument("--dim", type=int)
    s.add_argument("--threshold", type=float)
    s.add_argument("--n-planes", dest="n_planes", type=int)
    s.add_argument("--n-bands", dest="n_bands", type=int)
    s.add_argument("--max-bucket-size", dest="max_bucket_size", type=int)
    s.set_defaults(fn=cmd_corpus_embed_dedup)

    s = sub.add_parser(
        "corpus-decontaminate", help="flag corpus docs overlapping a benchmark/eval set"
    )
    s.add_argument("--table", required=True, help="corpus parquet path")
    s.add_argument("--benchmark", required=True, help="benchmark/eval parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--id-col", dest="id_col", default="doc_id")
    s.add_argument("--text-col", dest="text_col", default="text")
    s.add_argument("--bench-id-col", dest="bench_id_col")
    s.add_argument("--bench-text-col", dest="bench_text_col")
    s.add_argument("--ngram", type=int, default=8)
    s.add_argument("--min-overlap", dest="min_overlap", type=int, default=1)
    s.set_defaults(fn=cmd_corpus_decontaminate)

    s = sub.add_parser(
        "audio-features", help="audio feature + activity-segment sidecars for a clips table"
    )
    s.add_argument("--table", required=True, help="clips parquet path")
    s.add_argument("--out", required=True, help="directory for features/segments parquet")
    s.add_argument("--config", help="YAML/JSON with a corpus.audio section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--bytes-col", dest="bytes_col")
    s.add_argument("--codec-col", dest="codec_col")
    s.add_argument("--sr-col", dest="sr_col")
    s.add_argument("--threshold-dbfs", dest="threshold_dbfs", type=float)
    s.add_argument("--max-gap-ms", dest="max_gap_ms", type=int)
    s.add_argument("--min-dur-ms", dest="min_dur_ms", type=int)
    s.set_defaults(fn=cmd_audio_features)

    s = sub.add_parser(
        "audio-dedup", help="acoustic-fingerprint near-duplicate pairs for a clips table"
    )
    s.add_argument("--table", required=True, help="clips parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.audio_dedup section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--bytes-col", dest="bytes_col")
    s.add_argument("--codec-col", dest="codec_col")
    s.add_argument("--sr-col", dest="sr_col")
    s.add_argument("--frame-ms", dest="frame_ms", type=int)
    s.add_argument("--n-bands", dest="n_bands", type=int)
    s.add_argument("--min-shared", dest="min_shared", type=int)
    s.add_argument("--max-fp-freq", dest="max_fp_freq", type=int)
    s.set_defaults(fn=cmd_audio_dedup)

    s = sub.add_parser(
        "audio-clean", help="decode + quality gate + exact payload dedup for a clips table"
    )
    s.add_argument("--table", required=True, help="clips parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.audio_clean section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--bytes-col", dest="bytes_col")
    s.add_argument("--codec-col", dest="codec_col")
    s.add_argument("--sr-col", dest="sr_col")
    s.add_argument("--threshold-dbfs", dest="threshold_dbfs", type=float)
    s.add_argument("--max-silence-ratio", dest="max_silence_ratio", type=float)
    s.add_argument("--max-clipping-ratio", dest="max_clipping_ratio", type=float)
    s.add_argument("--min-speech-ms", dest="min_speech_ms", type=int)
    s.add_argument("--near-dup-min-shared", dest="near_dup_min_shared", type=int,
                   help="enable the acoustic near-dup collapse stage")
    s.set_defaults(fn=cmd_audio_clean)

    s = sub.add_parser(
        "audio-embed",
        help="deterministic spectral embeddings (audio -> vector bridge)",
    )
    s.add_argument("--table", required=True, help="clips parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.audio_embed section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--bytes-col", dest="bytes_col")
    s.add_argument("--codec-col", dest="codec_col")
    s.add_argument("--sr-col", dest="sr_col")
    s.add_argument("--n-bands", dest="n_bands", type=int)
    s.add_argument("--frame-ms", dest="frame_ms", type=int)
    s.add_argument("--target-sr", dest="target_sr", type=int)
    s.set_defaults(fn=cmd_audio_embed)

    s = sub.add_parser(
        "audio-normalize",
        help="loudness-normalize clips to a target dBFS (decode, gain, re-encode)",
    )
    s.add_argument("--table", required=True, help="clips parquet path")
    s.add_argument("--out", required=True)
    s.add_argument("--config", help="YAML/JSON with a corpus.audio_normalize section")
    s.add_argument("--id-col", dest="id_col")
    s.add_argument("--bytes-col", dest="bytes_col")
    s.add_argument("--codec-col", dest="codec_col")
    s.add_argument("--sr-col", dest="sr_col")
    s.add_argument("--target-dbfs", dest="target_dbfs", type=float)
    s.add_argument("--mode", dest="mode", choices=["rms", "peak"])
    s.add_argument("--max-gain-db", dest="max_gain_db", type=float)
    s.set_defaults(fn=cmd_audio_normalize)

    s = sub.add_parser("generate-fixture", help="deterministic synthetic audio fixture")
    s.add_argument("--out", required=True)
    s.add_argument("--rows", type=int, default=10000)
    s.add_argument("--parts", type=int, default=8)
    s.add_argument("--payload-cap-ms", type=int, default=50)
    s.set_defaults(fn=cmd_generate_fixture)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
