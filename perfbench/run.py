"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload suite_fused --seed 1 --seconds 5 --trace 0

Workloads (closed loop, one client: one process holds one SparkSession and
the next validation starts only when the previous one has finished):

* ``suite_fused``        -- ``ValidationRunner.run_fused`` over the full
  audio suite on a seeded clip fixture; checked against its golden counts.
* ``incremental_staged`` -- ``run_incremental(..., fused=False)`` after a
  backfill rewrote one seed-chosen partition with out-of-domain codecs;
  checked against a full staged recompute of the backfilled tables.
* ``corpus_queries``     -- a pass over headline corpus queries in seed
  order, each materialized through the noop sink; checked against DuckDB.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` they are the
per-layer ones, and spans plus every layer metric are written to
``.bench_data/perfbench/traces/``. A failed correctness check makes the
command exit 1. All data lives under ``.bench_data/perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib.util
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data", "perfbench")

WORKLOADS = ("suite_fused", "incremental_staged", "corpus_queries")
CLIPS = {"full": 24_000, "tiny": 3_200}
N_PARTS = 16
FILES_PER_PART = 2
PAYLOAD_CAP_MS = 50
# session start + table load is repeated this many times; setup_s takes the
# median round, then adds the warm-up (a fixed amount of work)
SETUP_ROUNDS = 3
# inputs kept per kind; older seeds are deleted so the cache stays bounded
KEEP_INPUTS = 6
DEADLINE_S = 170

# headline queries run by corpus_queries: one or more per functions/ module
# (dedup, similarity, text, packing, sessions) plus the scan/aggregate one.
# Every query but q_minhash_candidates has a DuckDB twin in oracle_sql().
QUERIES = [
    "q_stats_lineitem",
    "q_dedup_normalized",
    "q_minhash_candidates",
    "q_ngram_containment",
    "q_text_quality",
    "q_pack_spans",
    "q_sessionize",
]

NOT_EXERCISED = {
    "schema/": "no workload infers or compiles schemas",
    "streaming/": "no workload runs a streaming query",
    "scaling_efficiency": (
        "not measured: every mapInPandas task also occupies a Python worker, "
        "so a host with this few cores has no honest 4N level"
    ),
}

# per-layer metrics reported on the result line (every workload has them)
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "scan.time_s": "s",
    "scan.bytes_read": "B",
    "scan.files_read": "count",
    "python.data_sent_bytes": "B",
    "python.data_returned_bytes": "B",
    "python.run_s": "s",
    "shuffle.bytes_written": "B",
    "shuffle.records_written": "count",
    "agg.peak_memory_bytes": "B",
    "spark.sql_executions": "count",
    "spark.tasks": "count",
}


# -- inputs -------------------------------------------------------------------


def _prune(pattern: str, keep: int) -> None:
    dirs = sorted(glob.glob(pattern), key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) - keep)]:
        shutil.rmtree(d, ignore_errors=True)


def _make_inputs(kind: str, seed: int, size: str, final: str) -> None:
    """Write one seed's input under ``final``. Runs in a child process, so
    the generator's memory never counts towards this process's peak."""
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if kind == "corpus":
        from corpus import generate_corpus

        generate_corpus(tmp, seed, size)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from unify_spark.fixtures import generate_fixture
        from unify_spark.fixtures.generate import BAD_CODECS

        m = generate_fixture(
            tmp, n_rows=CLIPS[size], n_parts=N_PARTS, seed=seed,
            payload_cap_ms=PAYLOAD_CAP_MS, files_per_part=FILES_PER_PART,
        )
        # the backfill: a copy of clips whose seed-chosen partition now
        # carries out-of-domain codecs; every other file is byte-identical
        part = f"2025-01-{1 + seed % m.n_parts:02d}"
        shutil.copytree(os.path.join(tmp, "clips"), os.path.join(tmp, "clips_backfill"))
        for f in glob.glob(os.path.join(tmp, "clips_backfill", f"part_date={part}", "*.parquet")):
            t = pq.read_table(f)
            bad = [BAD_CODECS[i % len(BAD_CODECS)] for i in range(t.num_rows)]
            t = t.set_column(t.schema.get_field_index("codec"), "codec", pa.array(bad, pa.string()))
            pq.write_table(t, f, row_group_size=8192)
        with open(os.path.join(tmp, "backfill.json"), "w") as fh:
            json.dump({"part": part}, fh)
    os.replace(tmp, final)


def ensure_inputs(kind: str, seed: int, size: str) -> str:
    """Generate one seed's input once; later runs with that seed reuse it."""
    tag = f"{size}_{CLIPS[size]}" if kind == "clips" else size
    final = os.path.join(DATA, "inputs", f"{kind}_{tag}_s{seed}")
    if not os.path.isdir(final):
        os.makedirs(os.path.dirname(final), exist_ok=True)
        code = (
            "import sys; sys.path[:0] = sys.argv[1:3]; from run import _make_inputs; "
            "_make_inputs(sys.argv[3], int(sys.argv[4]), sys.argv[5], sys.argv[6])"
        )
        subprocess.run(
            [sys.executable, "-c", code, HERE, ROOT, kind, str(seed), size, final], check=True
        )
        _prune(os.path.join(DATA, "inputs", f"{kind}_{tag}_s*"), KEEP_INPUTS)
    return final


# -- session ------------------------------------------------------------------


class Session:
    """Owns the SparkSession and the JVM behind it, and stops both."""

    def __init__(self, master: str, local_dir: str):
        self.master = master
        self.conf = {
            # a fixed, pre-touched heap: the JVM's resident size then does not
            # depend on when the collector chose to grow the heap
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={local_dir}",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None

    def start(self) -> float:
        """(Re)start the session; return the seconds get_spark took."""
        from unify_spark.session import get_spark, stop_spark

        stop_spark()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master, extra_conf=self.conf)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def close(self) -> None:
        from pyspark import SparkContext

        from unify_spark.session import stop_spark

        stop_spark()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _fresh_dir(runs: str, name: str) -> str:
    d = os.path.join(runs, name)
    shutil.rmtree(d, ignore_errors=True)
    return d


# -- workloads ----------------------------------------------------------------
#
# Each workload has load(spark) -> tables, warmup() (the fixed set-up work),
# op(i) -> wall seconds of one timed call (checked outside the timed region),
# and extra_layers() for its traced run.


class SuiteFused:
    name = "suite_fused"

    def __init__(self, seed: int, size: str, runs: str):
        self.fixture = ensure_inputs("clips", seed, size)
        with open(os.path.join(self.fixture, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.runs = runs
        self.failures: list[str] = []

    def meta(self) -> dict:
        return {
            "fixture": os.path.relpath(self.fixture, ROOT),
            "fixture_rows": self.manifest["n_rows"],
            "fixture_bytes": _du(self.fixture),
            "fixture_parts": self.manifest["n_parts"],
        }

    def load(self, spark) -> None:
        from unify_spark.plans import load_audio_tables

        self.spark = spark
        self.tables = load_audio_tables(spark, self.fixture)

    def expected(self) -> dict[str, int]:
        m = self.manifest
        return {
            "uniqueness:clips.clip_id": 2 * len(m["uniqueness_clip_ids"]),
            "referential:transcript_map.clip_id->clips.clip_id": len(m["dangling_transcript_ids"]),
            "equality:clips.transcript=transcript_map.transcript": len(m["mismatch_transcript_ids"]),
            "domain:clips.codec": len(m["codec_domain_clip_ids"]),
            "range:clips.sr_hz+range:clips.dur_ms": len(m["range_clip_ids"]),
            "required:clips.transcript+required:clips.bytes": len(m["nullness_clip_ids"]),
            "payload:clips.bytes": len(m["payload_clip_ids"]),
            "drift:clips.dur_ms": 1,
        }

    def check(self, res) -> list[str]:
        got = res.violation_counts
        errs = [f"stage error {k}: {v[:200]}" for k, v in res.errors.items()]
        for key, want in self.expected().items():
            n = sum(got.get(k, 0) for k in key.split("+"))
            if n != want:
                errs.append(f"{key}: {n} violations, golden {want}")
        return errs

    def _validate(self, i: int):
        from unify_spark.operators.base import ValidationContext
        from unify_spark.plans import ValidationRunner, audio_suite

        out = _fresh_dir(self.runs, f"fused{i}")
        runner = ValidationRunner(
            self.spark, out, ValidationContext(run_id=f"it{i}", payload_cap_ms=PAYLOAD_CAP_MS)
        )
        suite = audio_suite()
        t0 = time.perf_counter()
        res = runner.run_fused(self.tables, suite, resume=False)
        wall = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return wall, res

    def warmup(self) -> float:
        wall, res = self._validate(-1)
        self.failures += self.check(res)
        return wall

    def op(self, i: int) -> float:
        wall, res = self._validate(i)
        errs = self.check(res)
        self.failures += errs
        if errs:
            raise CheckFailed(errs)
        return wall

    def extra_layers(self, sql) -> dict[str, float]:
        return isolated_constraints(self.spark, self.tables, sql)


class IncrementalStaged(SuiteFused):
    name = "incremental_staged"

    def load(self, spark) -> None:
        super().load(spark)
        with open(os.path.join(self.fixture, "backfill.json")) as f:
            self.part = json.load(f)["part"]
        self.backfilled = {
            **self.tables,
            "clips": spark.read.parquet(os.path.join(self.fixture, "clips_backfill")),
        }

    def meta(self) -> dict:
        return {**super().meta(), "backfilled_part": self.part}

    def warmup(self) -> float:
        """Baseline full run + fingerprints, the full staged recompute of
        the backfilled tables the incremental result must equal, and one
        incremental run as timed (its walls keep falling for a few runs)."""
        from unify_spark.operators.base import ValidationContext
        from unify_spark.plans import ValidationRunner, audio_suite
        from unify_spark.plans.incremental import collect_fingerprints, save_fingerprints

        t0 = time.perf_counter()
        self.base_out = _fresh_dir(self.runs, "baseline")
        suite = audio_suite()
        ctx = ValidationContext(run_id="baseline", payload_cap_ms=PAYLOAD_CAP_MS)
        ValidationRunner(self.spark, self.base_out, ctx).run(self.tables, suite, resume=False)
        save_fingerprints(self.base_out, collect_fingerprints(self.tables), constraints=suite)
        full_out = _fresh_dir(self.runs, "recompute")
        ctx = ValidationContext(run_id="recompute", payload_cap_ms=PAYLOAD_CAP_MS)
        self.reference = ValidationRunner(self.spark, full_out, ctx).run(
            self.backfilled, audio_suite(), resume=False
        )
        shutil.rmtree(full_out, ignore_errors=True)
        if self.reference.errors:
            self.failures.append(f"recompute errors: {sorted(self.reference.errors)}")
        _, res = self._validate(-1)
        self.failures += self.check(res)
        return time.perf_counter() - t0

    def _validate(self, i: int):
        from unify_spark.operators.base import ValidationContext
        from unify_spark.plans import ValidationRunner, audio_suite

        out = _fresh_dir(self.runs, f"inc{i}")
        runner = ValidationRunner(
            self.spark, out, ValidationContext(run_id=f"it{i}", payload_cap_ms=PAYLOAD_CAP_MS)
        )
        suite = audio_suite()
        t0 = time.perf_counter()
        res, plan = runner.run_incremental(self.backfilled, suite, self.base_out, fused=False)
        wall = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        self.plan = plan
        return wall, res

    def check(self, res) -> list[str]:
        errs = [f"stage error {k}: {v[:200]}" for k, v in res.errors.items()]
        if res.violation_counts != self.reference.violation_counts:
            errs.append(
                f"counts {sorted(res.violation_counts.items())} != recompute "
                f"{sorted(self.reference.violation_counts.items())}"
            )
        if res.verdicts != self.reference.verdicts:
            errs.append("verdict matrix differs from the full recompute")
        seeded = {c: sorted(ps) for c, ps in self.plan.seeded.items()}
        if len(seeded) != 5 or any(len(ps) != N_PARTS - 1 or self.part in ps for ps in seeded.values()):
            errs.append(f"plan seeded {seeded}, expected 5 partition-local constraints x {N_PARTS - 1}")
        return errs

    def extra_layers(self, sql) -> dict[str, float]:
        from unify_spark.plans import audio_suite

        seeded = sum(len(ps) for ps in self.plan.seeded.values())
        return {
            "incremental.seeded_frac": seeded / (len(audio_suite()) * N_PARTS),
            **isolated_constraints(self.spark, self.backfilled, sql),
        }


class CorpusQueries:
    name = "corpus_queries"

    def __init__(self, seed: int, size: str, runs: str):
        self.corpus = ensure_inputs("corpus", seed, size)
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.failures: list[str] = []
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}

    def meta(self) -> dict:
        import pyarrow.parquet as pq

        return {
            "sf_dir": os.path.relpath(self.corpus, ROOT),
            "corpus_rows": {
                t: pq.read_metadata(os.path.join(self.corpus, f"{t}.parquet")).num_rows
                for t in ("lineitem", "events", "documents")
            },
            "corpus_bytes": _du(self.corpus),
            "query_order": self.order,
        }

    def load(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = {q: entry.queries().get(q) or getattr(entry, q) for q in QUERIES}
        self.oracles = {q: s for q, s in entry.oracle_sql().items() if q in QUERIES}
        for t in ("lineitem", "events", "documents"):
            spark.read.parquet(os.path.join(self.corpus, f"{t}.parquet"))

    def warmup(self) -> float:
        """One pass collecting every result (the results are the gate), then
        one pass as timed: query walls keep falling for several passes."""
        self.first: dict[str, object] = {}
        t0 = time.perf_counter()
        for q in self.order:
            self.first[q] = self.queries[q](self.spark, self.corpus).toPandas()
        self._pass(record=False)
        return time.perf_counter() - t0

    def _pass(self, record: bool) -> float:
        t0 = time.perf_counter()
        for q in self.order:
            t = time.perf_counter()
            with self.tracer.span(f"query.{q}") if self.tracer else contextlib.nullcontext():
                self.queries[q](self.spark, self.corpus).write.format("noop").mode("overwrite").save()
            if record:
                self.per_query[q].append(time.perf_counter() - t)
        return time.perf_counter() - t0

    def op(self, i: int) -> float:
        return self._pass(record=True)

    def query_geomean(self) -> float:
        return _geomean([statistics.median(w) for w in self.per_query.values() if w])

    def check_all(self) -> list[str]:
        """DuckDB for the queries with a SQL twin; a stable row count for
        the others. Runs after the timed passes."""
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "oracle_check", os.path.join(ROOT, "scripts", "oracle_check.py")
        )
        oracle_check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oracle_check)
        errs: list[str] = []
        con = duckdb.connect()
        try:
            for t in ("lineitem", "events", "documents"):
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in QUERIES:
                if q in self.oracles:
                    errs += oracle_check._compare(self.first[q], con.execute(self.oracles[q]).df(), q)
                else:
                    n = self.queries[q](self.spark, self.corpus).count()
                    if n != len(self.first[q]):
                        errs.append(f"{q}: {n} rows, first pass {len(self.first[q])}")
        finally:
            con.close()
        self.failures += errs
        return errs

    def extra_layers(self, sql) -> dict[str, float]:
        return {f"query.{q}_s": statistics.median(w) for q, w in self.per_query.items() if w}


class CheckFailed(Exception):
    pass


def isolated_constraints(spark, tables, sql) -> dict[str, float]:
    """Each suite constraint alone, materialized through the noop sink.
    Also the bytes one payload pass over the whole table sends to Python,
    the base of payload.decoded_frac."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.plans import audio_suite

    ctx = ValidationContext(run_id="isolated", payload_cap_ms=PAYLOAD_CAP_MS)
    out = {}
    for c in audio_suite():
        sql.take()
        t0 = time.perf_counter()
        c.violations(tables, ctx).write.format("noop").mode("overwrite").save()
        out[f"constraint.{c.name}.isolated_s"] = time.perf_counter() - t0
        full = sql.take()["payload.bytes_sent"]
        if full:
            out["payload.full_pass_bytes"] = full
    return out


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# -- tracing ------------------------------------------------------------------


def install_tracer(tracer, counters: dict[str, int]) -> None:
    """Span the public calls of the runner, audit, incremental and retry
    layers (restored by ``tracer.unwrap``)."""
    from unify_spark.plans import audit, incremental, retry, runner

    for m in ("run", "run_fused", "run_incremental"):
        tracer.wrap(runner.ValidationRunner, m, f"runner.{m}")
    tracer.wrap(audit.AuditLog, "append", "audit.append")
    for m in ("read", "completed_constraints", "part_results", "stage_rows_checked", "verdicts"):
        tracer.wrap(audit.AuditLog, m, f"audit.read.{m}")
    tracer.wrap(incremental, "plan_incremental", "incremental.plan")
    tracer.wrap(incremental, "collect_fingerprints", "incremental.fingerprint.collect")
    tracer.wrap(incremental, "partition_fingerprints", "incremental.fingerprint.partition")
    tracer.wrap(incremental, "save_fingerprints", "incremental.save")

    original = retry.with_retries

    def counted(fn, *args, **kwargs):
        counters["retry.calls"] += 1

        def attempt():
            counters["retry.attempts"] += 1
            return fn()

        with tracer.span("retry.with_retries"):
            return original(attempt, *args, **kwargs)

    # runner imported the name at module load; audit imports it per call
    tracer.replace(retry, "with_retries", counted)
    tracer.replace(runner, "with_retries", counted)


def layer_metrics(tracer, counters, sql: dict[str, float], n: int) -> dict[str, float]:
    """Per-iteration layer figures from the spans, counters and SQL metrics."""
    self_t = tracer.self_times()
    out = {k: v / n for k, v in sql.items()}
    for m in ("run", "run_fused", "run_incremental"):
        out[f"runner.{m}_s"] = self_t.get(f"runner.{m}", 0.0) / n
    out["audit.append_calls"] = tracer.count("audit.append") / n
    out["audit.append_s"] = tracer.totals("audit.append")[1] / n
    out["audit.read_s"] = tracer.totals("audit.read")[1] / n
    out["incremental.fingerprint_s"] = tracer.totals("incremental.fingerprint")[1] / n
    out["incremental.plan_s"] = self_t.get("incremental.plan", 0.0) / n
    out["retry.attempts"] = counters["retry.attempts"] / n
    out["retry.retries"] = (counters["retry.attempts"] - counters["retry.calls"]) / n
    return out


# -- measurement --------------------------------------------------------------


def timed_loop(wl, seconds: float) -> tuple[int, int, list[float]]:
    """Closed loop: call ``wl.op`` until ``seconds`` have passed (at least
    once). Returns (attempted, failed, walls of the calls that passed)."""
    attempted = failed = 0
    walls: list[float] = []
    end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < end:
        try:
            walls.append(wl.op(attempted))
        except CheckFailed as e:
            failed += 1
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        except Exception as e:  # an iteration that raises counts as failed
            failed += 1
            print(f"perfbench: iteration raised {type(e).__name__}: {e}", file=sys.stderr)
        attempted += 1
    return attempted, failed, walls


def run(args, wl, session, rss) -> tuple[dict, dict]:
    rounds, get_spark = [], []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        get_spark.append(session.start())
        wl.load(session.spark)
        rounds.append(time.perf_counter() - t0)
    warm = wl.warmup()
    setup_s = statistics.median(rounds) + warm

    attempted, failed, walls = timed_loop(wl, args.seconds)
    if isinstance(wl, CorpusQueries) and wl.check_all():
        failed = attempted
    peak_mb = rss.stop() * 2**20 / 1e6
    peak_parts = {k: round(v / 1e6) for k, v in rss.peak_parts.items()}
    if wl.failures:
        failed = max(failed, 1)
        for f in wl.failures:
            print(f"perfbench: FAIL {f}", file=sys.stderr)

    wall_s = statistics.median(walls) if walls else 0.0
    geo = wl.query_geomean() if isinstance(wl, CorpusQueries) else (_geomean(walls) if walls else 0.0)
    per_query = getattr(wl, "per_query", {})
    summary = {
        "setup_s": setup_s, "setup_rounds_s": rounds, "warmup_s": warm,
        "walls_s": walls, "wall_s": wall_s, "query_geomean_s": geo,
        "peak_rss_mb": peak_mb, "peak_rss_parts_mb": peak_parts, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "per_query_s": {q: [round(x, 3) for x in w] for q, w in per_query.items()},
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "query_geomean_s": (geo, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    if not args.trace:
        return summary, {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    from layers import SqlMetrics, Tracer

    sql = SqlMetrics(session.spark)
    extra = wl.extra_layers(sql)
    sql.take()
    tracer = Tracer()
    counters = {"retry.calls": 0, "retry.attempts": 0}
    install_tracer(tracer, counters)
    wl.tracer = tracer
    traced, per_iter = [], []
    totals: dict[str, float] = {}
    try:
        # two traced calls bound the traced run's length on a slow host
        for i in range(min(2, max(1, len(walls)))):
            tracer.iteration = f"traced-{i}"
            with tracer.span("iteration"):
                traced.append(wl.op(10_000 + i))
            per_iter.append(sql.take())
            for k, v in per_iter[-1].items():
                totals[k] = totals.get(k, 0.0) + v
    finally:
        tracer.unwrap()
        wl.tracer = None
    layers = layer_metrics(tracer, counters, totals, len(traced))
    layers["session.get_spark_s"] = statistics.median(get_spark)
    layers.update(extra)
    # payload bytes per iteration over one whole-table payload pass: about
    # 1 on suite_fused, about 1/16 on incremental_staged, 0 on corpus_queries
    full = layers.get("payload.full_pass_bytes")
    layers["payload.decoded_frac"] = layers["payload.bytes_sent"] / full if full else 0.0
    overhead = statistics.median(traced) - wall_s
    summary.update(traced_walls_s=traced, tracing_overhead_s=overhead)
    os.makedirs(os.path.join(DATA, "traces"), exist_ok=True)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    doc = {
        "workload": args.workload, "seed": args.seed, "summary": summary,
        "layers": layers, "per_iteration_sql": per_iter,
        "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans],
    }
    path = os.path.join(DATA, "traces", f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}; "
          f"tracing overhead {overhead:+.3f} s per iteration", file=sys.stderr)
    return summary, {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}


def _reap_children() -> None:
    """Stop any process this run started that is still alive."""
    from layers import _descendants

    me = os.getpid()
    left = [p for p in _descendants(me) if p != me]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while left and time.time() < deadline:
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if time.time() > deadline - 2:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(CLIPS), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    nproc = os.cpu_count() or 1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    if not 1 <= cpus <= nproc:
        print(f"perfbench: refusing local[{cpus}] on {nproc} cores", file=sys.stderr)
        return 2
    master = f"local[{cpus}]"
    # this process, the input generator and Spark's Python workers all import
    # unify_spark from this checkout, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT]
    import unify_spark  # noqa: F401 -- a checkout without the program stops here

    runs = os.path.join(DATA, "runs", f"{args.workload}-{os.getpid()}")
    local_dir = os.path.join(DATA, "spark_local", str(os.getpid()))
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # temp files of this process, its children and the JVM stay in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = local_dir

    from layers import RssSampler

    cls = {"suite_fused": SuiteFused, "incremental_staged": IncrementalStaged,
           "corpus_queries": CorpusQueries}[args.workload]
    t0 = time.perf_counter()
    wl = cls(args.seed, args.size, runs)
    wl.tracer = None
    inputs_s = time.perf_counter() - t0
    session = Session(master, local_dir)
    rss = RssSampler().start()
    try:
        summary, metrics = run(args, wl, session, rss)
        import pyspark

        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "master": master,
            "spark": pyspark.__version__, "python": platform.python_version(),
            **wl.meta(), "not_exercised": NOT_EXERCISED, **summary,
        }
    finally:
        t0 = time.perf_counter()
        rss.stop()
        session.close()
        shutil.rmtree(runs, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)
        _reap_children()
        signal.alarm(0)
    meta.update(inputs_s=inputs_s, close_s=time.perf_counter() - t0)
    print("perfbench meta: " + json.dumps(meta), file=sys.stderr)
    correct = summary["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": summary["attempted"],
        "failed": summary["failed"], "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
