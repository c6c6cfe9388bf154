"""Per-call fixed costs paid once per session: the worker daemon's guarded
zip-import cache reset (``unify_spark/pyworker.py``) and the per-session
parquet schema cache (``sources/readers.read_parquet``)."""

import importlib
import os
import re
import subprocess
import sys
import time
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from unify_spark import pyworker
from unify_spark.sources.readers import read_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- worker daemon: zip archives re-read only when changed ---------------------


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name in members:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(pyworker._reread is None, reason="zipimporter has no invalidate_caches")
def test_zip_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zg_first"])
    reads = []
    reread = pyworker._reread
    monkeypatch.setattr(pyworker, "_reread", lambda zi: (reads.append(zi.archive), reread(zi)))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_first").NAME == "zg_first"
        importlib.invalidate_caches()  # first guarded call: no stamp yet
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1, "an unchanged archive was re-read"

        _write_zip(archive, ["zg_first", "zg_second"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zg_second").NAME == "zg_second"
    finally:
        for name in ("zg_first", "zg_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(pyworker._reread is None, reason="zipimporter has no invalidate_caches")
def test_session_workers_use_guarded_reset(spark):
    def probe(it):
        """Per task: the method that resets a zip importer, and how many of
        the worker's zip importers a reset re-reads."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        zis = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        before = [id(zi._files) for zi in zis]
        importlib.invalidate_caches()
        for _ in it:
            pass
        yield pd.DataFrame({
            "method": [zipimport.zipimporter.invalidate_caches.__name__],
            "importers": [len(zis)],
            "reread": [sum(b != id(zi._files) for b, zi in zip(before, zis))],
        })

    df = spark.range(0, 16, 1, 4)
    for _ in range(2):  # the second job runs in reused workers
        rows = df.mapInPandas(probe, "method string, importers long, reread long").collect()
    assert {r["method"] for r in rows} == {"_invalidate_if_changed"}
    assert all(r["importers"] > 0 for r in rows), rows
    assert all(r["reread"] == 0 for r in rows), rows


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from unify_spark.session import get_spark
spark = get_spark("outside-cwd", master="local[2]", extra_conf={{"spark.driver.memory": "1g"}})
spark.sparkContext.setLogLevel("ERROR")
n = spark.range(0, 8, 1, 2).mapInPandas(lambda it: it, "id long").count()
print("ROWS", n)
spark.stop()
"""


def test_udf_runs_from_cwd_outside_checkout(tmp_path):
    """Spark starts the worker daemon with ``python -m`` from the driver's
    cwd; the executorEnv path lets it import the package from anywhere."""
    script = tmp_path / "drive.py"
    script.write_text(_OUTSIDE_DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 8" in out.stdout, out.stderr[-3000:]


# -- read_parquet: the schema Spark inferred, once per file set ----------------


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"read_parquet-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _plan(df):
    """Optimized logical plan and physical scan, expression ids normalized."""
    qe = df._jdf.queryExecution()
    return re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString() + qe.executedPlan().toString())


@pytest.mark.parametrize("rel", ["clips", "transcript_map.parquet"])
def test_read_parquet_matches_spark_and_caches(spark, fixture_dir, rel):
    path = os.path.join(fixture_dir, rel)
    ref = spark.read.parquet(path)
    read_parquet(spark, path)
    got, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs == 0, "a repeated read started a Spark job"
    assert got.schema == ref.schema
    assert got.columns == ref.columns
    assert _plan(got) == _plan(ref)
    key = ref.columns[0]
    narrow = lambda df: df.where(F.col(key).isNotNull()).select(key, ref.columns[-1])  # noqa: E731
    assert _plan(narrow(got)) == _plan(narrow(ref))


def test_read_parquet_reinfers_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    _, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs == 0
    spark.range(3).withColumn("extra", F.lit("x")).write.mode("overwrite").parquet(path)
    got, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs >= 1, "a rewritten file set was not re-inferred"
    assert got.columns == ["id", "extra"]
    assert got.schema == spark.read.parquet(path).schema


def test_read_parquet_reinfers_on_inference_conf(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's own schema metadata, which would win over the conf
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    assert dict(read_parquet(spark, path).dtypes) == {"b": "binary"}
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        got, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert n_jobs >= 1
        assert dict(got.dtypes) == {"b": "string"}
    finally:
        spark.conf.set(conf, old)
    assert dict(read_parquet(spark, path).dtypes) == {"b": "binary"}


def test_read_parquet_unstatable_path_falls_back(spark, fixture_dir):
    glob = os.path.join(fixture_dir, "transcript_map.parque*")
    assert read_parquet(spark, glob).schema == spark.read.parquet(glob).schema
