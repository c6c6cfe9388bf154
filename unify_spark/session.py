"""SparkSession construction with scale-oriented defaults.

Single place where we encode the cluster-tuning stance of the engine:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for all pandas UDF exchange, explicit shuffle parallelism. On a real
multi-executor cluster the same settings apply; only ``master`` changes
(spark-submit provides it), so ``get_spark(master=None)`` defers to the
environment.

Repeated validations in one long-lived session (incremental re-validation,
``validate_stream_foreach_batch`` per micro-batch) re-run the same plan
shapes, so two defaults make each plan compile once per session:

* Spark's generated-code cache holds 1000 classes. Its default of 100 is
  below the engine's working set (measured: 123 distinct classes for the
  incremental benchmark process, 148 for the corpus queries), so every
  repeated call re-ran ~60-130 Janino compiles and the JIT re-compiled the
  fresh classes. The size is a STATIC conf, fixed by the first session that
  generates code in a JVM: a JVM another session already used keeps its
  old size.
* PySpark's DataFrame debugging is off. With it on, every ``F.*`` /
  DataFrame call captures its Python call site (``inspect.stack()``) and
  makes 5 extra py4j round trips: building the 9 suite stages' plans made
  ~2.5-3.5x the py4j calls and took ~1.3x as long. The trade-off: a
  DataFrame error loses its Python call-site context (stage errors still
  name their constraint). PySpark reads the setting once per process, at
  the first Column call (with no active session at that point it stays
  off).

Python UDFs (every ``mapInPandas``/``applyInPandas`` site) pay a fixed cost
per task, so a third default runs them through the engine's own worker
daemon, ``unify_spark.pyworker``:

* ``spark.python.daemon.module`` selects it. PySpark's worker calls
  ``importlib.invalidate_caches()`` per task, which re-reads every zip
  archive on the worker path (``pyspark.zip``, py4j, the spark-core jar):
  0.21-0.25 s per task on a 4-core host, so a warm 4-task ``mapInPandas``
  job took 0.72-0.94 s, against 0.24-0.29 s with the daemon, which
  re-reads an archive only when its mtime or size changed (see its module
  docstring).
* ``spark.executorEnv.PYTHONPATH`` gains the package's parent directory
  (appended to any value the caller passes), because Spark starts the
  daemon with ``python -m`` from the driver's cwd: from any other cwd,
  without it, every Python UDF fails to start its worker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[N], 128 GiB). On a 1000-executor
# cluster the shuffle partition count is governed by AQE coalescing from
# ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` instead, and
# file-split sizing by maxPartitionBytes — both safe to keep here.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOTE on shuffled-hash joins, tried and rejected in round 6 (guide
    # §3.1): the static preference (preferSortMergeJoin=false) decides from
    # SIZE ESTIMATES and OOM'd a 4M-row build side at local[2]; the
    # runtime-sized AQE form (maxShuffledHashJoinLocalMapThreshold=64m)
    # still died at local[32], where 32 concurrent tasks share the
    # execution pool and a per-partition build that "fits" alone does not
    # fit 32-wide ("not enough memory to build hash map"). Neither
    # measured a win beyond noise once the explicit per-operator
    # SHUFFLE_HASH hints (whose builds are provably slim) were in place,
    # so fact×fact joins stay sort-merge.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Arrow batches a few MB when wide binary columns cross the JVM→
    # Python boundary: 10k-row batches of ~2.4 KB payloads measured 4-15x
    # SLOWER at 32 concurrent workers (allocation pressure); 2048 keeps
    # per-batch buffers ~5 MB. A 2048/4096/8192 sweep on the ISOLATED
    # payload stage at 8 workers favored 4096 (27.7/22.4/24.3s), but the
    # win inverts when the fused suite runs other stages concurrently
    # (4N suite throughput dropped ~7% at 4096), so the default stays 2048.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.files.maxPartitionBytes": "128m",
    # compile each plan once per session (module docstring)
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # pay the worker's per-task import-cache reset once (module docstring)
    "spark.python.daemon.module": "unify_spark.pyworker",
    # fixture tables are hive-partitioned by part_date=YYYY-MM-DD; keep the
    # partition value a string (matches the declared schema) instead of date
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the worker daemon imports unify_spark from here, whatever the driver's cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "unify_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master=None`` leaves master to spark-submit / environment; tests and
    bench pass ``local[8]`` / ``local[32]`` explicitly. ``shuffle_partitions``
    defaults to the local core count so one-stage shuffles saturate the
    machine without tiny-partition overhead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match the advertised parallelism of the master string when local
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    conf[_PYTHONPATH] = os.pathsep.join(p for p in (conf.get(_PYTHONPATH), _PACKAGE_PARENT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    """Fully stop the active session so a new master can be used (bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark 4 keeps a default-session holder; clear it so the next
    # ``getOrCreate`` builds a fresh context with the requested master.
    try:  # pragma: no cover - defensive, API is stable in practice
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    except Exception:
        pass
