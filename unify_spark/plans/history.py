"""Metric-history anomaly detection across a chain of validation runs,
and the metrics repository the history can live in.

The single-baseline drift check (``validate --baseline``) answers "did the
distribution move since THAT run"; this module answers the ops question
"is today's run out of line with the trailing runs" — the Deequ
MetricsRepository + anomaly-strategy analogue over the profile sidecars
every ``validate --profile`` / ``profile`` run already persists.

Two storage layouts feed the same envelope:

- ``history_anomalies(run_dirs)`` — N separate run out-dirs, one
  column-pruned driver read each (zero setup; fine for a handful of runs).
- ``MetricsRepository`` — ONE append-mode metrics table spanning runs
  (a :class:`~unify_spark.plans.runtable.RunTable`: parquet directory or
  Iceberg catalog table), appended by ``validate --profile --metrics-repo`` /
  ``profile --metrics-repo`` and scored by ``repo_anomalies`` with a
  single scan. At one row per (run, table, part, column, stat) the table
  is metadata-scale even at 10^12 data rows, and an ops scheduler never
  has to know where the previous K run directories live.

Robust-statistics choice: median ± k·MAD (scaled by 1.4826 to estimate
sigma under normality) over the trailing window, NOT mean ± k·stddev — a
single bad historical run would inflate a stddev envelope and mask the
next regression, while the median/MAD envelope tolerates up to half the
history being corrupt. When the history is bit-stable (MAD == 0, the
common case for row counts and null rates on a healthy pipeline), the
check degrades to an exact-change test with a relative tolerance.

Everything is driver-side: profile rows are metadata-scale
(tables × columns × stats), read with pyarrow and no Spark job.
"""

from __future__ import annotations

import os
from statistics import median

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from unify_spark.plans.runtable import RunTable, read_parquet_rows

DEFAULT_STATS = ("rows", "null_rate", "approx_distinct", "min", "max")
STAT_COLUMNS = ["table", "part", "column", "stat", "value"]


def _global_scalars(rows, stats: tuple[str, ...]) -> dict[tuple[str, str, str], float]:
    """{(table, column, stat): value} from (table, part, column, stat,
    value) rows: global rows only (part='*') whose value parses as a float."""
    out: dict[tuple[str, str, str], float] = {}
    for table, part, column, stat, value in rows:
        if part != "*" or stat not in stats or value is None:
            continue
        try:
            out[(table, column, stat)] = float(value)
        except ValueError:
            continue  # sketch arrays and other non-scalar stats
    return out


def _load_global_stats(out_dir: str, stats: tuple[str, ...]) -> dict[tuple[str, str, str], float]:
    """One run's global scalar stats from its profile sidecar."""
    path = os.path.join(out_dir, "profile")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no profile sidecar under {out_dir} — run `validate --profile` "
            "(or the profile command) so the run records metrics"
        )
    return _global_scalars(read_parquet_rows(path, STAT_COLUMNS), stats)


def history_anomalies(
    spark: SparkSession,
    run_dirs: list[str],
    k: float = 4.0,
    min_history: int = 3,
    rel_tol: float = 1e-9,
    stats: tuple[str, ...] = DEFAULT_STATS,
) -> list[dict]:
    """Score the LAST run in ``run_dirs`` against the trailing history
    (all earlier dirs, oldest first). Returns one record per anomalous
    (table, column, stat): observed value, the history's median and MAD,
    and the robust z-score. Metrics with fewer than ``min_history`` prior
    observations are skipped (no basis), as are metrics absent from the
    current run (a disappeared column is schema drift — `schema-diff`'s
    job, not a numeric envelope's). The sidecars are read on the driver;
    ``spark`` starts no job."""
    if len(run_dirs) < 2:
        raise ValueError("need at least one history run and one current run")
    history = [_load_global_stats(d, stats) for d in run_dirs[:-1]]
    current = _load_global_stats(run_dirs[-1], stats)
    return _score(history, current, k, min_history, rel_tol)


def _score(
    history: list[dict[tuple[str, str, str], float]],
    current: dict[tuple[str, str, str], float],
    k: float,
    min_history: int,
    rel_tol: float,
) -> list[dict]:
    anomalies: list[dict] = []
    for key, cur in sorted(current.items()):
        prior = [h[key] for h in history if key in h]
        if len(prior) < min_history:
            continue
        med = median(prior)
        mad = median(abs(x - med) for x in prior)
        rec = {
            "table": key[0],
            "column": key[1],
            "stat": key[2],
            "value": cur,
            "median": med,
            "mad": mad,
            "history_n": len(prior),
        }
        if mad == 0.0:
            # bit-stable history: any change beyond relative tolerance is
            # an exact-change anomaly (z undefined — reported as None)
            if abs(cur - med) > max(rel_tol, rel_tol * abs(med)):
                rec["z"] = None
                anomalies.append(rec)
            continue
        z = abs(cur - med) / (1.4826 * mad)
        if z > k:
            rec["z"] = round(z, 3)
            anomalies.append(rec)
    return anomalies


class MetricsRepository(RunTable):
    """One append-mode metrics table spanning validation runs — the Deequ
    ``MetricsRepository`` analogue. Each profiled run appends its long-format
    stat rows tagged with (run_id, ts, batch_id); anomaly checks and ad-hoc
    metric series then need one scan of one table instead of a directory per
    run. Storage, retry-idempotent appends and per-run deletes are
    :class:`~unify_spark.plans.runtable.RunTable`'s.
    """

    SCHEMA = T.StructType(
        [T.StructField("run_id", T.StringType())]
        + [T.StructField(c, T.StringType()) for c in STAT_COLUMNS]
        + [T.StructField("ts", T.DoubleType()), T.StructField("batch_id", T.StringType())]
    )
    FILE_PREFIX = "metrics"

    def append(self, stats, run_id: str, max_retries: int = 5, backoff_s: float = 0.2) -> None:
        """Append one run's profile rows — (table, part, column, stat, value)
        tuples, the long-format output of ``profile_table`` — tagged with
        ``run_id``."""
        rows = [
            {"run_id": run_id, "table": t, "part": p, "column": c, "stat": s,
             "value": None if v is None else str(v)}
            for t, p, c, s, v in stats
        ]
        super().append(rows, max_retries=max_retries, backoff_s=backoff_s)

    def prune(self, keep_last: int) -> list[str]:
        """Retention: drop every run except the newest ``keep_last``,
        returning the dropped run_ids (an anomaly envelope only needs its
        trailing window; an unbounded repo eventually straddles regime
        changes and dulls the MAD)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        dropped = self.runs()[:-keep_last]
        for rid in dropped:
            self.delete_run(rid)
        return dropped

    def global_stats(
        self, stats: tuple[str, ...] = DEFAULT_STATS
    ) -> dict[str, dict[tuple[str, str, str], float]]:
        """{run_id: {(table, column, stat): value}} for global (part='*')
        scalar rows — one scan serving every run's envelope input."""
        by_run: dict[str, list[tuple]] = {}
        for rid, *row in self.rows(["run_id", *STAT_COLUMNS]):
            by_run.setdefault(rid, []).append(row)
        return {rid: _global_scalars(rows, stats) for rid, rows in by_run.items()}


def write_profile_stats(
    stats: DataFrame, path: str, metrics_repo: str | None, run_id: str
) -> None:
    """The one stats sink of ``profile`` and ``validate --profile``: collect
    ``profile_table``'s rows once (aggregate state, not data), append them
    to the metrics repository at ``metrics_repo`` when one is given, and
    append the same rows to the parquet sidecar at ``path``."""
    spark = stats.sparkSession
    rows = stats.collect()
    if metrics_repo is not None:
        MetricsRepository(spark, metrics_repo).append(rows, run_id)
    spark.createDataFrame(rows, stats.schema).coalesce(1).write.mode("append").parquet(path)


def repo_anomalies(
    repo: MetricsRepository,
    run_id: str | None = None,
    k: float = 4.0,
    min_history: int = 3,
    rel_tol: float = 1e-9,
    stats: tuple[str, ...] = DEFAULT_STATS,
    max_history: int | None = None,
) -> list[dict]:
    """``history_anomalies`` over a :class:`MetricsRepository`: score
    ``run_id`` (default: the newest run) against every earlier run in the
    repository — or only the trailing ``max_history`` runs, the sliding
    window an ops scheduler wants once the repo outlives regime changes."""
    order = repo.runs()
    if run_id is None:
        if not order:
            raise ValueError("metrics repository is empty")
        run_id = order[-1]
    if run_id not in order:
        raise ValueError(f"run_id {run_id!r} not in metrics repository")
    prior_ids = order[: order.index(run_id)]
    if max_history is not None:
        prior_ids = prior_ids[-max_history:]
    if not prior_ids:
        raise ValueError("need at least one history run before the scored run")
    per_run = repo.global_stats(stats)
    history = [per_run.get(rid, {}) for rid in prior_ids]
    return _score(history, per_run.get(run_id, {}), k, min_history, rel_tol)
