"""Distribution drift across partitions, numeric and categorical, behind one
scorer (BASELINE.json north_rule "KS/PSI distribution-drift tests across
partitions").

- :class:`DriftConstraint`: KS + PSI of a numeric column over equi-width
  bins.
- :class:`CategoricalDriftConstraint`: PSI over category frequencies plus a
  new-category count (KS is undefined for unordered buckets).

Scale design (SURVEY §4.3): Spark has no built-in two-sample tests, but the
sufficient statistic is a tiny histogram — ``groupBy(part, bucket).count``
produces (n_parts × n_buckets) rows regardless of input size. The histogram
is the one distributed aggregation; both kinds score it with ONE vectorized
pandas call over a dense parts × buckets matrix (``_score_histogram``). The
whole constraint stays a lazy plan, so it fuses into the same Spark job as
every other constraint — no driver-side collect in the hot path, no raw
rows ever leave the executors.

Each partition is compared against the pooled rest of the table, or against
a prior run's persisted histogram sidecar (cross-run drift). A partition
fails if PSI (add-1 smoothed) > psi_threshold, if KS > a sample-size-aware
critical value (numeric), or if it holds a bucket the comparison side never
saw (categorical ``new_category_fails``). Violations are partition-grain
(key = partition value), mirroring the reference's per-kind query
validations with allowed-set results
(src/com/vendekagonlabs/unify/validation/post_import/query.clj:151-186).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F, types as T

from unify_spark.operators.base import Constraint, ValidationContext, make_violations

# the side of a histogram row sent to the scorer: this run's partitions, a
# baseline's pooled rows, or a zero-count row naming one bucket
CUR, REF, UNIVERSE = 0, 1, 2


def _score_histogram(
    pdf,
    labels,
    psi_threshold: float,
    ks: tuple[float, float] | None,
    new_category_fails: bool,
    vs_baseline: bool,
):
    """Score (part, bucket, n, side) histogram rows: one row of (part, psi,
    ks, ks_crit, new_categories, failed) per partition, parts sorted.

    The buckets are ``labels`` in order, else the buckets of the UNIVERSE
    rows; a row outside them is dropped. q is the column total minus the
    partition, or the pooled REF rows. ``ks`` = (ks_threshold, ks_c_alpha),
    or None for unordered buckets (null ks/ks_crit). new_categories counts
    buckets non-empty in the partition and empty in q; it fails the
    partition only under ``new_category_fails``."""
    import numpy as np
    import pandas as pd

    side = pdf["side"].to_numpy()
    if labels is None:
        labels = pdf["bucket"][side == UNIVERSE].unique()
    labels = pd.Index(labels)

    def dense(rows, row_codes, n_rows):
        col = labels.get_indexer(rows["bucket"])
        keep = col >= 0
        m = np.zeros((n_rows, len(labels)), dtype=np.int64)
        np.add.at(m, (row_codes[keep], col[keep]), rows["n"].to_numpy()[keep])
        return m

    cur = pdf[side == CUR]
    codes, parts = pd.factorize(cur["part"], sort=True, use_na_sentinel=False)
    m = dense(cur, codes, len(parts))
    if vs_baseline:
        ref = pdf[side == REF]
        pooled = dense(ref, np.zeros(len(ref), dtype=np.int64), 1)
        q = np.broadcast_to(pooled, m.shape)
    else:
        q = m.sum(axis=0) - m
    n_bins = len(labels)
    n1 = m.sum(axis=1).astype(np.float64)
    n2 = q.sum(axis=1).astype(np.float64)
    # add-1 smoothed densities (empty tail bins otherwise dominate PSI)
    p_d = (m + 1.0) / (n1 + n_bins)[:, None]
    q_d = (q + 1.0) / (n2 + n_bins)[:, None]
    psi = ((p_d - q_d) * np.log(p_d / q_d)).sum(axis=1)
    new = ((m > 0) & (q == 0)).sum(axis=1)
    failed = psi > psi_threshold
    if new_category_fails:
        failed |= new > 0
    ks_stat = np.full(len(parts), np.nan)
    crit = np.full(len(parts), np.nan)
    if ks is not None:
        ks_threshold, ks_c_alpha = ks
        cum_p = np.cumsum(m, axis=1) / np.maximum(n1, 1.0)[:, None]
        cum_q = np.cumsum(q, axis=1) / np.maximum(n2, 1.0)[:, None]
        ks_stat = np.abs(cum_p - cum_q).max(axis=1, initial=0.0)
        with np.errstate(divide="ignore"):
            crit = np.maximum(ks_threshold, ks_c_alpha * np.sqrt(1.0 / n1 + 1.0 / n2))
        failed |= ks_stat > crit
    # an empty q (a one-partition table, an empty baseline) has nothing to
    # compare against: null statistics, not failed (NaN crosses the Arrow
    # boundary as null)
    empty = n2 == 0
    failed &= ~empty
    psi[empty] = ks_stat[empty] = crit[empty] = np.nan
    return pd.DataFrame(
        {
            "part": parts,
            "psi": psi,
            "ks": ks_stat,
            "ks_crit": crit,
            "new_categories": pd.Series(new, dtype="Int64").mask(empty),
            "failed": failed,
        }
    )


class _HistogramDrift(Constraint):
    """Scoring, verdicts and the cross-run sidecar shared by both drift
    kinds. A subclass supplies its histogram and bucket universe
    (:meth:`_buckets`), its sidecar layout (``SIDECAR``, ``BUCKET``,
    :meth:`_sidecar_columns`), the attribute that fixes its buckets across
    runs (``CONTRACT``) and its verdict (``STAT``, :meth:`_ks`,
    :meth:`_expected`)."""

    partition_grain = True
    new_category_fails = False

    def _buckets(
        self, df: DataFrame, part_col: str
    ) -> tuple[DataFrame, list | DataFrame]:
        """((part, bucket, n) histogram, bucket universe): the universe is a
        list of labels in KS order, or a DataFrame of ``bucket`` rows when
        only a Spark job knows it."""
        raise NotImplementedError

    def _sidecar_columns(self) -> list:
        return []

    def _ks(self) -> tuple[float, float] | None:
        return None

    def _expected(self) -> str:
        raise NotImplementedError

    @property
    def _stable(self) -> bool:
        """True when the contract attribute fixes the buckets, so a
        histogram persisted by one run scores a later one."""
        return getattr(self, self.CONTRACT) is not None

    def _require_contract(self) -> None:
        if not self._stable:
            raise ValueError(
                f"cross-run drift needs contract {self.CONTRACT} so buckets "
                f"are stable across runs; construct {type(self).__name__}"
                f"({self.table!r}, {self.column!r}, {self.CONTRACT}=...)"
            )

    def _score(
        self, df: DataFrame, part_col: str, baseline: DataFrame | None = None
    ) -> DataFrame:
        """(part, psi, ks, ks_crit, new_categories, failed) from this
        constraint's histogram, scored by ONE pandas call over the whole
        histogram (n_parts × n_buckets rows whatever the table size, so a
        single task holds it at any scale). q is the rest of the table, or
        the pooled rows of ``baseline`` (a prior run's sidecar) when given.

        PSI with add-1 smoothing over every bucket of the universe; KS = max
        |cumdist diff| with critical value c·sqrt((n1+n2)/(n1·n2)), so the
        verdict is stable from 10^3-row test partitions to 10^9-row
        production partitions."""
        hist, universe = self._buckets(df, part_col)
        part_type = hist.schema["part"].dataType
        bucket_type = hist.schema["bucket"].dataType

        def tagged(rows: DataFrame, side: int) -> DataFrame:
            part = F.col("part") if side == CUR else F.lit(None).cast(part_type)
            return rows.select(
                part.alias("part"),
                F.col("bucket").cast(bucket_type).alias("bucket"),
                F.col("n").cast("long").alias("n"),
                F.lit(side).alias("side"),
            )

        rows, labels = tagged(hist, CUR), universe
        if isinstance(universe, DataFrame):
            zeros = universe.withColumn("n", F.lit(0))
            rows = rows.unionByName(tagged(zeros, UNIVERSE))
            labels = None
        if baseline is not None:
            ref = baseline.filter(
                (F.col("table") == self.table) & (F.col("column") == self.column)
            ).select(F.col(self.BUCKET).alias("bucket"), "n")
            rows = rows.unionByName(tagged(ref, REF))
        schema = T.StructType(
            [
                T.StructField("part", part_type, True),
                T.StructField("psi", T.DoubleType(), True),
                T.StructField("ks", T.DoubleType(), True),
                T.StructField("ks_crit", T.DoubleType(), True),
                T.StructField("new_categories", T.LongType(), True),
                T.StructField("failed", T.BooleanType(), False),
            ]
        )
        params = (
            labels,
            self.psi_threshold,
            self._ks(),
            self.new_category_fails,
            baseline is not None,
        )

        def score(pdf):
            return _score_histogram(pdf, *params)

        return rows.groupBy().applyInPandas(score, schema)

    def scores_plan(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Lazy (part, psi, ks, ks_crit, new_categories, failed) plan: each
        partition against the pooled rest of the table."""
        return self._score(tables[self.table], ctx.part_col)

    def scores_vs_baseline(
        self,
        tables: dict[str, DataFrame],
        ctx: ValidationContext,
        baseline: DataFrame,
    ) -> DataFrame:
        """The :meth:`scores_plan` schema for each CURRENT partition against
        the pooled BASELINE distribution (a prior run's persisted
        :meth:`histogram_rows`). The baseline side is metadata-sized;
        cross-run drift costs one histogram pass over the new data, never a
        rescan of the old."""
        self._require_contract()
        return self._score(tables[self.table], ctx.part_col, baseline)

    def partition_scores(
        self, tables: dict[str, DataFrame], ctx: ValidationContext
    ) -> list[tuple]:
        """(part, psi, <STAT>, failed) per partition, parts sorted."""
        rows = self.scores_plan(tables, ctx).orderBy("part").collect()
        return [(r["part"], r["psi"], r[self.STAT[0]], r["failed"]) for r in rows]

    def histogram_rows(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Persistable histogram sidecar rows for cross-RUN drift
        (``<out>/<SIDECAR>``): store this run's per-partition histogram next
        to the audit table, and later runs compare against it without
        touching this run's data. Requires the ``CONTRACT`` attribute so the
        buckets are identical across runs."""
        self._require_contract()
        hist, _ = self._buckets(tables[self.table], ctx.part_col)
        return hist.select(
            F.lit(self.table).alias("table"),
            F.lit(self.column).alias("column"),
            F.col("part").cast("string").alias("part"),
            F.col("bucket").alias(self.BUCKET),
            F.col("n").cast("long").alias("n"),
            *self._sidecar_columns(),
        )

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        stat, label = self.STAT
        return make_violations(
            self.scores_plan(tables, ctx).filter(F.col("failed")),
            constraint=self.name,
            table=self.table,
            key="part",
            column=self.column,
            observed=F.concat_ws(
                ";",
                F.concat(F.lit("psi="), F.round("psi", 4).cast("string")),
                F.concat(F.lit(f"{label}="), F.round(stat, 4).cast("string")),
            ),
            expected=self._expected(),
            part="part",
        )


class DriftConstraint(_HistogramDrift):
    SIDECAR = "drift_hist"
    BUCKET = "bucket"
    CONTRACT = "bounds"
    STAT = ("ks", "ks")
    HIST_SCHEMA = "table string, column string, part string, bucket long, n long, lo double, hi double"

    def __init__(
        self,
        table: str,
        column: str,
        n_bins: int = 20,
        psi_threshold: float = 0.25,
        ks_threshold: float = 0.15,
        ks_c_alpha: float = 2.0,
        bounds: tuple[float, float] | None = None,
    ):
        self.table = table
        self.column = column
        self.n_bins = n_bins
        self.psi_threshold = psi_threshold
        self.ks_threshold = ks_threshold
        self.ks_c_alpha = ks_c_alpha
        # known contract bounds (e.g. the range constraint's domain) skip the
        # min/max pre-scan and make the bins stable across runs; production
        # reads these from Iceberg manifest stats
        self.bounds = bounds
        self.name = f"drift:{table}.{column}"

    def histogram(self, df: DataFrame, part_col: str) -> DataFrame:
        """(part, bucket, n) — the one distributed aggregation. Equi-width
        bins from global min/max (scan-level stats; parquet/Iceberg footers
        answer this from metadata)."""
        c = F.col(self.column).cast("double")
        if self.bounds is not None:
            stats = df.sparkSession.range(1).select(
                F.lit(float(self.bounds[0])).alias("lo"),
                F.lit(float(self.bounds[1])).alias("hi"),
            )
        else:
            stats = df.select(F.min(c).alias("lo"), F.max(c).alias("hi"))
        bounded = (
            df.select(F.col(part_col).alias("part"), c.alias("v"))
            .where(c.isNotNull())
            .crossJoin(F.broadcast(stats))
        )
        width = (F.col("hi") - F.col("lo")) / F.lit(self.n_bins)
        # clamp BOTH ends: with contract bounds, rows outside [lo, hi] are
        # precisely the drift signal — a negative bucket would silently
        # vanish from the dense (part × bucket) grid, so a partition
        # shifted entirely below `lo` used to score as clean
        bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.greatest(F.floor((F.col("v") - F.col("lo")) / width), F.lit(0)),
                F.lit(self.n_bins - 1),
            )
        )
        return bounded.groupBy("part", bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n")
        )

    def _buckets(self, df: DataFrame, part_col: str) -> tuple[DataFrame, list]:
        return self.histogram(df, part_col), list(range(self.n_bins))

    def _sidecar_columns(self) -> list:
        return [
            F.lit(float(self.bounds[0])).alias("lo"),
            F.lit(float(self.bounds[1])).alias("hi"),
        ]

    def _ks(self) -> tuple[float, float]:
        return (self.ks_threshold, self.ks_c_alpha)

    def _expected(self) -> str:
        return f"psi<={self.psi_threshold} and ks<=max({self.ks_threshold}, crit)"


class CategoricalDriftConstraint(_HistogramDrift):
    """Category-MIX drift of a low-cardinality string column across
    partitions — the check the numeric :class:`DriftConstraint` cannot
    express: a scrape batch whose codec mix flips from pcm-dominated to
    90% mulaw, or a brand-new codec appearing in one day's partition,
    passes every per-row domain check (each value is individually legal)
    but is exactly the distribution shift a training-data pipeline must
    catch. Reference analogue: the per-kind allowed-set query validations
    (src/com/vendekagonlabs/unify/validation/post_import/query.clj:151-186)
    generalized from exact sets to frequency drift.

    Per partition vs rest-of-table (or vs a baseline): PSI over category
    frequencies (the numeric path's scorer with KS off) plus a NEW-CATEGORY
    count — categories observed in the partition but nowhere in the
    comparison side. ``new_category_fails`` controls whether novelty alone
    fails the partition (default True: a codec that exists only in one
    partition is the real-world rollout alarm).

    Scale shape: ONE ``groupBy(part, value).count()`` over a key-only
    projection is the sufficient statistic — (n_parts x n_categories)
    rows regardless of input size. With contract ``categories`` supplied
    (e.g. the codec DomainConstraint's allowed set) that is the only scan,
    mirroring the numeric path's ``bounds``; without it, the global top-K
    category set is discovered by re-aggregating the same statistic
    through a distributed TakeOrdered (orderBy+limit — never a
    single-task rank), costing one extra key-only scan. Tail categories
    collapse into one ``<other>`` bucket so a high-cardinality column
    cannot blow up the PSI grid; NULL is its own ``<null>`` category.
    ``<other>`` counts toward novelty: with contract ``categories`` every
    out-of-contract value collapses into it, so "this partition has
    out-of-universe values and the comparison side has none" IS the
    new-category alarm.
    """

    SIDECAR = "cat_drift_hist"
    BUCKET = "val"
    CONTRACT = "categories"
    STAT = ("new_categories", "new")
    HIST_SCHEMA = "table string, column string, part string, val string, n long"

    def __init__(
        self,
        table: str,
        column: str,
        top_k: int = 50,
        psi_threshold: float = 0.25,
        categories: list[str] | None = None,
        new_category_fails: bool = True,
    ):
        self.table = table
        self.column = column
        self.top_k = int(top_k)
        self.psi_threshold = float(psi_threshold)
        self.categories = list(categories) if categories is not None else None
        self.new_category_fails = bool(new_category_fails)
        self.name = f"cat_drift:{table}.{column}"

    OTHER = "<other>"
    NULL = "<null>"

    def histogram(self, df: DataFrame, part_col: str) -> DataFrame:
        """(part, val, n) — the one distributed aggregation (map-side
        combine; the shuffle carries distinct (part, val) keys only)."""
        v = F.coalesce(F.col(self.column).cast("string"), F.lit(self.NULL))
        return (
            df.select(F.col(part_col).alias("part"), v.alias("val"))
            .groupBy("part", "val")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def _buckets(self, df: DataFrame, part_col: str) -> tuple[DataFrame, DataFrame]:
        """(part, bucket, n) with every value outside the universe collapsed
        into one <other> bucket, and the universe rows: contract categories
        when supplied (each once, in order), else the global top-K by total
        count (TakeOrderedAndProject — distributed), plus <other>."""
        hist = self.histogram(df, part_col)
        spark = hist.sparkSession
        if self.categories is not None:
            top = spark.createDataFrame(
                [(c,) for c in dict.fromkeys(map(str, self.categories))], "val string"
            )
        else:
            top = (
                hist.groupBy("val")
                .agg(F.sum("n").alias("tot"))
                .orderBy(F.desc("tot"), F.col("val"))
                .limit(self.top_k)
                .select("val")
            )
        bucketed = (
            hist.join(F.broadcast(top.withColumn("_k", F.lit(1))), on="val", how="left")
            .select(
                "part",
                F.when(F.col("_k").isNotNull(), F.col("val"))
                .otherwise(F.lit(self.OTHER))
                .alias("bucket"),
                "n",
            )
            .groupBy("part", "bucket")
            .agg(F.sum("n").alias("n"))
        )
        universe = top.select(F.col("val").alias("bucket")).unionByName(
            spark.createDataFrame([(self.OTHER,)], "bucket string")
        )
        return bucketed, universe

    def _expected(self) -> str:
        return f"psi<={self.psi_threshold}" + (
            " and no new categories" if self.new_category_fails else ""
        )


def baselined(constraints: list[Constraint]) -> dict[str, list[_HistogramDrift]]:
    """The drift constraints whose buckets are fixed by contract, grouped by
    sidecar name — what a run persists as a later run's baseline."""
    groups: dict[str, list[_HistogramDrift]] = {}
    for c in constraints:
        if isinstance(c, _HistogramDrift) and c._stable:
            groups.setdefault(c.SIDECAR, []).append(c)
    return groups


def drift_vs_baseline(
    constraints: list[Constraint],
    tables: dict[str, DataFrame],
    ctx: ValidationContext,
    baseline_dir: str,
) -> DataFrame:
    """(constraint, part, psi, ks, ks_crit, failed) of every baselined drift
    constraint's CURRENT partitions against a PRIOR run's persisted
    ``<baseline_dir>/<SIDECAR>`` histograms; categorical rows carry null
    ks/ks_crit, and new categories fold into ``failed``."""
    groups = baselined(constraints)
    if not groups:
        raise ValueError(
            "no bounded DriftConstraint or categories-declared "
            "CategoricalDriftConstraint in the plan to baseline"
        )
    out = None
    for sidecar, cs in groups.items():
        baseline = tables[cs[0].table].sparkSession.read.parquet(
            os.path.join(baseline_dir, sidecar)
        )
        for c in cs:
            scored = c.scores_vs_baseline(tables, ctx, baseline).select(
                F.lit(c.name).alias("constraint"),
                "part",
                "psi",
                "ks",
                "ks_crit",
                "failed",
            )
            out = scored if out is None else out.unionByName(scored)
    return out
