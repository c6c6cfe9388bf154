"""Distribution-drift constraint: KS + PSI of a numeric column across
partitions (BASELINE.json north_rule "KS/PSI distribution-drift tests across
partitions").

Scale design (SURVEY §4.3): Spark has no built-in two-sample tests, but the
sufficient statistic is a tiny histogram — ``groupBy(part, bucket).count``
produces (n_parts × n_bins) rows regardless of input size. The histogram is
the one distributed aggregation; the KS/PSI statistics are scored from it by
one vectorized pandas call over a dense parts × bins matrix (histogram →
one-task matrix score). The whole constraint stays a lazy plan, so it fuses
into the same Spark job as every other constraint — no driver-side collect
in the hot path, no raw rows ever leave the executors.

Each partition is compared against the pooled rest-of-table distribution; a
partition fails if PSI (add-1 smoothed) > psi_threshold or KS > a
sample-size-aware critical value. Violations are partition-grain (key =
partition value), mirroring the reference's per-kind query validations with
allowed-set results
(src/com/vendekagonlabs/unify/validation/post_import/query.clj:151-186).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from unify_spark.operators.base import Constraint, ValidationContext, make_violations


def _score_histogram(
    pdf,
    n_bins: int,
    psi_threshold: float,
    ks_threshold: float,
    ks_c_alpha: float,
    vs_baseline: bool,
):
    """Score (part, bucket, n, is_ref) histogram rows: one row of (part,
    psi, ks, ks_crit, failed) per partition, parts sorted. q is the
    column total minus the partition, or the pooled ``is_ref`` rows."""
    import numpy as np
    import pandas as pd

    cur = pdf[~pdf["is_ref"]]
    codes, parts = pd.factorize(cur["part"], sort=True, use_na_sentinel=False)
    m = np.zeros((len(parts), n_bins), dtype=np.int64)
    np.add.at(m, (codes, cur["bucket"].to_numpy()), cur["n"].to_numpy())
    if vs_baseline:
        ref = pdf[pdf["is_ref"]]
        b = ref["bucket"].to_numpy()
        keep = (b >= 0) & (b < n_bins)  # bins outside this grid never match
        pooled = np.zeros(n_bins, dtype=np.int64)
        np.add.at(pooled, b[keep], ref["n"].to_numpy()[keep])
        q = np.broadcast_to(pooled, m.shape)
    else:
        q = m.sum(axis=0) - m
    n1 = m.sum(axis=1).astype(np.float64)
    n2 = q.sum(axis=1).astype(np.float64)
    # add-1 smoothed densities (empty tail bins otherwise dominate PSI)
    p_d = (m + 1.0) / (n1 + n_bins)[:, None]
    q_d = (q + 1.0) / (n2 + n_bins)[:, None]
    psi = ((p_d - q_d) * np.log(p_d / q_d)).sum(axis=1)
    cum_p = np.cumsum(m, axis=1) / np.maximum(n1, 1.0)[:, None]
    cum_q = np.cumsum(q, axis=1) / np.maximum(n2, 1.0)[:, None]
    ks = np.abs(cum_p - cum_q).max(axis=1, initial=0.0)
    empty = n2 == 0
    with np.errstate(divide="ignore"):
        crit = np.maximum(ks_threshold, ks_c_alpha * np.sqrt(1.0 / n1 + 1.0 / n2))
    failed = ((psi > psi_threshold) | (ks > crit)) & ~empty
    # NaN crosses the Arrow boundary as null
    psi[empty] = ks[empty] = crit[empty] = np.nan
    return pd.DataFrame(
        {"part": parts, "psi": psi, "ks": ks, "ks_crit": crit, "failed": failed}
    )


class DriftConstraint(Constraint):
    partition_grain = True

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
        # min/max pre-scan; production reads these from Iceberg manifest stats
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

    def scores_plan(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Lazy (part, psi, ks, ks_crit, failed) plan: each partition against
        the pooled rest of the table, rest_n(bucket) = total_n(bucket) −
        part_n (see :meth:`_score`)."""
        return self._score(self.histogram(tables[self.table], ctx.part_col))

    def _score(self, hist: DataFrame, ref: DataFrame | None = None) -> DataFrame:
        """(part, psi, ks, ks_crit, failed) from the (part, bucket, n)
        histogram, scored by ONE pandas call over the whole histogram
        (n_parts × n_bins rows whatever the table size, so a single task
        holds it at any scale). q is the rest of the table, or the pooled
        ``ref`` (bucket, n) rows of a baseline when given.

        PSI with add-1 smoothing; KS = max |cumdist diff|; KS critical value
        = c·sqrt((n1+n2)/(n1·n2)) so the verdict is stable from 10^3-row test
        partitions to 10^9-row production partitions. An empty q (a
        one-partition table, an empty baseline) has nothing to compare
        against: null psi/ks/ks_crit, not failed.
        """
        part_type = hist.schema["part"].dataType
        rows = hist.select(
            "part",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.lit(False).alias("is_ref"),
        )
        if ref is not None:
            rows = rows.unionByName(
                ref.select(
                    F.lit(None).cast(part_type).alias("part"),
                    F.col("bucket").cast("long").alias("bucket"),
                    F.col("n").cast("long").alias("n"),
                    F.lit(True).alias("is_ref"),
                )
            )
        schema = T.StructType(
            [
                T.StructField("part", part_type, True),
                T.StructField("psi", T.DoubleType(), True),
                T.StructField("ks", T.DoubleType(), True),
                T.StructField("ks_crit", T.DoubleType(), True),
                T.StructField("failed", T.BooleanType(), False),
            ]
        )
        params = (
            self.n_bins,
            self.psi_threshold,
            self.ks_threshold,
            self.ks_c_alpha,
            ref is not None,
        )

        def score(pdf):
            return _score_histogram(pdf, *params)

        return rows.groupBy().applyInPandas(score, schema)

    def partition_scores(
        self, tables: dict[str, DataFrame], ctx: ValidationContext
    ) -> list[tuple[str, float, float, bool]]:
        rows = self.scores_plan(tables, ctx).orderBy("part").collect()
        return [(r["part"], r["psi"], r["ks"], r["failed"]) for r in rows]

    # -- cross-run drift: persisted baseline histograms -----------------------

    HIST_SCHEMA = "table string, column string, part string, bucket long, n long, lo double, hi double"

    def histogram_rows(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Persistable histogram sidecar rows for cross-RUN drift: store this
        run's per-partition histogram next to the audit table, and later
        runs compare against it without touching this run's data. Requires
        contract ``bounds`` so the bins are identical across runs (the same
        reason the in-run path prefers bounds: stable, metadata-free bins)."""
        if self.bounds is None:
            raise ValueError(
                "cross-run drift needs contract bounds so bins are stable "
                f"across runs; construct DriftConstraint({self.table!r}, "
                f"{self.column!r}, bounds=(lo, hi))"
            )
        hist = self.histogram(tables[self.table], ctx.part_col)
        return hist.select(
            F.lit(self.table).alias("table"),
            F.lit(self.column).alias("column"),
            F.col("part").cast("string").alias("part"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.lit(float(self.bounds[0])).alias("lo"),
            F.lit(float(self.bounds[1])).alias("hi"),
        )

    def scores_vs_baseline(
        self,
        tables: dict[str, DataFrame],
        ctx: ValidationContext,
        baseline: DataFrame,
    ) -> DataFrame:
        """(part, psi, ks, ks_crit, failed) of each CURRENT partition against
        the pooled BASELINE distribution (a prior run's persisted
        histogram_rows). Same scorer as the in-run path (:meth:`_score`)
        with q = the baseline's pooled histogram; the baseline side is
        metadata-sized (≤ n_parts × n_bins rows)."""
        if self.bounds is None:
            raise ValueError("cross-run drift needs contract bounds (see histogram_rows)")
        ref = baseline.filter(
            (F.col("table") == self.table) & (F.col("column") == self.column)
        )
        return self._score(self.histogram(tables[self.table], ctx.part_col), ref)

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        vio = self.scores_plan(tables, ctx).filter(F.col("failed"))
        return make_violations(
            vio,
            constraint=self.name,
            table=self.table,
            key="part",
            column=self.column,
            observed=F.concat_ws(
                ";",
                F.concat(F.lit("psi="), F.round("psi", 4).cast("string")),
                F.concat(F.lit("ks="), F.round("ks", 4).cast("string")),
            ),
            expected=f"psi<={self.psi_threshold} and ks<=max({self.ks_threshold}, crit)",
            part="part",
        )


class CategoricalDriftConstraint(Constraint):
    """Category-MIX drift of a low-cardinality string column across
    partitions — the check the numeric :class:`DriftConstraint` cannot
    express: a scrape batch whose codec mix flips from pcm-dominated to
    90% mulaw, or a brand-new codec appearing in one day's partition,
    passes every per-row domain check (each value is individually legal)
    but is exactly the distribution shift a training-data pipeline must
    catch. Reference analogue: the per-kind allowed-set query validations
    (src/com/vendekagonlabs/unify/validation/post_import/query.clj:151-186)
    generalized from exact sets to frequency drift.

    Per partition vs rest-of-table: PSI over category frequencies (add-1
    smoothed, same formula as the numeric path; KS is undefined for
    unordered categories) plus a NEW-CATEGORY count — categories observed
    in the partition but nowhere else. ``new_category_fails`` controls
    whether novelty alone fails the partition (default True: a codec that
    exists only in one partition is the real-world rollout alarm).

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
    """

    partition_grain = True

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

    def _bucket_universe(self, hist: DataFrame) -> DataFrame:
        """The PSI bucket set: contract categories when supplied, else the
        global top-K by total count (TakeOrderedAndProject — distributed)."""
        if self.categories is not None:
            spark = hist.sparkSession
            return spark.createDataFrame(
                [(str(c),) for c in self.categories], "val string"
            )
        return (
            hist.groupBy("val")
            .agg(F.sum("n").alias("tot"))
            .orderBy(F.desc("tot"), F.col("val"))
            .limit(self.top_k)
            .select("val")
        )

    def _bucketed(self, df: DataFrame, part_col: str, top: DataFrame) -> DataFrame:
        """(part, val, n) with the tail collapsed into one <other> bucket —
        bucket-grain re-aggregation of :meth:`histogram`."""
        hist = self.histogram(df, part_col)
        return (
            hist.join(
                F.broadcast(top.withColumn("_k", F.lit(1))), on="val", how="left"
            )
            .select(
                "part",
                F.when(F.col("_k").isNotNull(), F.col("val"))
                .otherwise(F.lit(self.OTHER))
                .alias("val"),
                "n",
            )
            .groupBy("part", "val")
            .agg(F.sum("n").alias("n"))
        )

    def scores_plan(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Lazy (part, psi, new_categories, failed) plan — fuses into the
        same Spark job as every other constraint, no driver collect."""
        df = tables[self.table]
        top = self._bucket_universe(self.histogram(df, ctx.part_col))
        b = self._bucketed(df, ctx.part_col, top)

        # densify: every (part, bucket) cell, buckets = top ∪ {<other>}
        parts = b.select("part").distinct()
        vals = top.unionByName(
            top.sparkSession.range(1).select(F.lit(self.OTHER).alias("val"))
        )
        dense = (
            parts.crossJoin(F.broadcast(vals))
            .join(b, on=["part", "val"], how="left")
            .fillna(0, subset=["n"])
        )
        w_tot = Window.partitionBy("val")
        dense = dense.withColumn("tot_n", F.sum("n").over(w_tot)).withColumn(
            "rest_n", F.col("tot_n") - F.col("n")
        )
        w_part = Window.partitionBy("part")
        n_buckets = F.count(F.lit(1)).over(w_part)
        dense = (
            dense.withColumn("part_total", F.sum("n").over(w_part))
            .withColumn("rest_total", F.sum("rest_n").over(w_part))
            .withColumn("nb", n_buckets)
        )
        p = (F.col("n") + 1.0) / (F.col("part_total") + F.col("nb"))
        q = (F.col("rest_n") + 1.0) / (F.col("rest_total") + F.col("nb"))
        psi_term = (p - q) * F.log(p / q)
        # <other> is NOT excluded from novelty: with contract ``categories``
        # every out-of-contract value collapses into it, so "this
        # partition has out-of-universe values and the rest of the corpus
        # has none" IS the new-category alarm (a brand-new codec would
        # otherwise never fire it — advisor round-5 fix).
        is_new = ((F.col("n") > 0) & (F.col("rest_n") == 0)).cast("int")
        scored = (
            dense.select(
                "part", psi_term.alias("psi_term"), is_new.alias("is_new")
            )
            .groupBy("part")
            .agg(
                F.sum("psi_term").alias("psi"),
                F.sum("is_new").alias("new_categories"),
            )
        )
        failed = F.col("psi") > self.psi_threshold
        if self.new_category_fails:
            failed = failed | (F.col("new_categories") > 0)
        return scored.select("part", "psi", "new_categories", failed.alias("failed"))

    def partition_scores(
        self, tables: dict[str, DataFrame], ctx: ValidationContext
    ) -> list[tuple[str, float, int, bool]]:
        rows = self.scores_plan(tables, ctx).orderBy("part").collect()
        return [
            (r["part"], r["psi"], r["new_categories"], r["failed"]) for r in rows
        ]

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        vio = self.scores_plan(tables, ctx).filter(F.col("failed"))
        expected = f"psi<={self.psi_threshold}" + (
            " and no new categories" if self.new_category_fails else ""
        )
        return make_violations(
            vio,
            constraint=self.name,
            table=self.table,
            key="part",
            column=self.column,
            observed=F.concat_ws(
                ";",
                F.concat(F.lit("psi="), F.round("psi", 4).cast("string")),
                F.concat(F.lit("new="), F.col("new_categories").cast("string")),
            ),
            expected=expected,
            part="part",
        )

    # -- cross-run categorical drift: persisted category-count sidecar -------

    CAT_HIST_SCHEMA = "table string, column string, part string, val string, n long"

    def histogram_rows(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        """Persistable per-partition category counts for cross-RUN drift —
        the categorical analogue of the numeric ``histogram_rows``. Requires
        contract ``categories`` for the same reason the numeric path
        requires ``bounds``: buckets must be identical across runs. The
        sidecar is metadata-sized: ≤ (len(categories)+1) × n_parts rows."""
        if self.categories is None:
            raise ValueError(
                "cross-run categorical drift needs contract categories so "
                f"buckets are stable across runs; construct "
                f"CategoricalDriftConstraint({self.table!r}, {self.column!r}, "
                "categories=[...])"
            )
        df = tables[self.table]
        top = self._bucket_universe(self.histogram(df, ctx.part_col))
        b = self._bucketed(df, ctx.part_col, top)
        return b.select(
            F.lit(self.table).alias("table"),
            F.lit(self.column).alias("column"),
            F.col("part").cast("string").alias("part"),
            F.col("val").cast("string").alias("val"),
            F.col("n").cast("long").alias("n"),
        )

    def scores_vs_baseline(
        self,
        tables: dict[str, DataFrame],
        ctx: ValidationContext,
        baseline: DataFrame,
    ) -> DataFrame:
        """(part, psi, new_categories, failed) of each CURRENT partition
        against the pooled BASELINE category mix (a prior run's persisted
        ``histogram_rows``). ``new_categories`` counts categories observed
        now that the whole baseline corpus never contained — the codec-
        rollout alarm across runs. The baseline side is a ≤ buckets-row
        broadcast; cross-run drift costs one (part, value) aggregate over
        the new data, never a rescan of the old."""
        if self.categories is None:
            raise ValueError(
                "cross-run categorical drift needs contract categories "
                "(see histogram_rows)"
            )
        df = tables[self.table]
        top = self._bucket_universe(self.histogram(df, ctx.part_col))
        cur = self._bucketed(df, ctx.part_col, top)
        ref = (
            baseline.filter(
                (F.col("table") == self.table) & (F.col("column") == self.column)
            )
            .groupBy("val")
            .agg(F.sum("n").alias("ref_n"))
        )
        parts = cur.select("part").distinct()
        vals = top.unionByName(
            top.sparkSession.range(1).select(F.lit(self.OTHER).alias("val"))
        )
        dense = (
            parts.crossJoin(F.broadcast(vals))
            .join(cur, on=["part", "val"], how="left")
            .fillna(0, subset=["n"])
            .join(F.broadcast(ref), on="val", how="left")
            .fillna(0, subset=["ref_n"])
        )
        w_part = Window.partitionBy("part")
        dense = (
            dense.withColumn("part_total", F.sum("n").over(w_part))
            .withColumn("ref_total", F.sum("ref_n").over(w_part))
            .withColumn("nb", F.count(F.lit(1)).over(w_part))
        )
        p = (F.col("n") + 1.0) / (F.col("part_total") + F.col("nb"))
        q = (F.col("ref_n") + 1.0) / (F.col("ref_total") + F.col("nb"))
        psi_term = (p - q) * F.log(p / q)
        # <other> counts toward novelty here too (see scores_plan)
        is_new = ((F.col("n") > 0) & (F.col("ref_n") == 0)).cast("int")
        scored = (
            dense.select("part", psi_term.alias("psi_term"), is_new.alias("is_new"))
            .groupBy("part")
            .agg(
                F.sum("psi_term").alias("psi"),
                F.sum("is_new").alias("new_categories"),
            )
        )
        failed = F.col("psi") > self.psi_threshold
        if self.new_category_fails:
            failed = failed | (F.col("new_categories") > 0)
        return scored.select("part", "psi", "new_categories", failed.alias("failed"))
