"""Constraint operator base: canonical violation schema + context.

The reference validates row-at-a-time with clojure.spec predicates and
accumulates error maps with file/line annotations
(reference src/com/vendekagonlabs/unify/validation/record.clj:22-33,
src/com/vendekagonlabs/unify/validation/post_import.clj:26-53). Here every
constraint is a *columnar* DataFrame plan producing a violation DataFrame in
one canonical schema — violations stay distributed, are capped like the
reference's 1000-error cap (post_import.clj:47-48), and verdicts are derived
by aggregation, never driver loops.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one row per violating (row, constraint, column); lineage mirrors the
# reference's per-entity file/line annotations
# (reference src/com/vendekagonlabs/unify/import/engine/parse/data.clj:642-643)
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("constraint", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("column", T.StringType(), True),
        T.StructField("observed", T.StringType(), True),
        T.StructField("expected", T.StringType(), True),
        T.StructField("part", T.StringType(), True),
        T.StructField("source_file", T.StringType(), True),
        T.StructField("row_index", T.LongType(), True),
    ]
)


@dataclass
class ValidationContext:
    """Run-scoped knobs shared by all constraints."""

    run_id: str = "run-0"
    violation_cap: int = 1000  # per constraint, like the reference's error cap
    fail_fast: bool = False  # reference kills a file job on first anomaly
    payload_cap_ms: int | None = 50  # fixture payload truncation (None = full)
    part_col: str = "part_date"
    # also persist the UNCAPPED distinct (constraint, table, key) set to
    # <out>/violating_keys — the quarantine split's input. The evidence
    # files are capped per constraint (violation_cap), so they cannot drive
    # a row-complete clean/quarantine partition; this slim 3-column sidecar
    # can, and it is derived from the already-persisted violation frame
    # (one extra distinct, no recompute of the constraint plans).
    collect_violating_keys: bool = False


def empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], VIOLATION_SCHEMA)


def make_violations(
    df: DataFrame,
    *,
    constraint: str,
    table: str,
    key: Column | str,
    column: str | None,
    observed: Column | str | None,
    expected: str | None,
    part: Column | str | None = None,
    source_file: Column | str | None = None,
    row_index: Column | str | None = None,
) -> DataFrame:
    """Project any violating-row DataFrame onto the canonical schema."""

    def col_of(v, cast: str = "string") -> Column:
        if v is None:
            return F.lit(None).cast(cast)
        if isinstance(v, str):
            return F.col(v).cast(cast)
        return v.cast(cast)

    return df.select(
        F.lit(constraint).alias("constraint"),
        F.lit(table).alias("table"),
        col_of(key).alias("key"),
        F.lit(column).cast("string").alias("column"),
        col_of(observed).alias("observed"),
        F.lit(expected).cast("string").alias("expected"),
        col_of(part).alias("part"),
        col_of(source_file).alias("source_file"),
        col_of(row_index, "long").alias("row_index"),
    )


def row_local_violations(
    df: DataFrame, table: str, ctx: ValidationContext, bundle: list[tuple]
) -> DataFrame:
    """One-scan plan for a table's row-local constraints, the only plan any
    row-local constraint runs, alone or bundled. ``bundle`` pairs each
    constraint with its ``row_predicates(ctx)``, built once by the caller.

    Rows where no predicate is TRUE are filtered out first, so the scan gets
    the pushed-down filter a single constraint's ``df.filter(fail)`` would
    give it, and clean rows never build the struct array. Each surviving row
    becomes an array of VIOLATION_SCHEMA structs, one slot per predicate
    (each keyed by its constraint's own ``row_key``), which ``inline`` turns
    into rows; a slot whose predicate is not TRUE is NULL and dropped, as in
    ``filter()``. ``inline`` over a plain ``array`` keeps the whole plan in
    one generated-code stage (``array_compact`` would not: it is a
    higher-order function)."""
    part = F.col(ctx.part_col) if ctx.part_col in df.columns else F.lit(None)
    any_fail = F.lit(False)
    structs = []
    for c, preds in bundle:
        for fail, column, observed, expected in preds:
            any_fail = any_fail | fail
            structs.append(
                F.when(
                    fail,
                    F.struct(
                        F.lit(c.name).alias("constraint"),
                        F.lit(table).alias("table"),
                        F.col(c.row_key(df)).cast("string").alias("key"),
                        F.lit(column).alias("column"),
                        observed.cast("string").alias("observed"),
                        F.lit(expected).alias("expected"),
                        part.cast("string").alias("part"),
                        F.lit(None).cast("string").alias("source_file"),
                        F.lit(None).cast("long").alias("row_index"),
                    ),
                )
            )
    return (
        df.filter(any_fail)
        .select(F.inline(F.array(*structs)))
        .filter(F.col("constraint").isNotNull())
    )


class Constraint:
    """A named validation over one or more tables.

    A row-local subclass implements ``row_predicates(ctx)`` only: its
    ``violations()`` is then the shared one-scan plan
    (:func:`row_local_violations`) over its own predicates, the same plan
    the runner fuses several such constraints into and the predicates the
    stream validator compiles. Any other subclass implements
    ``violations(tables, ctx)`` returning a DataFrame in
    ``VIOLATION_SCHEMA``. Partition-level verdicts are derived generically by
    the runner; constraints whose natural granularity IS the partition (drift)
    override ``partition_grain = True`` and emit one violation row per failing
    partition with ``key = part``.
    """

    name: str = "constraint"
    table: str = "clips"
    partition_grain: bool = False
    # True when the constraint's verdict for a partition depends ONLY on that
    # partition's rows (row-local predicates, per-row decode). The runner can
    # then resume at (constraint, partition) grain — recompute only partitions
    # missing from the audit — matching the reference's committed-uuid-set
    # filter (db/import_coordination.clj:60-84). Global constraints
    # (uniqueness, referential, cross-table equality) stay stage-grain: a
    # partition subset would change their semantics.
    partition_local: bool = False
    # The tables this constraint READS besides ``table`` (its declared read
    # set). Cross-run incremental validation (plans/incremental.py) may seed
    # a partition-local constraint's verdicts from a prior run only when the
    # content its verdict depends on is unchanged: the partition's own rows
    # PLUS every auxiliary table in this list. None = unknown read set →
    # the seeding gate conservatively requires every other table in the run
    # to be unchanged; [] = reads nothing but its own table's rows.
    aux_tables: list[str] | None = None
    # Verdict interpretation (Deequ assertion-level analogue). Violations are
    # ALWAYS computed, persisted, and recorded per partition exactly as found
    # — severity/tolerance only change how the RUN-level verdict reads them:
    #   severity="warn"  → this constraint's violations never fail the run
    #                      (reported under warn_counts);
    #   max_violations / max_violation_rate → an error-severity constraint
    #     passes the run while its TOTAL count stays within
    #     max(max_violations, floor(rate × rows_checked)) — the "99.9%
    #     complete is acceptable" contract real pipelines run on.
    # Per-partition audit lineage stays exact (pass = 0 violations in that
    # partition), so verdict-diff and resume semantics are unaffected.
    severity: str = "error"
    max_violations: int = 0
    max_violation_rate: float = 0.0
    # Names of other constraints in the same suite that must COMPLETE
    # WITHOUT BLOCKING before this one runs (cost control at 10^12 rows:
    # no point paying the decode-heavy payload scan when the schema-level
    # gates already failed). A dependency that fails beyond its tolerance,
    # errors, or was itself gated marks this constraint 'gated' — recorded
    # in the audit (not 'done', so a resumed run retries it once the
    # dependency is fixed) and in RunResult.gated. Warn-severity and
    # within-tolerance dependency violations do NOT gate. The fused runner
    # executes dependency levels as successive fused waves.
    depends_on: list[str] | None = None

    def allowed_violations(self, rows_checked: int) -> int:
        """Run-level tolerance in rows, given the table size the run saw."""
        import math

        return max(
            int(self.max_violations),
            int(math.floor(self.max_violation_rate * max(rows_checked, 0))),
        )

    def row_predicates(self, ctx: ValidationContext) -> list[tuple] | None:
        """The row-local form: ``[(fail, column, observed, expected)]``, one
        tuple per checked column — ``fail`` a boolean Column TRUE on a
        violating row, ``observed`` the Column reported for it, ``column``
        and ``expected`` literal strings. None when the constraint is not
        row-local (it reads other rows or other tables)."""
        return None

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        preds = self.row_predicates(ctx)
        if preds is None:
            raise NotImplementedError
        return row_local_violations(tables[self.table], self.table, ctx, [(self, preds)])

    def row_key(self, df: DataFrame) -> str:
        """The column a row-local violation is keyed by: ``clip_id`` when the
        table has one, else its first column."""
        return "clip_id" if "clip_id" in df.columns else df.columns[0]

    def config_fingerprint(self) -> str:
        """Stable hash of this constraint's CONFIGURATION — every public
        attribute that shapes its verdict (thresholds, allowed sets, sample
        rates, ...). Cross-run incremental seeding compares it against the
        baseline's recorded fingerprint: identical data + identical config
        is the precondition for carrying a verdict forward; a retuned
        constraint must re-run even over unchanged partitions. ``repr`` of
        plain values (str/int/float/bool/list/dict/None) is deterministic
        across sessions; subclasses holding non-plain state must override."""
        import hashlib
        import json

        cfg = {
            k: repr(v)
            for k, v in sorted(vars(self).items())
            if not k.startswith("_")
        }
        cfg["__class__"] = type(self).__name__
        return hashlib.md5(
            json.dumps(cfg, sort_keys=True).encode()
        ).hexdigest()

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{type(self).__name__} {self.name} on {self.table}>"
