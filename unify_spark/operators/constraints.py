"""Row-level constraint operators, all expressed as declarative DataFrame
plans (Catalyst pushes filters/pruning into the parquet/Iceberg scan; no
per-row Python anywhere here).

Reference parity notes per class cite the behavior being re-expressed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from unify_spark.operators.base import (
    Constraint,
    ValidationContext,
    make_violations,
)


class UniquenessConstraint(Constraint):
    """Duplicate-key detection at scale.

    Reference: upsert collision crosscheck
    (src/com/vendekagonlabs/unify/import/upsert_coordination.clj:25-105) and
    `:db.unique/identity` semantics.

    Scale design: project to the key columns FIRST (column pruning — never
    shuffle 100 TB of audio bytes to count ids), then one hash aggregate
    whose built-in partial (map-side) phase pre-combines every key inside
    its input partition — the skew guard for adversarially hot keys (a hot
    key ships at most one partial row per input partition). Duplicate keys
    are expected to be rare, so the join back to recover lineage is
    broadcast by AQE at runtime.
    """

    def __init__(self, table: str, key_cols: list[str]):
        self.table = table
        self.key_cols = list(key_cols)
        self.name = f"uniqueness:{table}.{'+'.join(key_cols)}"

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        df = tables[self.table]
        keys = df.select(*self.key_cols)
        # One groupBy. Spark's hash aggregate already runs a partial
        # (map-side) phase inside each input partition before the exchange
        # — exactly the per-partition pre-combine an explicit
        # (key, spark_partition_id) two-phase would spell out, except
        # Catalyst cannot see that a partition-id salt is partition-local,
        # so it would insert a SECOND full-width exchange for it, doubling
        # the shuffled rows on a mostly-unique key (the common case). A hot
        # key still shuffles at most one partial row per input partition
        # (tests/test_skew.py pins exact counts under a 50%-hot key).
        counts = keys.groupBy(*self.key_cols).agg(F.count(F.lit(1)).alias("dup_count"))
        dups = counts.filter(F.col("dup_count") > 1)
        # join lineage back; dup set is small → AQE broadcasts it
        bad = df.join(dups, on=self.key_cols, how="inner")
        return make_violations(
            bad,
            constraint=self.name,
            table=self.table,
            key=F.concat_ws("|", *[F.col(c) for c in self.key_cols]),
            column=self.key_cols[0],
            observed=F.col("dup_count"),
            expected="unique",
            part=ctx.part_col if ctx.part_col in df.columns else None,
        )


class ReferentialIntegrityConstraint(Constraint):
    """Child rows whose foreign key resolves to no parent row.

    Reference: lookup-ref resolution + dangling-ref detection
    (src/com/vendekagonlabs/unify/import/engine/parse/data.clj:274-289,
    src/com/vendekagonlabs/unify/validation/post_import/util.clj:162-175).

    Scale design: anti-join on the key only. ``strategy='broadcast'`` for dim
    tables, ``'shuffle'`` (sort-merge / shuffled-hash, Spark's choice + AQE
    skew split) when both sides are fact-sized.
    """

    def __init__(
        self,
        child_table: str,
        child_key: str,
        parent_table: str,
        parent_key: str,
        strategy: str = "auto",  # auto | broadcast | shuffle
        key_col: str | None = None,
    ):
        self.table = child_table
        self.child_key = child_key
        self.parent_table = parent_table
        self.parent_key = parent_key
        self.strategy = strategy
        self.key_col = key_col
        self.name = f"referential:{child_table}.{child_key}->{parent_table}.{parent_key}"

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        child = tables[self.table]
        parent = tables[self.parent_table].select(
            F.col(self.parent_key).alias(self.child_key)
        )
        if self.strategy == "broadcast":
            # dedup only where it buys something: it bounds the broadcast
            # relation. For the shuffle/auto anti-join it was a pure extra
            # aggregate pass over the parent — LeftAnti is an existence
            # check and handles duplicate parent keys natively.
            parent = F.broadcast(parent.dropDuplicates([self.child_key]))
        elif self.strategy == "shuffle":
            parent = parent.hint("shuffle_merge")
        dangling = child.filter(F.col(self.child_key).isNotNull()).join(
            parent, on=self.child_key, how="left_anti"
        )
        key = self.key_col or self.child_key
        return make_violations(
            dangling,
            constraint=self.name,
            table=self.table,
            key=key,
            column=self.child_key,
            observed=self.child_key,
            expected=f"existing {self.parent_table}.{self.parent_key}",
            part=ctx.part_col if ctx.part_col in child.columns else None,
            source_file="source_file" if "source_file" in child.columns else None,
            row_index="row_index" if "row_index" in child.columns else None,
        )


class DomainConstraint(Constraint):
    """Value must belong to a closed domain (enum membership).

    Reference: keyword-enum set specs, e.g. cnv-call/msi-status
    (src/com/vendekagonlabs/unify/validation/specs.clj:66-71). The domain can
    be a literal set (``isin`` — constant-folded into the scan filter) or a
    dimension table (broadcast anti-join), mirroring unify's enums.edn.
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(
        self,
        table: str,
        column: str,
        allowed: list[str] | None = None,
        dim_table: str | None = None,
        dim_key: str | None = None,
    ):
        self.table = table
        self.column = column
        self.allowed = list(allowed) if allowed is not None else None
        self.dim_table = dim_table
        self.dim_key = dim_key or column
        self.name = f"domain:{table}.{column}"
        # with a dim table, the verdict also depends on the dim's content —
        # the incremental seeding gate must see it (plans/incremental.py)
        self.aux_tables = [dim_table] if dim_table else []

    def row_predicates(self, ctx):
        """Row-local form for literal domains only; a dim-table domain needs
        its broadcast join (``violations``)."""
        if self.allowed is None:
            return None
        c = F.col(self.column)
        fail = c.isNotNull() & ~c.isin(self.allowed)
        return [(fail, self.column, c, "in {" + ",".join(map(str, self.allowed)) + "}")]

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        if self.allowed is not None:
            return super().violations(tables, ctx)
        df = tables[self.table]
        dim = F.broadcast(
            tables[self.dim_table].select(F.col(self.dim_key).alias(self.column)).distinct()
        )
        bad = df.filter(F.col(self.column).isNotNull()).join(
            dim, on=self.column, how="left_anti"
        )
        return make_violations(
            bad,
            constraint=self.name,
            table=self.table,
            key=self.row_key(df),
            column=self.column,
            observed=self.column,
            expected=f"in {self.dim_table}.{self.dim_key}",
            part=ctx.part_col if ctx.part_col in df.columns else None,
        )


class RangeConstraint(Constraint):
    """Numeric range / allowed-set predicate.

    Reference: `::non-negative`, `::zero-to-one`, `::cn-range` numeric specs
    (src/com/vendekagonlabs/unify/validation/specs.clj:21-23,45-74).

    NULL values are skipped (Required owns nullness). NaN follows Spark's
    ordering, where NaN is greater than every other value and equal to
    itself: a NaN fails a ``max_value`` bound and an ``allowed_set`` that
    does not list NaN, but passes a lone ``min_value`` bound, exclusive or
    not.
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(
        self,
        table: str,
        column: str,
        min_value: float | None = None,
        max_value: float | None = None,
        allowed_set: list | None = None,
        min_exclusive: bool = False,
    ):
        self.table = table
        self.column = column
        self.min_value = min_value
        self.max_value = max_value
        self.allowed_set = allowed_set
        self.min_exclusive = min_exclusive
        self.name = f"range:{table}.{column}"

    def row_predicates(self, ctx):
        c = F.col(self.column)
        ok = F.lit(True)
        desc = []
        if self.allowed_set is not None:
            ok = ok & c.isin(self.allowed_set)
            desc.append("in {" + ",".join(map(str, self.allowed_set)) + "}")
        if self.min_value is not None:
            ok = ok & (c > self.min_value if self.min_exclusive else c >= self.min_value)
            desc.append((">" if self.min_exclusive else ">=") + str(self.min_value))
        if self.max_value is not None:
            ok = ok & (c <= self.max_value)
            desc.append("<=" + str(self.max_value))
        return [(c.isNotNull() & ~ok, self.column, c, " and ".join(desc))]


class DerivedRangeConstraint(Constraint):
    """Range check over a derived SQL EXPRESSION rather than a raw column —
    the cross-column sanity screens a single-column range can't say:
    transcript chars per second of audio (``length(transcript) /
    (dur_ms / 1000.0)`` in ~[1, 30] for speech), bytes-per-sample
    consistency, ratio/velocity invariants generally. The expression
    compiles into the same fused row-local scan as every other predicate
    (pure Column expression via F.expr — no UDF), so the added checks are
    free at scan time; the violation row reports the evaluated expression
    value as ``observed``.

    NULL expression results (either operand null, or a try-division by
    zero) are skipped like every range check skips nulls — Required/
    AnyPresent own nullness."""

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(
        self,
        table: str,
        expr: str,
        min_value: float | None = None,
        max_value: float | None = None,
        name: str | None = None,
    ):
        if min_value is None and max_value is None:
            raise ValueError("derived_range needs min and/or max")
        self.table = table
        self.expr = expr
        self.min_value = min_value
        self.max_value = max_value
        self.label = name or expr
        self.name = f"derived_range:{table}.{self.label}"

    def row_predicates(self, ctx):
        e = F.expr(self.expr)
        ok = F.lit(True)
        desc = []
        if self.min_value is not None:
            ok = ok & (e >= self.min_value)
            desc.append(f">={self.min_value}")
        if self.max_value is not None:
            ok = ok & (e <= self.max_value)
            desc.append(f"<={self.max_value}")
        return [(e.isNotNull() & ~ok, self.label, e, f"{self.expr} " + " and ".join(desc))]


class RequiredConstraint(Constraint):
    """Required (non-null) columns — one violation row per missing cell.

    Reference: required-keys schemas per kind + NA omit policy
    (src/com/vendekagonlabs/unify/validation/specs.clj:192-253,
    src/com/vendekagonlabs/unify/import/engine/parse/data.clj:600-619).
    NA tokens are normalized to null first, like unify's configurable na set.
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, columns: list[str], na_tokens: list[str] | None = None):
        self.table = table
        self.columns = list(columns)
        self.na_tokens = list(na_tokens or [])
        self.name = f"required:{table}.{'+'.join(columns)}"

    def row_predicates(self, ctx):
        preds = []
        for col in self.columns:
            c = F.col(col)
            is_missing = c.isNull()
            if self.na_tokens:
                # cast-to-string keeps the token check type-safe without
                # dtypes, and correct even when normalize_na did NOT run
                # upstream. A numeric column matches a token only through
                # its string form (a NaN double is "NaN")
                is_missing = is_missing | c.cast("string").isin(self.na_tokens)
            preds.append((is_missing, col, F.lit("null"), "non-null"))
        return preds


class CompositeIdConstraint(Constraint):
    """Synthetic/composite id must equal the join of its components.

    Reference: synthetic-composite-id construction + consistency specs for
    genomic-coordinate (":") and variant ("/")
    (src/com/vendekagonlabs/unify/import/engine/parse/data.clj:504-530,
    src/com/vendekagonlabs/unify/validation/specs.clj:162-177,275-301).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, id_col: str, components: list[str], sep: str = "-"):
        self.table = table
        self.id_col = id_col
        self.components = list(components)
        self.sep = sep
        self.name = f"composite_id:{table}.{id_col}"

    def row_key(self, df: DataFrame) -> str:
        return self.id_col

    def row_predicates(self, ctx):
        expected = F.concat_ws(self.sep, *[F.col(c).cast("string") for c in self.components])
        fail = F.col(self.id_col).isNotNull() & (F.col(self.id_col) != expected)
        return [(fail, self.id_col, F.col(self.id_col),
                 f"concat_ws('{self.sep}', {', '.join(self.components)})")]


class EnumMappingConstraint(Constraint):
    """Value remapping where an unresolved input value is an ERROR, not a
    pass-through — unify's exact semantics
    (src/com/vendekagonlabs/unify/import/engine/parse/data.clj:292-306).
    A value outside the mapping's keys becomes a violation row instead of
    an exception (fail-at-end, SURVEY §7.4).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, column: str, mapping: dict[str, str]):
        self.table = table
        self.column = column
        self.mapping = dict(mapping)
        self.name = f"enum_mapping:{table}.{column}"

    def row_predicates(self, ctx):
        c = F.col(self.column)
        fail = c.isNotNull() & ~c.isin(list(self.mapping.keys()))
        return [(fail, self.column, c, "mappable value")]


class RegexConstraint(Constraint):
    """Character-domain / pattern contract on a string column.

    Reference: the amino-acid char-set specs — a string is valid iff every
    character belongs to an allowed alphabet
    (src/com/vendekagonlabs/unify/validation/specs.clj:26-44). Expressed as
    one ``rlike`` anchored regex (JVM regex, codegen'd; char-class form
    ``^[ARND...]*$`` covers the reference's every-char semantics exactly).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, column: str, pattern: str, description: str | None = None):
        self.table = table
        self.column = column
        self.pattern = pattern
        self.description = description or f"matches /{pattern}/"
        self.name = f"regex:{table}.{column}"

    @classmethod
    def char_domain(cls, table: str, column: str, alphabet: str) -> "RegexConstraint":
        """Every character must belong to ``alphabet`` (specs.clj ::amino-seq)."""
        import re

        return cls(
            table,
            column,
            f"^[{re.escape(alphabet)}]*$",
            description=f"chars in {{{alphabet}}}",
        )

    def row_predicates(self, ctx):
        c = F.col(self.column)
        return [(c.isNotNull() & ~c.rlike(self.pattern), self.column, c, self.description)]


class LengthConstraint(Constraint):
    """String length cap (optionally a floor).

    Reference: the 256-char name cap, ``#(<= (count %) 256)``
    (src/com/vendekagonlabs/unify/validation/specs.clj:44) — the same limit
    that motivates UID md5 hashing (import/tx_data.clj:67-73).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, column: str, max_len: int, min_len: int = 0):
        self.table = table
        self.column = column
        self.max_len = max_len
        self.min_len = min_len
        self.name = f"length:{table}.{column}"

    def row_predicates(self, ctx):
        n = F.length(F.col(self.column))
        bad = n > self.max_len
        if self.min_len:
            bad = bad | (n < self.min_len)
        lo = f"{self.min_len} <= " if self.min_len else ""
        fail = F.col(self.column).isNotNull() & bad
        return [(fail, self.column, n, f"{lo}length <= {self.max_len}")]


class AnyPresentConstraint(Constraint):
    """At least ONE of a column group must be non-null per row.

    Reference: ``::measurement-has-value`` — a measurement row is valid iff
    any of its value attributes is present
    (src/com/vendekagonlabs/unify/validation/specs.clj:565-635). One
    ``coalesce`` over the group (single scan, no per-column branches).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, columns: list[str]):
        self.table = table
        self.columns = list(columns)
        self.name = f"any_present:{table}.{'|'.join(columns)}"

    def row_predicates(self, ctx):
        fail = F.coalesce(*[F.col(c).cast("string") for c in self.columns]).isNull()
        return [(fail, "|".join(self.columns), F.lit("all null"), "at least one non-null")]


class ConditionalConstraint(Constraint):
    """When a row satisfies a condition, extra columns become required —
    conditional shape validation.

    Reference: ``::cell-population`` — cell-type is required only when the
    population is NOT from clustering
    (src/com/vendekagonlabs/unify/validation/specs.clj:321-338). The
    condition is a SQL boolean expression string, the consequent a list of
    then-required columns; evaluated as one CASE per row (fusable).
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(self, table: str, when_expr: str, then_required: list[str]):
        self.table = table
        self.when_expr = when_expr
        self.then_required = list(then_required)
        self.name = f"conditional:{table}.when({when_expr})"

    def row_predicates(self, ctx):
        cond = F.expr(self.when_expr)
        return [
            (cond & F.col(col).isNull(), col, F.lit("null"), f"non-null when {self.when_expr}")
            for col in self.then_required
        ]


class UpsertConflictConstraint(Constraint):
    """Conflicting-duplicate detection: rows sharing a unique key whose OTHER
    attributes differ — the would-be silent upsert overwrite.

    Reference: upsert coordination crosscheck — for each incoming unique
    attr/value pair, diff the attribute sets and report differing upserts
    (src/com/vendekagonlabs/unify/import/upsert_coordination.clj:25-105).

    Plan: count distinct value-structs per key in one aggregation (only the
    compared columns shuffle, never payloads unless listed), keys with >1
    distinct struct are conflicts.
    """

    def __init__(self, table: str, key_cols: list[str], compare_cols: list[str]):
        self.table = table
        self.key_cols = list(key_cols)
        self.compare_cols = list(compare_cols)
        self.name = f"upsert_conflict:{table}.{'+'.join(key_cols)}"

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        df = tables[self.table]
        val = F.struct(*[F.col(c) for c in self.compare_cols])
        conflicts = (
            df.select(*self.key_cols, val.alias("_v"))
            .groupBy(*self.key_cols)
            .agg(F.count_distinct(F.col("_v")).alias("n_variants"))
            .filter(F.col("n_variants") > 1)
        )
        bad = df.join(conflicts, on=self.key_cols, how="inner")
        return make_violations(
            bad,
            constraint=self.name,
            table=self.table,
            key=F.concat_ws("|", *[F.col(c) for c in self.key_cols]),
            column="+".join(self.compare_cols),
            observed=F.col("n_variants"),
            expected="single consistent value per key",
            part=ctx.part_col if ctx.part_col in df.columns else None,
        )


class EqualityAcrossTablesConstraint(Constraint):
    """Join two tables on a key and require column equality — the
    transcript-equality half of the input_hint invariant. Both sides must be
    non-null to fire (nullness is RequiredConstraint's job, keeping violation
    sets disjoint like the reference's per-spec error partitioning).

    Reference analogue: upsert crosscheck attr-value diffing
    (src/com/vendekagonlabs/unify/import/upsert_coordination.clj:71-77).
    """

    def __init__(
        self,
        left_table: str,
        right_table: str,
        on: str,
        left_col: str,
        right_col: str,
        key_col: str | None = None,
    ):
        self.table = right_table  # violations attributed to the referencing side
        self.left_table = left_table
        self.right_table = right_table
        self.on = on
        self.left_col = left_col
        self.right_col = right_col
        self.key_col = key_col
        self.name = f"equality:{left_table}.{left_col}={right_table}.{right_col}"

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        # the LEFT (fact-sized) side shuffles only an 8-byte xxhash64
        # fingerprint of the compared value — at 100 TB the transcript text
        # IS the table, so it must never cross the wire twice. The right
        # (referencing) side keeps its raw value: it is needed verbatim for
        # the violation projection anyway, and carrying it beats a second
        # scan + join to recover it. A hash collision masks an inequality
        # with probability ~2^-64 per pair.
        #
        # xxhash64 is TYPE-sensitive, unlike Spark's comparison coercion:
        # long 1 and string '1' compare equal under `=` but hash differently.
        # When the two columns' types differ, hash a common-type cast of both
        # sides so hash equality tracks comparison equality. Spark's
        # PromoteStrings rule coerces BOTH numeric-vs-numeric and
        # string-vs-numeric comparisons to DOUBLE ('7.0', '07', ' 7' all
        # compare equal to long 7), so those pairs hash a double cast; only
        # pairs with no numeric side fall back to a string cast. A
        # non-numeric string casts to a null double — its hash slot stays
        # the seed value, distinct from every real number's hash, so such
        # values still surface as violations (Spark's `=` yields NULL there,
        # i.e. not provably equal — for a validation gate that is a fail).
        ltype = tables[self.left_table].schema[self.left_col].dataType
        rtype = tables[self.right_table].schema[self.right_col].dataType
        if ltype == rtype:
            common = None
        else:
            numeric = ("byte", "short", "int", "bigint", "float", "double", "decimal")
            stringy = ("string", "varchar", "char")
            base = lambda t: t.simpleString().split("(")[0]  # noqa: E731
            is_num = lambda t: base(t) in numeric  # noqa: E731
            is_str = lambda t: base(t) in stringy  # noqa: E731
            if (is_num(ltype) or is_str(ltype)) and (is_num(rtype) or is_str(rtype)) and (
                is_num(ltype) or is_num(rtype)
            ):
                common = "double"
            else:
                common = "string"

        def _h(c):
            # try_cast, not cast: under ANSI mode a malformed string→double
            # cast throws; try_cast yields NULL, whose hash slot is the seed
            # value — distinct from every real number, so the row surfaces
            # as a violation rather than failing the job
            hashed = F.xxhash64(c if common is None else c.try_cast(common))
            return F.when(c.isNotNull(), hashed)

        left = tables[self.left_table].select(
            F.col(self.on), _h(F.col(self.left_col)).alias("_lh")
        )
        right = tables[self.right_table]
        key = self.key_col or self.on
        sel = [
            F.col(self.on),
            F.col(self.right_col).alias("_rv"),
            _h(F.col(self.right_col)).alias("_rh"),
            F.col(key).alias("_k"),
        ]
        if "source_file" in right.columns:
            sel += [F.col("source_file"), F.col("row_index")]
        joined = right.select(*sel).join(left, on=self.on, how="inner")
        bad = joined.filter(
            F.col("_lh").isNotNull() & F.col("_rh").isNotNull() & (F.col("_lh") != F.col("_rh"))
        )
        return make_violations(
            bad,
            constraint=self.name,
            table=self.right_table,
            key="_k",
            column=self.right_col,
            observed=F.col("_rv"),
            expected=f"equal to {self.left_table}.{self.left_col}",
            source_file="source_file" if "source_file" in right.columns else None,
            row_index="row_index" if "row_index" in right.columns else None,
        )


class FuzzyEqualityConstraint(Constraint):
    """Join two tables on a key and require the compared strings to be
    WITHIN an edit-distance budget — the production sibling of strict
    transcript equality for ASR data, where re-transcription legitimately
    drifts by a few tokens and byte equality is too brittle a gate.

    Two modes (``max_edit_distance`` wins when both are set):
      - absolute: Levenshtein distance > ``max_edit_distance`` fails. Uses
        Spark's BANDED builtin (``levenshtein(l, r, threshold)`` returns -1
        once the band is exceeded): O(len * threshold) instead of
        O(len^2) per pair — the difference between feasible and not on
        hour-long transcripts.
      - normalized (default): distance / max(len_l, len_r) > ``max_norm_edit``
        fails (two empty strings are equal). The WER-flavored gate.

    ``canonicalize=True`` compares ASR-normalized text (casefold, strip
    punctuation, collapse whitespace) — the standard WER preprocessing —
    so "Hello, world!" vs "hello world" is distance 0.

    Scale shape: the O(n*m) DP never sees the full corpus. Stage 1 is the
    same 8-byte-fingerprint screen as EqualityAcrossTablesConstraint (the
    fact-sized side shuffles xxhash64(canonical) only); stage 2 fetches raw
    text and runs the DP for the HASH-MISMATCHED keys alone — at 10^12
    rows the overwhelming majority of pairs are byte-identical after
    canonicalization and never pay the quadratic step. All expressions are
    JVM-side (levenshtein is a codegen builtin; no UDF).

    Reference analogue: the same upsert crosscheck diffing as the equality
    constraint (import/upsert_coordination.clj:71-77), relaxed to a
    distance budget.
    """

    def __init__(
        self,
        left_table: str,
        right_table: str,
        on: str,
        left_col: str,
        right_col: str,
        max_norm_edit: float = 0.1,
        max_edit_distance: int | None = None,
        canonicalize: bool = True,
        key_col: str | None = None,
    ):
        self.table = right_table  # violations attributed to the referencing side
        self.left_table = left_table
        self.right_table = right_table
        self.on = on
        self.left_col = left_col
        self.right_col = right_col
        self.max_norm_edit = float(max_norm_edit)
        self.max_edit_distance = (
            int(max_edit_distance) if max_edit_distance is not None else None
        )
        self.canonicalize = canonicalize
        self.key_col = key_col
        self.name = f"fuzzy_equality:{left_table}.{left_col}~{right_table}.{right_col}"

    def _canon(self, c: Column) -> Column:
        if not self.canonicalize:
            return c
        # WER-style normalization: casefold, strip everything that is not a
        # letter/digit/space, collapse runs of whitespace, trim
        c = F.lower(c)
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]+", "")
        c = F.regexp_replace(c, r"\s+", " ")
        return F.trim(c)

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        left_raw = tables[self.left_table]
        right = tables[self.right_table]
        key = self.key_col or self.on

        # stage 1 — hash screen: identical to EqualityAcrossTablesConstraint's
        # shuffle discipline (both columns are strings here, so no type
        # coercion dance); canonically-equal pairs exit before any text joins
        def _h(c):
            return F.when(c.isNotNull(), F.xxhash64(self._canon(c)))

        left_slim = left_raw.select(
            F.col(self.on), _h(F.col(self.left_col)).alias("_lh")
        )
        sel = [
            F.col(self.on),
            F.col(self.right_col).alias("_rv"),
            _h(F.col(self.right_col)).alias("_rh"),
            F.col(key).alias("_k"),
        ]
        if "source_file" in right.columns:
            sel += [F.col("source_file"), F.col("row_index")]
        mismatched = (
            right.select(*sel)
            .join(left_slim, on=self.on, how="inner")
            .filter(
                F.col("_lh").isNotNull()
                & F.col("_rh").isNotNull()
                & (F.col("_lh") != F.col("_rh"))
            )
            .drop("_lh", "_rh")
        )

        # stage 2 — fetch the left text for the (small) mismatch stream and
        # run the DP there only
        paired = mismatched.join(
            left_raw.select(F.col(self.on), F.col(self.left_col).alias("_lv")),
            on=self.on,
            how="inner",
        )
        lc, rc = self._canon(F.col("_lv")), self._canon(F.col("_rv"))
        if self.max_edit_distance is not None:
            d = F.levenshtein(lc, rc, self.max_edit_distance)
            bad = paired.filter((d == -1) | (d > self.max_edit_distance))
            observed = F.format_string(
                f"edit_distance>{self.max_edit_distance}: %s",
                F.substring(F.col("_rv"), 1, 80),
            )
            expected = (
                f"within {self.max_edit_distance} edits of "
                f"{self.left_table}.{self.left_col}"
            )
        else:
            d = F.levenshtein(lc, rc)
            maxlen = F.greatest(F.length(lc), F.length(rc))
            norm = F.when(maxlen == 0, F.lit(0.0)).otherwise(
                d.cast("double") / maxlen
            )
            bad = paired.filter(norm > self.max_norm_edit).withColumn("_norm", norm)
            observed = F.format_string(
                "norm_edit=%.4f: %s", F.col("_norm"), F.substring(F.col("_rv"), 1, 80)
            )
            expected = (
                f"norm edit distance <= {self.max_norm_edit} vs "
                f"{self.left_table}.{self.left_col}"
            )
        return make_violations(
            bad,
            constraint=self.name,
            table=self.right_table,
            key="_k",
            column=self.right_col,
            observed=observed,
            expected=expected,
            source_file="source_file" if "source_file" in right.columns else None,
            row_index="row_index" if "row_index" in right.columns else None,
        )


class VectorConstraint(Constraint):
    """Embedding/vector column contract: non-null, exactly ``dim``
    elements, all finite, non-zero norm. The shape gate every
    similarity/ANN stage assumes — a single ragged or NaN vector poisons a
    cosine matmul batch, so this runs as a first-class constraint with
    violation rows instead of failing inside the UDF (the same
    fail-at-end split as the audio payload check: cheap Column-expression
    screen here, the heavy compute stages can then assume clean input).

    Pure Column expressions (size / exists / aggregate higher-order
    functions — JVM-side, no UDF), so it fuses into the row-local bundle
    scan like domain/range/required.
    """

    partition_local = True
    aux_tables: list[str] | None = []  # row-local: reads no other table

    def __init__(
        self,
        table: str,
        column: str,
        dim: int,
        required: bool = True,
        check_norm: bool = True,
    ):
        self.table = table
        self.column = column
        self.dim = dim
        self.required = required
        self.check_norm = check_norm
        self.name = f"vector:{table}.{column}"

    def _reason(self):
        # Branch order matters: a NULL element makes the nan/inf exists()
        # predicates and the norm aggregate all evaluate to NULL (every
        # branch silently skipped), and Arrow converts such elements to NaN
        # inside the mapInPandas ANN stages this gate protects — so
        # null_element is screened BEFORE any predicate that would null out.
        c = F.col(self.column)
        null_el = F.exists(c, lambda x: x.isNull())
        nan = F.exists(c, lambda x: F.isnan(x.cast("double")))
        inf = F.exists(c, lambda x: F.abs(x.cast("double")) == F.lit(float("inf")))
        sq = F.aggregate(
            c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
        r = F.when(c.isNull(), F.lit("null") if self.required else F.lit(None))
        r = (
            r.when(F.size(c) != self.dim, F.lit("wrong_dim"))
            .when(null_el, F.lit("null_element"))
            .when(nan, F.lit("nan"))
            .when(inf, F.lit("inf"))
        )
        if self.check_norm:
            r = r.when(sq == 0.0, F.lit("zero_norm"))
        return r.otherwise(F.lit(None))

    def row_predicates(self, ctx):
        reason = self._reason()
        parts = [f"dim={self.dim}", "elements non-null and finite"]
        if self.required:
            parts.insert(0, "non-null")
        if self.check_norm:
            parts.append("nonzero norm")
        return [(reason.isNotNull(), self.column, reason, ", ".join(parts))]


class FreshnessConstraint(Constraint):
    """Table-grain recency: the newest value of ``ts_col`` must be within
    ``max_age_hours`` of a reference instant — the "is the data stale"
    check every scheduled pipeline needs (dbt source-freshness analogue).

    ``ref``: an ISO timestamp/date string pinning "now" — REQUIRED for a
    deterministic verdict in tests and resumable runs (a retried stage must
    not flip because the wall clock moved); ``ref=None`` uses the cluster's
    ``current_timestamp()`` and is documented as nondeterministic.

    Scale shape: ONE max() aggregation (map-side partials, no shuffle of
    data rows — partial max per task, one combine); on date-partitioned
    Iceberg/parquet the same answer is available from partition values
    alone, so ``ts_col`` may be the partition column itself.
    """

    def __init__(
        self,
        table: str,
        ts_col: str,
        max_age_hours: float,
        ref: str | None = None,
    ):
        self.table = table
        self.ts_col = ts_col
        self.max_age_hours = float(max_age_hours)
        self.ref = ref
        # ref=None reads the wall clock: the verdict is NOT a pure function
        # of the inputs, so cross-run zero-diff seeding must re-run it
        # (plans/incremental.py checks this flag)
        self.seedable = ref is not None
        self.name = f"freshness:{table}.{ts_col}"
        self.column = ts_col

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        df = tables[self.table]
        ref = (
            F.to_timestamp(F.lit(self.ref)) if self.ref is not None
            else F.current_timestamp()
        )
        threshold = ref - F.expr(
            f"INTERVAL {int(self.max_age_hours * 3600)} SECOND"
        )
        agg = df.agg(
            F.max(F.to_timestamp(F.col(self.ts_col))).alias("newest"),
        ).select(
            "newest",
            threshold.alias("threshold"),
        )
        # stale when newest < threshold; an empty table / all-null ts is the
        # stalest possible state, not a pass
        vio = agg.filter(
            F.col("newest").isNull() | (F.col("newest") < F.col("threshold"))
        )
        return make_violations(
            vio,
            constraint=self.name,
            table=self.table,
            key=F.lit("*"),
            column=self.ts_col,
            observed=F.coalesce(
                F.col("newest").cast("string"), F.lit("no non-null timestamps")
            ),
            expected=f">= ref - {self.max_age_hours}h",
        )


class PartitionCompletenessConstraint(Constraint):
    """Partition availability: every EXPECTED partition must be present
    with at least ``min_rows`` rows — catches the silently-missing daily
    load that row-grain constraints can never see (they only look at rows
    that exist).

    Expectation source (exactly one):
    - ``expected_parts``: an explicit partition-value list, or
    - ``expected_range=(start, end)``: every daily date in the inclusive
      range, generated Spark-side via ``sequence()`` (no driver loop).

    Scale shape: one key-only groupBy(part).count() over the table (map-side
    combine; at 10^12 rows this shuffles n_parts tiny rows) left-joined from
    the broadcast-tiny expected list. partition_grain — one violation row
    per missing/underfilled partition, key = part.
    """

    partition_grain = True

    def __init__(
        self,
        table: str,
        expected_parts: list[str] | None = None,
        expected_range: tuple[str, str] | None = None,
        min_rows: int = 1,
        part_col: str | None = None,
    ):
        if (expected_parts is None) == (expected_range is None):
            raise ValueError("pass exactly one of expected_parts / expected_range")
        self.table = table
        self.expected_parts = list(expected_parts) if expected_parts else None
        self.expected_range = tuple(expected_range) if expected_range else None
        self.min_rows = int(min_rows)
        self.part_col = part_col  # None: ctx.part_col at run time
        self.name = f"completeness:{table}.partitions"

    def _expected_df(self, spark) -> DataFrame:
        if self.expected_parts is not None:
            return spark.createDataFrame(
                [(p,) for p in self.expected_parts], "part string"
            )
        lo, hi = self.expected_range
        return (
            spark.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.to_date(F.lit(lo)),
                        F.to_date(F.lit(hi)),
                        F.expr("INTERVAL 1 DAY"),
                    )
                ).alias("d")
            )
            .select(F.col("d").cast("string").alias("part"))
        )

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        df = tables[self.table]
        part_col = self.part_col or ctx.part_col
        actual = (
            df.groupBy(F.col(part_col).cast("string").alias("part"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        expected = self._expected_df(df.sparkSession)
        vio = (
            F.broadcast(expected)
            .join(actual, on="part", how="left")
            .filter(F.coalesce(F.col("n"), F.lit(0)) < self.min_rows)
        )
        return make_violations(
            vio,
            constraint=self.name,
            table=self.table,
            key="part",
            column=part_col,
            observed=F.concat(
                F.lit("rows="), F.coalesce(F.col("n"), F.lit(0)).cast("string")
            ),
            expected=f">= {self.min_rows} rows",
            part="part",
        )


class AggregateConsistencyConstraint(Constraint):
    """Cross-table aggregate reconciliation: an aggregate expression of the
    LEFT table must equal (within tolerance) an aggregate expression of the
    RIGHT table, globally or per group key — "count of transcript rows per
    clip == 1", "sum(child.amount) == parent.total", "row count of the
    transformed table == row count of the raw table". This is the
    aggregate-level integrity check row-grain constraints cannot express:
    a load that silently drops rows passes every per-row predicate.

    ``on``: group-key column(s) shared by both tables; ``None`` compares one
    global aggregate per side. A key present on only one side is a
    violation (the missing side reads 'absent', not 0 — absence and zero
    are different facts). ``rel_tol``/``abs_tol``: |left − right| must be
    ≤ max(abs_tol, rel_tol·|right|) — exact by default; floats crossing
    engines legitimately need a tolerance.

    Scale shape: each side reduces map-side to (key, double) partial
    aggregates before its shuffle — at 10^12 rows the full-outer join sees
    n_keys tiny rows per side, never data rows; global mode is two
    single-row aggregates. NULL group keys compare null-safely via a
    sentinel. Violations are keyed by the group key ('*' in global mode),
    observed = left aggregate, expected = right aggregate.
    """

    def __init__(
        self,
        left_table: str,
        left_expr: str,
        right_table: str,
        right_expr: str,
        on: list[str] | str | None = None,
        rel_tol: float = 0.0,
        abs_tol: float = 0.0,
        name: str | None = None,
    ):
        self.table = left_table
        self.left_table = left_table
        self.left_expr = left_expr
        self.right_table = right_table
        self.right_expr = right_expr
        self.on = [on] if isinstance(on, str) else (list(on) if on else None)
        self.rel_tol = float(rel_tol)
        self.abs_tol = float(abs_tol)
        # the verdict reads BOTH tables — incremental seeding must know
        self.aux_tables = [right_table]
        self.name = name or (
            f"agg_consistency:{left_table}.{left_expr}={right_table}.{right_expr}"
        )

    def _side(self, df: DataFrame, expr: str, alias: str) -> DataFrame:
        agg = F.expr(expr).cast("double").alias(alias)
        if not self.on:
            return df.agg(agg)
        keys = [
            F.coalesce(F.col(k).cast("string"), F.lit("\x00null\x00")).alias(k)
            for k in self.on
        ]
        return df.groupBy(*keys).agg(agg)

    def violations(self, tables: dict[str, DataFrame], ctx: ValidationContext) -> DataFrame:
        la = self._side(tables[self.left_table], self.left_expr, "lv")
        ra = self._side(tables[self.right_table], self.right_expr, "rv")
        if self.on:
            joined = la.join(ra, on=self.on, how="full_outer")
            key = F.concat_ws("|", *[F.col(k) for k in self.on])
        else:
            joined = la.crossJoin(ra)
            key = F.lit("*")
        bound = F.greatest(
            F.lit(self.abs_tol), F.lit(self.rel_tol) * F.abs(F.col("rv"))
        )
        bad = joined.filter(
            F.col("lv").isNull()
            | F.col("rv").isNull()
            | (F.abs(F.col("lv") - F.col("rv")) > bound)
        )
        # expected is per-row (the right side's aggregate), which
        # make_violations cannot express (literal expected only) — project
        # the canonical schema directly
        return bad.select(
            F.lit(self.name).alias("constraint"),
            F.lit(self.left_table).alias("table"),
            key.cast("string").alias("key"),
            F.lit(None).cast("string").alias("column"),
            F.coalesce(F.col("lv").cast("string"), F.lit("absent")).alias("observed"),
            F.coalesce(F.col("rv").cast("string"), F.lit("absent")).alias("expected"),
            F.lit(None).cast("string").alias("part"),
            F.lit(None).cast("string").alias("source_file"),
            F.lit(None).cast("long").alias("row_index"),
        )
