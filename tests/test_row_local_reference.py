"""Row-local constraints vs an independent pandas reference.

Every row-local constraint has one definition, its ``row_predicates``; the
Spark plan built from it (``row_local_violations``, alone or bundled) is
checked here against a small pandas evaluator per predicate kind, written
from each family's documented semantics rather than from its Columns.
Hypothesis generates the frames: NULLs, NaN, +-inf, -0.0, empty strings,
unicode (an astral character included) and values exactly at each bound.
The violation multisets of ``(constraint, key, column)`` must agree.

The reference models Spark's SQL semantics explicitly instead of borrowing
Python's: NaN sorts above every value and equals itself (so a NaN fails a
max bound but passes a lone min bound), -0.0 equals 0.0, a NULL operand
makes a comparison NULL, and only a TRUE predicate emits a row.

Run alone: ``python -m pytest tests/test_row_local_reference.py -q``.
"""

import math
import re
from collections import Counter

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from unify_spark.operators.base import ValidationContext, row_local_violations
from unify_spark.operators.constraints import (
    AnyPresentConstraint,
    CompositeIdConstraint,
    ConditionalConstraint,
    DerivedRangeConstraint,
    DomainConstraint,
    EnumMappingConstraint,
    LengthConstraint,
    RangeConstraint,
    RegexConstraint,
    RequiredConstraint,
    VectorConstraint,
)

NAN, INF = float("nan"), float("inf")
SCHEMA = (
    "clip_id string, x double, y double, s string, a string, b int, "
    "cid string, v array<double>"
)
COLUMNS = ["clip_id", "x", "y", "s", "a", "b", "cid", "v"]
NA_TOKENS = ["NA", "", "NaN"]


def _suite():
    """Every row-local family, with the variants whose semantics differ.
    Names get an index suffix so same-column variants stay apart."""
    suite = [
        DomainConstraint("t", "s", allowed=["", "a", "é", "NA"]),
        RangeConstraint("t", "x", min_value=0, max_value=10),
        RangeConstraint("t", "x", min_value=0, min_exclusive=True),
        RangeConstraint("t", "x", max_value=10),
        RangeConstraint("t", "x", allowed_set=[0.0, 1.0, 10.0]),
        RangeConstraint("t", "x", allowed_set=[1.0, NAN], min_value=0),
        RangeConstraint("t", "b", min_value=0, max_value=20),
        DerivedRangeConstraint("t", "x - y", min_value=-5, max_value=5),
        RequiredConstraint("t", ["s", "x"]),
        RequiredConstraint("t", ["s", "x", "b"], na_tokens=NA_TOKENS),
        CompositeIdConstraint("t", "cid", ["a", "b"]),
        EnumMappingConstraint("t", "s", {"a": "A", "é": "E", "NA": "-"}),
        RegexConstraint.char_domain("t", "s", "abé"),
        RegexConstraint("t", "s", "^a"),
        LengthConstraint("t", "s", max_len=3),
        LengthConstraint("t", "s", max_len=4, min_len=2),
        AnyPresentConstraint("t", ["s", "x"]),
        ConditionalConstraint("t", "x > 5", ["s", "b"]),
        VectorConstraint("t", "v", dim=3),
        VectorConstraint("t", "v", dim=2, required=False, check_norm=False),
    ]
    for i, c in enumerate(suite):
        c.name = f"{c.name}#{i}"
    return suite


# -- Spark's SQL semantics, spelled out ---------------------------------------


def _cmp(a, b) -> int:
    """Spark's ordering of two non-NULL numbers: NaN is greater than every
    other value and equal to itself; -0.0 equals 0.0."""
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan or b_nan:
        return int(a_nan) - int(b_nan)
    return (a > b) - (a < b)


def _as_string(v) -> str:
    """``CAST(v AS STRING)`` as far as an NA token can tell: a token holds no
    digits, so a finite number's exact rendering never matters."""
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return v if isinstance(v, str) else repr(v)


# -- one pandas evaluator per predicate kind ----------------------------------
# Each returns [(column label, boolean mask)]; a row violates where the mask
# is True. Values stay Python objects (dtype=object) so NULL and NaN differ.


def _ref_domain(pdf, c):
    return [(c.column, pdf[c.column].map(lambda v: v is not None and v not in c.allowed))]


def _ref_range(pdf, c):
    def fails(v):
        if v is None:
            return False
        ok = True
        if c.allowed_set is not None:
            ok &= any(_cmp(v, a) == 0 for a in c.allowed_set)
        if c.min_value is not None:
            ok &= _cmp(v, c.min_value) > 0 if c.min_exclusive else _cmp(v, c.min_value) >= 0
        if c.max_value is not None:
            ok &= _cmp(v, c.max_value) <= 0
        return not ok

    return [(c.column, pdf[c.column].map(fails))]


def _ref_derived_range(pdf, c):
    assert c.expr == "x - y"

    def fails(row):
        if row["x"] is None or row["y"] is None:
            return False
        e = row["x"] - row["y"]  # IEEE double arithmetic, as the JVM's
        return _cmp(e, c.min_value) < 0 or _cmp(e, c.max_value) > 0

    return [(c.label, pdf.apply(fails, axis=1))]


def _ref_required(pdf, c):
    def missing(v):
        return v is None or _as_string(v) in c.na_tokens

    return [(col, pdf[col].map(missing)) for col in c.columns]


def _ref_composite_id(pdf, c):
    def fails(row):
        # concat_ws skips NULL components
        parts = [str(row[p]) for p in c.components if row[p] is not None]
        return row[c.id_col] is not None and row[c.id_col] != c.sep.join(parts)

    return [(c.id_col, pdf.apply(fails, axis=1))]


def _ref_enum_mapping(pdf, c):
    return [(c.column, pdf[c.column].map(lambda v: v is not None and v not in c.mapping))]


def _ref_regex(pdf, c):
    # rlike is an unanchored find, like re.search
    return [(c.column, pdf[c.column].map(lambda v: v is not None and not re.search(c.pattern, v)))]


def _ref_length(pdf, c):
    def fails(v):
        # length() counts code points, as len() does
        return v is not None and (len(v) > c.max_len or (c.min_len and len(v) < c.min_len))

    return [(c.column, pdf[c.column].map(fails))]


def _ref_any_present(pdf, c):
    # a NaN casts to the string "NaN": present
    all_null = pdf[c.columns].apply(lambda r: all(v is None for v in r), axis=1)
    return [("|".join(c.columns), all_null)]


def _ref_conditional(pdf, c):
    assert c.when_expr == "x > 5"
    # NULL x makes the condition NULL: no row. NaN > 5 is TRUE.
    cond = pdf["x"].map(lambda x: x is not None and _cmp(x, 5) > 0)
    return [(col, cond & pdf[col].map(lambda v: v is None)) for col in c.then_required]


def _ref_vector(pdf, c):
    def reason(v):
        if v is None:
            return "null" if c.required else None
        if len(v) != c.dim:
            return "wrong_dim"
        if any(e is None for e in v):
            return "null_element"
        if any(math.isnan(e) for e in v):
            return "nan"
        if any(math.isinf(e) for e in v):
            return "inf"
        if c.check_norm and sum(e * e for e in v) == 0.0:
            return "zero_norm"
        return None

    return [(c.column, pdf[c.column].map(lambda v: reason(v) is not None))]


_REFERENCE = {
    DomainConstraint: _ref_domain,
    RangeConstraint: _ref_range,
    DerivedRangeConstraint: _ref_derived_range,
    RequiredConstraint: _ref_required,
    CompositeIdConstraint: _ref_composite_id,
    EnumMappingConstraint: _ref_enum_mapping,
    RegexConstraint: _ref_regex,
    LengthConstraint: _ref_length,
    AnyPresentConstraint: _ref_any_present,
    ConditionalConstraint: _ref_conditional,
    VectorConstraint: _ref_vector,
}


def _reference(rows, suite) -> Counter:
    pdf = pd.DataFrame(rows, columns=COLUMNS, dtype=object)
    out = Counter()
    for c in suite:
        key = "cid" if isinstance(c, CompositeIdConstraint) else "clip_id"
        for label, mask in _REFERENCE[type(c)](pdf, c):
            for k in pdf.loc[mask.astype(bool), key]:
                out[(c.name, k, label)] += 1
    return out


def _multiset(df) -> Counter:
    return Counter(
        (r["constraint"], r["key"], r["column"])
        for r in df.select("constraint", "key", "column").collect()
    )


# -- generated frames -----------------------------------------------------------

_edge_doubles = st.sampled_from([0.0, -0.0, 1.0, 5.0, 10.0, -1.0, 10.5, NAN, INF, -INF])
_doubles = st.one_of(st.none(), _edge_doubles, st.floats(min_value=-20, max_value=20))
# no line terminators: Java's `$` also matches before \r or U+2028, Python's not
_text = st.text(alphabet="abéZ 𝄞-", max_size=6)
_strings = st.one_of(
    st.none(), st.sampled_from(["", "NA", "NaN", "a", "é", "ab", "abc", "abcd", "𝄞𝄞𝄞"]), _text
)
_vectors = st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), _edge_doubles, st.floats(-2, 2)), max_size=4),
)


@st.composite
def _rows(draw):
    n = draw(st.integers(min_value=1, max_value=20))
    rows = []
    for i in range(n):
        a = draw(st.one_of(st.none(), st.text(alphabet="aé-", max_size=3)))
        b = draw(st.one_of(st.none(), st.integers(min_value=-3, max_value=30)))
        match = "-".join(str(p) for p in (a, b) if p is not None)
        cid = draw(st.one_of(st.none(), st.just(match), _text))
        rows.append(
            (f"k{i}", draw(_doubles), draw(_doubles), draw(_strings), a, b, cid, draw(_vectors))
        )
    return rows


# every bound hit exactly, every NULL/NaN/token case present at least once
_EDGE_ROWS = [
    ("k0", 0.0, 0.0, "NA", "a", 1, "a-1", [1.0, 0.0, 0.0]),
    ("k1", -0.0, 5.0, "", None, 2, "2", [0.0, 0.0, 0.0]),
    ("k2", 10.0, 5.0, "abc", "a", None, "a-9", [1.0, None]),
    ("k3", NAN, None, "abcd", None, None, "", [NAN, 1.0, 1.0]),
    ("k4", None, 1.0, None, "é", 20, None, None),
    ("k5", INF, INF, "NaN", "é", 21, "é-21", [INF, 1.0, 1.0]),
    ("k6", -INF, 0.0, "𝄞𝄞𝄞", "-", -1, "--1", [1.0, 2.0]),
    ("k7", 1.0, -4.0, "a", "a", 0, "x", []),
    ("k8", 5.0, 10.0, "é", None, 5, "5", [-0.0, 0.0]),
    ("k9", 6.0, None, None, "a", None, "a", None),
    ("k10", None, None, None, None, None, None, [1.0, 1.0, 1.0]),
]


@settings(max_examples=20, deadline=None)
@given(_rows())
@example(_EDGE_ROWS)
def test_row_local_bundle_matches_pandas_reference(spark, rows):
    """One DataFrame per example; the whole suite as ONE fused bundle."""
    ctx = ValidationContext()
    suite = _suite()
    df = spark.createDataFrame(rows, SCHEMA)
    fused = row_local_violations(df, "t", ctx, [(c, c.row_predicates(ctx)) for c in suite])
    assert _multiset(fused) == _reference(rows, suite)


def test_each_constraint_alone_matches_pandas_reference(spark):
    """Each constraint's own ``violations()`` (a bundle of one, the plan a
    one-stage job runs) over the edge rows."""
    ctx = ValidationContext()
    suite = _suite()
    df = spark.createDataFrame(_EDGE_ROWS, SCHEMA)
    alone = suite[0].violations({"t": df}, ctx)
    for c in suite[1:]:
        alone = alone.unionByName(c.violations({"t": df}, ctx))
    assert _multiset(alone) == _reference(_EDGE_ROWS, suite)
