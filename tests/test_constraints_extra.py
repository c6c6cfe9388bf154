"""Golden tests for the §2.5 constraint families added in round 2
(regex/char-domain, length cap, any-present, conditional shape), the
staged-vs-fused equivalence of their row_predicates, per-partition resume,
and resumed-run report hydration."""

import pytest
from pyspark.sql import functions as F

from unify_spark.operators.base import ValidationContext
from unify_spark.operators.constraints import (
    AnyPresentConstraint,
    ConditionalConstraint,
    LengthConstraint,
    RangeConstraint,
    RegexConstraint,
    RequiredConstraint,
)
from unify_spark.plans import ValidationRunner


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        # id, seq, name, a, b, kind, val, part
        (1, "ARND", "ok", None, 1.0, "gated", 5.0, "p1"),
        (2, "ARXJ", "ok", 2.0, None, "clustered", None, "p1"),  # J not in alphabet
        (3, "ARND", "x" * 300, None, None, "gated", None, "p2"),  # too long, none present, missing val
        (4, None, "ok", 3.0, 4.0, "clustered", None, "p2"),  # null seq passes regex
    ]
    return spark.createDataFrame(
        rows, ["clip_id", "seq", "name", "a", "b", "kind", "val", "part_date"]
    )


def _names(vios):
    return sorted(r["key"] for r in vios.collect())


def test_regex_char_domain(tdf):
    c = RegexConstraint.char_domain("t", "seq", "ARNDCEQGHILKMFPSTWYVBZX")
    vios = c.violations({"t": tdf}, ValidationContext())
    assert _names(vios) == ["2"]  # only the J row; null seq is not a regex violation


def test_length_cap(tdf):
    c = LengthConstraint("t", "name", max_len=256)
    vios = c.violations({"t": tdf}, ValidationContext())
    got = vios.collect()
    assert _names(vios) == ["3"] and got[0]["observed"] == "300"


def test_any_present(tdf):
    c = AnyPresentConstraint("t", ["a", "b"])
    vios = c.violations({"t": tdf}, ValidationContext())
    assert _names(vios) == ["3"]


def test_conditional_required(tdf):
    # gated populations must carry val (cell-population semantics)
    c = ConditionalConstraint("t", "kind = 'gated'", ["val"])
    vios = c.violations({"t": tdf}, ValidationContext())
    assert _names(vios) == ["3"]  # row 1 is gated with val; row 2 clustered


def test_fused_matches_staged_for_new_families(spark, tdf, tmp_path):
    """The row_predicates (fused single-scan) path must produce the same
    violation counts as the per-stage plans."""
    suite = [
        RegexConstraint.char_domain("t", "seq", "ARNDCEQGHILKMFPSTWYVBZX"),
        LengthConstraint("t", "name", max_len=256),
        AnyPresentConstraint("t", ["a", "b"]),
        ConditionalConstraint("t", "kind = 'gated'", ["val"]),
        RequiredConstraint("t", ["val"], na_tokens=["NA"]),
    ]
    staged = ValidationRunner(
        spark, str(tmp_path / "s"), ValidationContext(run_id="s")
    ).run({"t": tdf}, suite)
    fused = ValidationRunner(
        spark, str(tmp_path / "f"), ValidationContext(run_id="f")
    ).run_fused({"t": tdf}, suite)
    assert staged.violation_counts == fused.violation_counts
    assert staged.verdicts == fused.verdicts


def test_required_na_tokens_fused_matches_staged(spark, tmp_path):
    """na-token handling must hold in fused mode WITHOUT normalize_na
    upstream (round-1 gap: fused silently dropped the token check)."""
    df = spark.createDataFrame(
        [(1, "hello", "p1"), (2, "NA", "p1"), (3, None, "p2")],
        ["clip_id", "txt", "part_date"],
    )
    suite = [RequiredConstraint("t", ["txt"], na_tokens=["NA", "N/A"])]
    staged = ValidationRunner(
        spark, str(tmp_path / "s"), ValidationContext(run_id="s")
    ).run({"t": df}, suite)
    fused = ValidationRunner(
        spark, str(tmp_path / "f"), ValidationContext(run_id="f")
    ).run_fused({"t": df}, suite)
    assert staged.violation_counts[suite[0].name] == 2
    assert fused.violation_counts[suite[0].name] == 2


@pytest.fixture()
def part_df(spark):
    rows = []
    for p in ["p1", "p2", "p3"]:
        for i in range(10):
            v = -1.0 if (p == "p3" and i < 4) else float(i)
            rows.append((f"{p}-{i}", v, p))
    return spark.createDataFrame(rows, ["clip_id", "val", "part_date"])


def test_per_partition_resume_recomputes_only_missing_parts(spark, part_df, tmp_path):
    """Kill-mid-run semantics: part-grain audit rows exist for p1/p2 (with a
    deliberately WRONG recorded count for p1 so recomputation would be
    detectable), no stage 'done' row. Resume must hydrate p1/p2 from the
    audit verbatim and recompute only p3."""
    c = RangeConstraint("t", "val", min_value=0.0)
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="r"))
    # simulate a partial prior run: p1 recorded with a sentinel count 7 (a
    # recompute would find 0), p2 recorded pass; p3 missing
    runner.audit.append(
        [
            {"run_id": "r", "constraint": c.name, "part": "p1", "status": "fail", "violation_count": 7},
            {"run_id": "r", "constraint": c.name, "part": "p2", "status": "pass", "violation_count": 0},
        ]
    )
    res = runner.run({"t": part_df}, [c])
    # hydrated, not recomputed: the sentinel count survives
    assert res.violation_counts[c.name] == 7 + 4
    assert res.verdicts[(c.name, "p1")] is False
    assert res.verdicts[(c.name, "p2")] is True
    assert res.verdicts[(c.name, "p3")] is False
    # and the stage is now 'done': a further resume skips it wholesale
    res2 = runner.run({"t": part_df}, [c])
    assert res2.skipped == [c.name]
    assert res2.violation_counts[c.name] == 7 + 4  # hydrated report


def test_per_partition_resume_fused(spark, part_df, tmp_path):
    c = RangeConstraint("t", "val", min_value=0.0)
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="r"))
    runner.audit.append(
        [
            {"run_id": "r", "constraint": c.name, "part": "p1", "status": "pass", "violation_count": 0},
            {"run_id": "r", "constraint": c.name, "part": "p2", "status": "pass", "violation_count": 0},
        ]
    )
    res = runner.run_fused({"t": part_df}, [c])
    assert res.violation_counts[c.name] == 4  # only p3 recomputed, found 4
    assert res.verdicts[(c.name, "p3")] is False
    assert res.verdicts[(c.name, "p1")] is True  # hydrated


def test_resume_hydrates_failed_run_report(spark, part_df, tmp_path):
    """ADVICE fix: re-running a completed failing run must NOT report
    passed=True / zero violations."""
    c = RangeConstraint("t", "val", min_value=0.0)
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="r"))
    first = runner.run({"t": part_df}, [c])
    assert not first.passed and first.violation_counts[c.name] == 4
    second = runner.run({"t": part_df}, [c])
    assert second.skipped == [c.name]
    assert not second.passed
    assert second.violation_counts[c.name] == 4
    assert second.verdicts[(c.name, "p3")] is False


def test_global_constraint_resume_stays_stage_grain(spark, tmp_path):
    """A non-partition-local constraint (uniqueness) with partial part rows
    but no 'done' row re-runs WHOLE (partition subset would be unsound)."""
    from unify_spark.operators.constraints import UniquenessConstraint

    df = spark.createDataFrame(
        [("a", "p1"), ("a", "p2"), ("b", "p2")], ["clip_id", "part_date"]
    )
    c = UniquenessConstraint("t", ["clip_id"])
    runner = ValidationRunner(spark, str(tmp_path), ValidationContext(run_id="r"))
    runner.audit.append(
        [{"run_id": "r", "constraint": c.name, "part": "p1", "status": "pass", "violation_count": 0}]
    )
    res = runner.run({"t": df}, [c])
    assert res.skipped == []
    # the cross-partition duplicate IS found (both rows of key 'a')
    assert res.violation_counts[c.name] == 2


def test_equality_hash_is_type_insensitive(spark):
    """xxhash64 is type-sensitive; when column types differ the constraint
    must hash a common-type cast so long 1 == string '1' (and 1 == 1.0)
    still compare equal, matching Spark's comparison coercion."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import EqualityAcrossTablesConstraint

    left = spark.createDataFrame([(1, 7), (2, 8)], "k int, val bigint")
    right_str = spark.createDataFrame(
        [(1, "7", "t1"), (2, "9", "t2")], "k int, val string, tid string"
    )
    c = EqualityAcrossTablesConstraint("l", "r", on="k", left_col="val", right_col="val", key_col="tid")
    vio = c.violations({"l": left, "r": right_str}, ValidationContext()).collect()
    assert [v["key"] for v in vio] == ["t2"]  # '7'==7 passes, '9'!=8 fires

    right_dbl = spark.createDataFrame(
        [(1, 7.0, "t1"), (2, 8.5, "t2")], "k int, val double, tid string"
    )
    vio2 = c.violations({"l": left, "r": right_dbl}, ValidationContext()).collect()
    assert [v["key"] for v in vio2] == ["t2"]  # 7.0==7 passes (numeric→double)

    # string-vs-numeric follows Spark's PromoteStrings coercion to DOUBLE:
    # '7.0', '07', ' 7' all compare equal to long 7 and must NOT fire; a
    # non-numeric string is not provably equal and must fire
    right_fmt = spark.createDataFrame(
        [(1, "7.0", "t1"), (2, "08", "t2"), (1, " 7", "t3"), (2, "9", "t4"),
         (1, "abc", "t5")],
        "k int, val string, tid string",
    )
    vio3 = c.violations({"l": left, "r": right_fmt}, ValidationContext()).collect()
    assert sorted(v["key"] for v in vio3) == ["t4", "t5"]


def test_vector_constraint_reasons(spark):
    """Embedding contract: each failure mode gets its own reason; clean
    vectors pass; required=False tolerates nulls; row_predicates fuses."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import VectorConstraint

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [1.0, 2.0]),          # wrong_dim
        (3, None),                # null
        (4, [1.0, nan, 3.0]),     # nan
        (5, [0.0, 0.0, 0.0]),     # zero_norm
        (6, [1.0, None, 3.0]),    # null_element — used to null out every branch
        (7, [inf, 2.0, 3.0]),     # inf
        (8, [1.0, -inf, 3.0]),    # inf (negative)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = VectorConstraint("embeddings", "embedding", dim=3)
    got = {r["key"]: r["observed"]
           for r in c.violations({"embeddings": df}, ValidationContext()).collect()}
    assert got == {"2": "wrong_dim", "3": "null", "4": "nan", "5": "zero_norm",
                   "6": "null_element", "7": "inf", "8": "inf"}

    relaxed = VectorConstraint("embeddings", "embedding", dim=3, required=False)
    got2 = {r["key"] for r in relaxed.violations({"embeddings": df}, ValidationContext()).collect()}
    assert got2 == {"2", "4", "5", "6", "7", "8"}

    no_norm = VectorConstraint("embeddings", "embedding", dim=3, check_norm=False)
    got3 = {r["key"] for r in no_norm.violations({"embeddings": df}, ValidationContext()).collect()}
    assert got3 == {"2", "3", "4", "6", "7", "8"}

    # fuses into the row-local bundle like domain/range
    preds = c.row_predicates(ValidationContext())
    assert len(preds) == 1 and preds[0][1] == "embedding"


def test_vector_constraint_from_config(spark):
    from unify_spark.plans.config import parse_suite_config

    cfg = parse_suite_config(
        {"tables": {"embeddings": "/x"},
         "constraints": [{"type": "vector", "table": "embeddings",
                          "column": "embedding", "dim": 64}]}
    )
    assert cfg.constraints[0].name == "vector:embeddings.embedding"
    assert cfg.constraints[0].dim == 64


def test_derived_range_constraint(spark):
    """Cross-column expression range: transcript chars-per-second of audio
    must be plausible for speech; NULL operands are skipped; the fused
    row_predicates path reports the same violations as the staged path."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import DerivedRangeConstraint

    rows = [
        ("c1", "a" * 150, 10_000),   # 15 chars/s: fine
        ("c2", "a" * 2000, 2_000),   # 1000 chars/s: implausible
        ("c3", "ab", 10_000),        # 0.2 chars/s: implausible
        ("c4", None, 5_000),         # null transcript: skipped
        ("c5", "a" * 50, None),      # null duration: skipped
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms long")
    c = DerivedRangeConstraint(
        "clips", "length(transcript) / (dur_ms / 1000.0)",
        min_value=1.0, max_value=30.0, name="chars_per_sec",
    )
    vio = {r["key"]: float(r["observed"]) for r in
           c.violations({"clips": df}, ValidationContext()).collect()}
    assert set(vio) == {"c2", "c3"}
    assert vio["c2"] == 1000.0 and vio["c3"] == 0.2

    preds = c.row_predicates(ValidationContext())
    assert len(preds) == 1
    cond, label, _obs, _desc = preds[0]
    fused = {r["clip_id"] for r in df.filter(cond).collect()}
    assert fused == {"c2", "c3"} and label == "chars_per_sec"


def test_derived_range_from_config(spark):
    from unify_spark.plans.config import parse_suite_config

    cfg = parse_suite_config(
        {"tables": {"clips": "/x"},
         "constraints": [{"type": "derived_range", "table": "clips",
                          "expr": "length(transcript) / (dur_ms / 1000.0)",
                          "min": 1, "max": 30, "name": "chars_per_sec"}]}
    )
    assert cfg.constraints[0].name == "derived_range:clips.chars_per_sec"


def test_fuzzy_equality_normalized_mode(spark):
    """Normalized edit-distance gate: small drift passes, large drift
    fails; canonicalization makes case/punctuation-only differences free;
    empty-vs-empty is equal; null sides never fire (RequiredConstraint's
    job)."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import FuzzyEqualityConstraint

    left = spark.createDataFrame(
        [
            ("c1", "the quick brown fox jumps over the lazy dog"),
            ("c2", "Hello, world!"),
            ("c3", "completely different text on this side"),
            ("c4", ""),
            ("c5", None),
            ("c6", "one tiny typo in this transcript here"),
        ],
        "clip_id string, transcript string",
    )
    right = spark.createDataFrame(
        [
            ("c1", "t1", "the quick brown fox jumps over the lazy dog"),
            ("c2", "t2", "hello world"),  # canonical-equal
            ("c3", "t3", "nothing alike whatsoever over here at all"),
            ("c4", "t4", ""),
            ("c5", "t5", "something"),  # left null -> no fire
            ("c6", "t6", "one tiny typo in this transcripd here"),  # 1 edit
        ],
        "clip_id string, transcript_id string, transcript string",
    )
    c = FuzzyEqualityConstraint(
        "clips", "transcript_map", on="clip_id",
        left_col="transcript", right_col="transcript",
        max_norm_edit=0.1, key_col="transcript_id",
    )
    rows = c.violations(
        {"clips": left, "transcript_map": right}, ValidationContext()
    ).collect()
    assert {r["key"] for r in rows} == {"t3"}
    assert rows[0]["observed"].startswith("norm_edit=")
    # without canonicalization the punctuation/case difference violates
    c2 = FuzzyEqualityConstraint(
        "clips", "transcript_map", on="clip_id",
        left_col="transcript", right_col="transcript",
        max_norm_edit=0.1, canonicalize=False, key_col="transcript_id",
    )
    rows2 = c2.violations(
        {"clips": left, "transcript_map": right}, ValidationContext()
    ).collect()
    assert {r["key"] for r in rows2} == {"t2", "t3"}


def test_fuzzy_equality_banded_absolute_mode(spark):
    """max_edit_distance uses Spark's banded levenshtein (returns -1 past
    the band): distances above the budget fail, at/below pass."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import FuzzyEqualityConstraint

    left = spark.createDataFrame(
        [("a", "abcdefgh"), ("b", "abcdefgh")], "clip_id string, transcript string"
    )
    right = spark.createDataFrame(
        [("a", "ta", "abcdeXgh"), ("b", "tb", "XXXXXXXX")],
        "clip_id string, transcript_id string, transcript string",
    )
    c = FuzzyEqualityConstraint(
        "clips", "transcript_map", on="clip_id",
        left_col="transcript", right_col="transcript",
        max_edit_distance=2, key_col="transcript_id",
    )
    rows = c.violations(
        {"clips": left, "transcript_map": right}, ValidationContext()
    ).collect()
    assert {r["key"] for r in rows} == {"tb"}
    assert rows[0]["observed"].startswith("edit_distance>2")


def test_fuzzy_equality_hash_screen_precedes_dp(spark):
    """Scale shape: the levenshtein DP sits above a filter on the 8-byte
    hash inequality — canonically-equal rows (the 10^12-scale majority)
    exit at the hash screen and never reach the quadratic step."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import FuzzyEqualityConstraint

    left = spark.createDataFrame(
        [("a", "same text")], "clip_id string, transcript string"
    )
    right = spark.createDataFrame(
        [("a", "t", "same text")],
        "clip_id string, transcript_id string, transcript string",
    )
    c = FuzzyEqualityConstraint(
        "clips", "transcript_map", on="clip_id",
        left_col="transcript", right_col="transcript", key_col="transcript_id",
    )
    plan = c.violations(
        {"clips": left, "transcript_map": right}, ValidationContext()
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "levenshtein" in plan
    assert "xxhash64" in plan
    # the hash-mismatch filter exists independently of the distance filter
    assert plan.count("NOT (") >= 1 or "!=" in plan or "NOT (_lh" in plan


def test_fuzzy_equality_config_factory(spark):
    from unify_spark.plans.config import _build_constraint

    c = _build_constraint(
        {
            "type": "fuzzy_equality",
            "left_table": "clips",
            "right_table": "transcript_map",
            "on": "clip_id",
            "left_col": "transcript",
            "right_col": "transcript",
            "max_norm_edit": 0.2,
            "key_col": "transcript_id",
        }
    )
    assert c.name == "fuzzy_equality:clips.transcript~transcript_map.transcript"
    assert c.max_norm_edit == 0.2


def test_freshness_constraint(spark, audio_tables):
    """Table-grain recency over the fixture's part_date (2025-01-01..08):
    a reference inside the window passes, a later reference goes stale,
    and an empty/all-null table is the stalest state, not a pass."""
    from unify_spark.operators.constraints import FreshnessConstraint

    ctx = ValidationContext(run_id="f")
    fresh = FreshnessConstraint("clips", "part_date", max_age_hours=24, ref="2025-01-08")
    assert fresh.violations(audio_tables, ctx).count() == 0

    stale = FreshnessConstraint("clips", "part_date", max_age_hours=48, ref="2025-02-01")
    rows = stale.violations(audio_tables, ctx).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["key"] == "*" and r["observed"].startswith("2025-01-08")
    assert r["constraint"] == "freshness:clips.part_date"

    empty = {"clips": audio_tables["clips"].filter(F.lit(False))}
    (er,) = FreshnessConstraint(
        "clips", "part_date", max_age_hours=1, ref="2025-01-01"
    ).violations(empty, ctx).collect()
    assert er["observed"] == "no non-null timestamps"


def test_partition_completeness_constraint(spark, audio_tables):
    """Missing and underfilled partitions are violations keyed by the
    partition value; both expectation sources agree; config builds it."""
    from unify_spark.operators.constraints import PartitionCompletenessConstraint
    from unify_spark.plans.config import _build_constraint

    ctx = ValidationContext(run_id="c")
    full = PartitionCompletenessConstraint(
        "clips", expected_range=("2025-01-01", "2025-01-08")
    )
    assert full.partition_grain
    assert full.violations(audio_tables, ctx).count() == 0

    over = PartitionCompletenessConstraint(
        "clips", expected_range=("2025-01-01", "2025-01-10")
    )
    rows = over.violations(audio_tables, ctx).collect()
    assert sorted(r["key"] for r in rows) == ["2025-01-09", "2025-01-10"]
    assert all(r["observed"] == "rows=0" and r["part"] == r["key"] for r in rows)

    explicit = PartitionCompletenessConstraint(
        "clips", expected_parts=["2025-01-03", "2025-01-09"], min_rows=1
    )
    assert [r["key"] for r in explicit.violations(audio_tables, ctx).collect()] == [
        "2025-01-09"
    ]

    underfilled = PartitionCompletenessConstraint(
        "clips", expected_parts=["2025-01-03"], min_rows=10**9
    )
    (u,) = underfilled.violations(audio_tables, ctx).collect()
    assert u["key"] == "2025-01-03" and u["observed"].startswith("rows=") and u["observed"] != "rows=0"

    with pytest.raises(ValueError):
        PartitionCompletenessConstraint("clips")
    with pytest.raises(ValueError):
        PartitionCompletenessConstraint(
            "clips", expected_parts=["x"], expected_range=("a", "b")
        )

    built = _build_constraint(
        {
            "type": "partition_completeness",
            "table": "clips",
            "expected_range": ["2025-01-01", "2025-01-08"],
            "min_rows": 2,
        }
    )
    assert built.expected_range == ("2025-01-01", "2025-01-08") and built.min_rows == 2
    fb = _build_constraint(
        {"type": "freshness", "table": "clips", "ts_col": "part_date",
         "max_age_hours": 24, "ref": "2025-01-08"}
    )
    assert fb.name == "freshness:clips.part_date"


def test_aggregate_consistency_constraint(spark):
    """Cross-table aggregate reconciliation: grouped and global modes,
    one-sided keys read 'absent', NULL group keys pair null-safely,
    tolerances bound the comparison, config builds it."""
    from unify_spark.operators.constraints import AggregateConsistencyConstraint
    from unify_spark.plans.config import _build_constraint

    ctx = ValidationContext(run_id="agg")
    orders = spark.createDataFrame(
        [("o1", 30.0), ("o2", 50.0), ("o3", 10.0), (None, 7.0)],
        "order_id string, total double",
    )
    items = spark.createDataFrame(
        [
            ("o1", 10.0), ("o1", 20.0),            # sums to 30 -> ok
            ("o2", 45.0),                           # 45 != 50 -> violation
            ("o4", 5.0),                            # parent missing -> both sides absent once
            (None, 7.0),                            # NULL key sums to 7 -> ok
        ],
        "order_id string, amount double",
    )
    tables = {"orders": orders, "items": items}

    c = AggregateConsistencyConstraint(
        "items", "sum(amount)", "orders", "sum(total)", on="order_id"
    )
    rows = {r["key"]: (r["observed"], r["expected"]) for r in c.violations(tables, ctx).collect()}
    assert rows == {
        "o2": ("45.0", "50.0"),
        "o3": ("absent", "10.0"),
        "o4": ("5.0", "absent"),
    }
    assert c.aux_tables == ["orders"]

    # tolerance: |45-50| <= abs_tol 5 and <= rel_tol 0.1*50 both pass o2
    for kw in ({"abs_tol": 5.0}, {"rel_tol": 0.1}):
        ct = AggregateConsistencyConstraint(
            "items", "sum(amount)", "orders", "sum(total)", on="order_id", **kw
        )
        keys = {r["key"] for r in ct.violations(tables, ctx).collect()}
        assert keys == {"o3", "o4"}, kw

    # global mode: one '*' row when totals disagree, none when they match
    g = AggregateConsistencyConstraint("items", "count(*)", "orders", "count(*)")
    (gr,) = g.violations(tables, ctx).collect()
    assert gr["key"] == "*" and gr["observed"] == "5.0" and gr["expected"] == "4.0"
    g_ok = AggregateConsistencyConstraint(
        "items", "count(distinct order_id)", "orders", "count(distinct order_id)"
    )
    assert g_ok.violations(tables, ctx).count() == 0

    built = _build_constraint(
        {"type": "agg_consistency", "left_table": "items",
         "left_expr": "sum(amount)", "right_table": "orders",
         "right_expr": "sum(total)", "on": ["order_id"], "rel_tol": 0.01}
    )
    assert built.on == ["order_id"] and built.rel_tol == 0.01
    assert built.name.startswith("agg_consistency:items.sum(amount)")


def test_aggregate_consistency_in_runner(spark, audio_tables, tmp_path):
    """Runs as a suite member: transcript_map must have exactly as many
    distinct clip_ids as it has rows mapping each clip once — here we pin
    the per-partition clips row count against itself via a derived table
    (exact match -> pass) and a corrupted twin (fail)."""
    from pyspark.sql import functions as F

    from unify_spark.operators.constraints import AggregateConsistencyConstraint
    from unify_spark.plans import ValidationRunner

    clips = audio_tables["clips"]
    twin = clips.select("clip_id", "part_date")
    tables = {"clips": clips, "twin": twin}
    ok = ValidationRunner(
        spark, str(tmp_path / "ok"), ValidationContext(run_id="a1", payload_cap_ms=50)
    ).run(
        tables,
        [AggregateConsistencyConstraint("clips", "count(*)", "twin", "count(*)", on="part_date")],
        resume=False,
    )
    assert ok.passed

    dropped = {"clips": clips, "twin": twin.filter(F.col("part_date") != "2025-01-03")}
    bad = ValidationRunner(
        spark, str(tmp_path / "bad"), ValidationContext(run_id="a2", payload_cap_ms=50)
    ).run(
        dropped,
        [AggregateConsistencyConstraint("clips", "count(*)", "twin", "count(*)", on="part_date")],
        resume=False,
    )
    assert not bad.passed
    name = next(iter(bad.violation_counts))
    assert bad.violation_counts[name] == 1  # exactly the dropped partition


def test_aggregate_consistency_survives_resume(spark, tmp_path):
    """Review fix: agg-consistency violations carry part=NULL, outside the
    partition universe — the audit must record that key as a FAIL row so a
    resumed run hydrates the failure instead of flipping the run to
    passing (previously only all-pass universe rows were written)."""
    from unify_spark.operators.constraints import AggregateConsistencyConstraint
    from unify_spark.plans.runner import ValidationRunner

    left = spark.createDataFrame(
        [(f"c{i}", f"p{i % 2}") for i in range(10)], ["clip_id", "part_date"]
    )
    right = spark.createDataFrame([(f"t{i}",) for i in range(7)], ["tid"])
    c = AggregateConsistencyConstraint("clips", "count(*)", "twin", "count(*)")
    tables = {"clips": left, "twin": right}

    for fused in (False, True):
        out = str(tmp_path / f"agg_resume_{fused}")
        ctx = ValidationContext(run_id="ar")
        r1 = ValidationRunner(spark, out, ctx)
        res1 = (r1.run_fused if fused else r1.run)(tables, [c], resume=False)
        assert not res1.passed and res1.violation_counts[c.name] == 1

        r2 = ValidationRunner(spark, out, ValidationContext(run_id="ar"))
        res2 = (r2.run_fused if fused else r2.run)(tables, [c], resume=True)
        assert c.name in res2.skipped
        assert res2.violation_counts[c.name] == 1, "resume must not flip to passing"
        assert not res2.passed


def test_rate_tolerated_dependency_not_gated_on_resume(spark, tmp_path):
    """Review fix: a dependency that passed via max_violation_rate must not
    gate its dependents on resume — rows_checked is restored from the
    stage's 'done' audit marker, keeping the rate denominator."""
    from unify_spark.operators.constraints import (
        RangeConstraint,
        RequiredConstraint,
    )
    from unify_spark.plans.runner import ValidationRunner

    rows = [(f"c{i}", 100 if i else -5, "p0") for i in range(100)]  # 1 violation
    df = spark.createDataFrame(rows, ["clip_id", "dur_ms", "part_date"])
    dep = RangeConstraint("clips", "dur_ms", min_value=0, max_value=30000)
    dep.max_violation_rate = 0.05  # 1/100 tolerated
    child = RequiredConstraint("clips", ["clip_id"])
    child.depends_on = [dep.name]
    tables = {"clips": df}

    out = str(tmp_path / "rate_dep")
    res1 = ValidationRunner(spark, out, ValidationContext(run_id="rd")).run(
        tables, [dep, child], resume=False
    )
    assert res1.gated == {} and res1.passed  # tolerated dep never gates

    # resume with everything done: the hydrated dep must STILL not gate
    res2 = ValidationRunner(spark, out, ValidationContext(run_id="rd")).run(
        tables, [dep, child], resume=True
    )
    assert res2.gated == {}, "hydrated rate-tolerated dep must not gate"
    assert sorted(res2.skipped) == sorted([dep.name, child.name])
    assert res2.rows_checked[dep.name] == 100  # denominator restored
