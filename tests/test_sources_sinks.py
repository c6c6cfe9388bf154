"""Sources (lineage CSV, NA normalization, column contract), run
retraction and the Iceberg adapter's dispatch."""

import os
import time

import pytest

from unify_spark.sources import (
    check_required_columns,
    normalize_na,
    read_csv_with_lineage,
)
from unify_spark.sources.readers import MissingColumnsError
from unify_spark.sources.sinks import retract_run


def test_csv_lineage_and_trim(spark, tmp_path):
    p = tmp_path / "in.tsv"
    p.write_text("id\tname\n1\t  alice  \n2\tbob\n")
    df = read_csv_with_lineage(spark, str(p), sep="\t")
    rows = df.orderBy("id").collect()
    assert rows[0]["name"] == "alice"  # whitespace trim (engine.clj:60-75)
    assert rows[0]["_source_file"].endswith("in.tsv")
    assert rows[0]["_row_index"] != rows[1]["_row_index"]


def test_column_contract(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    check_required_columns(df, ["a"])
    with pytest.raises(MissingColumnsError) as e:
        check_required_columns(df, ["a", "missing_col"], source="test.tsv")
    assert "missing_col" in str(e.value) and "test.tsv" in str(e.value)


def test_normalize_na(spark):
    df = spark.createDataFrame([("NA", "keep"), ("", "N/A")], ["x", "y"])
    out = normalize_na(df).collect()
    assert out[0]["x"] is None and out[0]["y"] == "keep"
    assert out[1]["x"] is None and out[1]["y"] is None


def test_retract_run(spark, audio_tables, tmp_path):
    from unify_spark.operators.base import ValidationContext
    from unify_spark.plans import ValidationRunner, audio_suite

    out = str(tmp_path / "run_out")
    runner = ValidationRunner(
        spark,
        out,
        ValidationContext(
            run_id="to-retract", payload_cap_ms=50, collect_violating_keys=True
        ),
    )
    runner.run_fused(audio_tables, audio_suite(), resume=False)
    assert runner.audit.completed_constraints("to-retract")
    assert os.path.exists(os.path.join(out, "violations"))
    assert os.path.exists(os.path.join(out, "violating_keys"))
    removed = retract_run(spark, out, "to-retract")
    assert removed > 0
    # retraction makes the run resumable-from-scratch again
    assert runner.audit.completed_constraints("to-retract") == set()
    # and its evidence and violating keys are gone: a retracted run's keys
    # must not drive split_valid
    assert not os.path.exists(os.path.join(out, "violations"))
    assert not os.path.exists(os.path.join(out, "violating_keys"))


def _audit_files(audit_dir):
    """{file name: bytes} of an audit directory."""
    out = {}
    for f in sorted(os.listdir(audit_dir)):
        with open(os.path.join(audit_dir, f), "rb") as fh:
            out[f] = fh.read()
    return out


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"retract-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_retract_is_per_run(spark, tmp_path):
    """Retracting the middle of three runs in one out dir removes only its
    audit files: the other runs' files keep their names and bytes, they
    still resume as done, and no Spark job starts."""
    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.constraints import RangeConstraint
    from unify_spark.plans import ValidationRunner
    from unify_spark.plans.audit import AuditLog

    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(30)], "x long, part_date string"
    )
    suite = [RangeConstraint("t", "x", min_value=0, max_value=20)]
    out = str(tmp_path / "out")
    audit_dir = os.path.join(out, "audit")
    files = {}
    for run in ("A", "B", "C"):
        before = set(os.listdir(audit_dir)) if os.path.exists(audit_dir) else set()
        ValidationRunner(spark, out, ValidationContext(run_id=run)).run(
            {"t": df}, suite, resume=False
        )
        files[run] = set(os.listdir(audit_dir)) - before
    audit = AuditLog(spark, audit_dir)
    done = {r: audit.completed_constraints(r) for r in ("A", "C")}
    assert done["A"] == done["C"] == {suite[0].name}
    n_b = audit.read().where("run_id = 'B'").count()
    snapshot = _audit_files(audit_dir)

    removed, jobs = _jobs_started(spark, lambda: retract_run(spark, out, "B"))
    assert removed == n_b > 0
    assert jobs == 0
    assert _audit_files(audit_dir) == {
        f: b for f, b in snapshot.items() if f in files["A"] | files["C"]
    }
    assert audit.completed_constraints("B") == set()
    assert {r: audit.completed_constraints(r) for r in ("A", "C")} == done


def test_retract_rewrites_legacy_mixed_audit_file(spark, tmp_path):
    """An audit directory as an earlier retract left it: one Spark-written
    file holding runs A and C. Retracting A rewrites that file without A's
    rows, keeps every C row, and leaves no temp file or stale checksum."""
    from unify_spark.plans.audit import AuditLog

    staged = AuditLog(spark, str(tmp_path / "staged"))
    for run, n in (("A", 3), ("C", 2)):
        staged.append(
            [{"run_id": run, "constraint": "c", "part": f"p{i}", "status": "pass",
              "violation_count": 0} for i in range(n)]
        )
        staged.append([{"run_id": run, "constraint": "c", "status": "done"}])
    out = str(tmp_path / "out")
    audit_dir = os.path.join(out, "audit")
    staged.read().coalesce(1).write.mode("overwrite").parquet(audit_dir)
    audit = AuditLog(spark, audit_dir)
    cols = ["run_id", "constraint", "part", "status", "ts", "batch_id"]
    c_rows = sorted(audit.rows(cols, "C"), key=str)

    assert retract_run(spark, out, "A") == 4
    assert sorted(audit.rows(cols), key=str) == c_rows
    assert audit.completed_constraints("C") == {"c"}
    assert audit.read().count() == 3  # Spark still reads the rewritten file
    leftovers = [
        f for f in os.listdir(audit_dir)
        if f.startswith((".", "_")) and "SUCCESS" not in f
    ]
    assert leftovers == []


def test_spark_submit_pyfiles_deployment(tmp_path):
    """The north-rule deployment path: package the engine with
    scripts/build_pyfiles.sh and run a constraint job via
    `spark-submit --py-files dist/unify_spark.zip job.py` in a fresh JVM —
    proves the zip is import-complete (no repo-checkout dependence)."""
    import shutil
    import subprocess

    # pyspark ships its own launcher scripts — prefer them so the contract
    # is exercised even on hosts where spark-submit isn't on PATH
    import pyspark

    bundled = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
    spark_submit = bundled if os.access(bundled, os.X_OK) else shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not found (pyspark bin or PATH)")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        ["bash", os.path.join(repo, "scripts", "build_pyfiles.sh")],
        check=True, capture_output=True,
    )
    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "from unify_spark.operators.base import ValidationContext\n"
        "from unify_spark.operators.constraints import RangeConstraint\n"
        "df = spark.createDataFrame([('c1', -5.0), ('c2', 1.0)], ['clip_id', 'val'])\n"
        "v = RangeConstraint('clips', 'val', min_value=0.0).violations({'clips': df}, ValidationContext())\n"
        "assert v.count() == 1\n"
        "print('PYFILES-DEPLOY-OK')\n"
        "spark.stop()\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--py-files", os.path.join(repo, "dist", "unify_spark.zip"), str(job)],
        capture_output=True, text=True, timeout=240, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "PYFILES-DEPLOY-OK" in proc.stdout


def test_iceberg_adapter_dispatch_and_sql(spark, tmp_path):
    """The Iceberg seam as a tested dual path: catalog detection from conf
    keys, the exact DELETE statement the catalog path emits, and the
    parquet shim handling appends in this jar-free sandbox."""
    from unify_spark.sources import iceberg as ice

    # no catalog configured here → everything routes to the shim
    assert ice.iceberg_catalogs(spark) == []

    # detection rule, unit-tested via injected conf
    confs = {
        "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.lake.type": "rest",           # nested key: not a catalog
        "spark.sql.catalog.hive": "org.apache.spark.sql.hive.SomeCatalog",  # not iceberg
    }
    assert ice.iceberg_catalogs(spark, confs=confs) == ["lake"]

    # dispatch rule between catalog identifiers and paths
    assert ice.is_table_identifier("lake.audit.runs")
    assert not ice.is_table_identifier("/data/audit")
    assert not ice.is_table_identifier("audit.parquet")
    # execution routing is a WHITELIST on configured catalog names: a
    # relative filesystem target like audit.json / out.db must keep
    # routing to the shim even though its suffix isn't blacklisted
    assert ice.is_table_identifier("lake.audit.runs", catalogs=["lake"])
    assert not ice.is_table_identifier("audit.json", catalogs=["lake"])
    assert not ice.is_table_identifier("out.db", catalogs=["lake"])
    assert not ice.is_table_identifier("hive.db.t", catalogs=["lake"])
    assert ice.routes_to_catalog(spark, "anything.at.all") is False  # no catalog here
    # an Iceberg-aware SESSION catalog (SparkSessionCatalog on
    # spark_catalog) resolves plain db.table identifiers — they must
    # route to the catalog, not to a parquet dir literally named
    # "db.audit"; file-shaped names and 3-part foreign catalogs keep
    # their routing
    sess = ["spark_catalog"]
    assert ice.is_table_identifier("db.audit", catalogs=sess)
    assert ice.is_table_identifier("spark_catalog.db.audit", catalogs=sess)
    assert not ice.is_table_identifier("audit.json", catalogs=sess)
    assert not ice.is_table_identifier("other.db.t", catalogs=sess)
    assert not ice.is_table_identifier("db.audit", catalogs=["lake"])

    # the statement the catalog path executes, asserted verbatim —
    # identifiers backtick-quoted so user-supplied names never parse as SQL
    assert ice.delete_run_sql("lake.audit.runs", "r'1") == (
        "DELETE FROM `lake`.`audit`.`runs` WHERE run_id = 'r''1'"
    )

    # shim execution: append twice → rows double
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    ice.append_rows(spark, df, p)
    ice.append_rows(spark, df, p)
    assert spark.read.parquet(p).count() == 4
