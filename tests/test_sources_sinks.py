"""Sources (lineage CSV, NA normalization, column contract), run
retraction and the Iceberg adapter's dispatch."""

import os

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
