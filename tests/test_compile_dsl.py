"""compile-schema / infer-metaschema parity (compile.clj:184-212,
metaschema.clj:34-62): DSL → Metamodel → artifacts roundtrip, constraint
compilation from a compiled DSL, and tables/joins emission."""

import json

import pytest
import yaml

from unify_spark.schema.compile_dsl import (
    compile_schema,
    enums,
    load_dsl,
    metaschema,
    write_schema_dir,
)
from unify_spark.schema.model import Metamodel

DSL = {
    "dataset": {
        "id": {"attribute": "name", "type": "string", "scope": "global"},
    },
    "subject": {
        "id": {"attribute": "sid", "type": "string", "scope": "context"},
        "parent": "dataset",
        "attributes": [
            ["age", "long", "one", "age in years"],
            ["sex", {"enum_of": ["m", "f"]}, "one", "sex code"],
        ],
    },
    "sample": {
        "id": {"attribute": "smid", "type": "string", "scope": "context"},
        "parent": "subject",
        "attributes": [
            ["subject_ref", {"ref_to": "subject"}, "one", "owning subject"],
            ["coord", {"tuple_of": ["string", "long"]}, "one", "locus"],
            ["aliases", "string", "many", "alternate ids"],
        ],
    },
}


def test_compile_schema_builds_metamodel():
    mm = compile_schema(DSL)
    assert set(mm.kinds) == {"dataset", "subject", "sample"}
    subj = mm.kinds["subject"]
    assert subj.id_attr == "sid" and subj.id_scope == "context" and subj.parent == "dataset"
    assert subj.attribute("sex").enum_domain == ["m", "f"]
    samp = mm.kinds["sample"]
    assert samp.attribute("subject_ref").ref_to == "subject"
    assert samp.attribute("coord").tuple_types == ["string", "long"]
    assert samp.attribute("coord").spark_type().simpleString() == "struct<_0:string,_1:bigint>"
    assert samp.attribute("aliases").spark_type().simpleString() == "array<string>"
    # global id attrs are unique; context ids are not globally unique
    assert mm.kinds["dataset"].attribute("name").unique
    assert not subj.attribute("sid").unique


def test_metaschema_tables_and_joins():
    mm = compile_schema(DSL)
    ms = metaschema(mm)
    assert ms["tables"] == {"dataset.name": {}, "subject.sid": {}, "sample.smid": {}}
    assert ms["joins"] == {"sample.subject_ref": "subject"}
    assert enums(mm) == {"subject.sex": ["m", "f"]}


def test_metaschema_no_unique_id_marker():
    mm = compile_schema(DSL)
    mm.kinds["subject"].id_attr = None
    assert "unify.error/no-unique-id:subject" in metaschema(mm)["tables"]


def test_write_schema_dir_roundtrip(tmp_path):
    mm = compile_schema(DSL)
    paths = write_schema_dir(mm, str(tmp_path / "artifacts"))
    assert set(paths) == {"schema.json", "metamodel.json", "enums.json", "metaschema.json"}
    with open(paths["metamodel.json"]) as f:
        mm2 = Metamodel.from_json(f.read())
    assert mm2.to_json() == mm.to_json()
    with open(paths["schema.json"]) as f:
        schema = json.load(f)
    assert {f_["name"] for f_ in schema["subject"]["fields"]} == {"sid", "age", "sex"}


def test_compiled_dsl_feeds_constraint_planner():
    from unify_spark.plans.compile import compile_constraints

    mm = compile_schema(DSL)
    names = {c.name for c in compile_constraints(mm)}
    assert "uniqueness:dataset.name" in names
    assert "referential:sample.subject_ref->subject.sid" in names
    assert "domain:subject.sex" in names


def test_dsl_validation_errors():
    with pytest.raises(ValueError, match="no id"):
        compile_schema({"k": {"attributes": []}})
    with pytest.raises(ValueError, match="id scopes"):
        compile_schema({"k": {"id": {"attribute": "x", "type": "string", "scope": "local"}}})
    with pytest.raises(ValueError, match="4-vector"):
        compile_schema({"k": {"id": {"attribute": "x", "type": "string", "scope": "global"},
                              "attributes": [["a", "long", "one"]]}})
    with pytest.raises(ValueError, match="unknown type"):
        compile_schema({"k": {"id": {"attribute": "x", "type": "string", "scope": "global"},
                              "attributes": [["a", "blob", "one", "d"]]}})
    with pytest.raises(ValueError, match="unknown parent"):
        compile_schema({"k": {"id": {"attribute": "x", "type": "string", "scope": "global"},
                              "parent": "ghost"}})
    with pytest.raises(ValueError, match="ref_to unknown kind"):
        compile_schema({"k": {"id": {"attribute": "x", "type": "string", "scope": "global"},
                              "attributes": [["r", {"ref_to": "ghost"}, "one", "d"]]}})


def test_cli_compile_schema_and_infer_metaschema(tmp_path, capsys):
    from unify_spark import cli

    dsl_path = str(tmp_path / "schema.yaml")
    with open(dsl_path, "w") as f:
        yaml.safe_dump(DSL, f)
    out_dir = str(tmp_path / "artifacts")
    assert cli.main(["compile-schema", "--dsl", dsl_path, "--out", out_dir]) == 0
    capsys.readouterr()
    assert cli.main(["infer-metaschema", "--metamodel", f"{out_dir}/metamodel.json"]) == 0
    ms = json.loads(capsys.readouterr().out)
    assert ms["joins"] == {"sample.subject_ref": "subject"}


def test_load_dsl_yaml(tmp_path):
    p = str(tmp_path / "s.yml")
    with open(p, "w") as f:
        yaml.safe_dump(DSL, f)
    assert compile_schema(load_dsl(p)).kinds.keys() == DSL.keys()
