"""Schema-DSL compiler + metaschema emission — parity with unify's
compile-schema task and datomic metaschema generator.

The reference compiles a concise EDN DSL (kind → {id, parent, attributes})
into three artifacts — schema.edn, metamodel.edn, enums.edn
(src/com/vendekagonlabs/unify/db/schema/compile.clj:101-212) — and derives a
query metaschema of {tables, joins}
(src/com/vendekagonlabs/unify/db/schema/compile/metaschema.clj:34-62).

Here the DSL is the same shape in YAML/JSON, the compiled artifact is the
``Metamodel`` (the planner input for ``compile_constraints``), and the three
files become schema.json / metamodel.json / enums.json.

DSL grammar (mirroring compile.clj:13-62's spec):

    subject:
      id: {attribute: sid, type: string, scope: context}
      parent: dataset
      attributes:
        - [age, long, one, "age in years"]
        - [sex, {enum_of: [m, f]}, one, "sex code"]
        - [primary_sample, {ref_to: sample}, one, "main sample"]
        - [coord, {tuple_of: [string, long]}, one, "genomic coordinate"]

Attribute defs are 4-vectors [name, type, cardinality, doc]; type is a
simple type name or one of {enum_of, ref_to, tuple_of}; cardinality is
one|many; scope is global|context (compile.clj:118-135's two id arms).
"""

from __future__ import annotations

import json
import os

from unify_spark.schema.model import (
    _TYPE_MAP,
    AttributeSpec,
    KindSchema,
    Metamodel,
)

_SIMPLE_TYPES = set(_TYPE_MAP) | {"bigint", "bigdec"}
_CARDINALITIES = {"one", "many"}
_ID_SCOPES = {"global", "context"}


def _err(msg: str) -> ValueError:
    return ValueError(
        "Unify schema definition did not match spec!\n"
        "Provide a map of entity kind names to defs, which must contain an id, "
        "typically contain a vector of attributes, and possibly name a parent "
        "entity.\nAttribute defs are [attr-name attr-type cardinality doc-string].\n"
        f"Spec failure: {msg}"
    )


def _norm_type(t: str) -> str:
    return {"bigint": "long", "bigdec": "decimal"}.get(t, t)


def _compile_attribute(kind: str, spec) -> AttributeSpec:
    if not (isinstance(spec, (list, tuple)) and len(spec) == 4):
        raise _err(f"{kind}: attribute def {spec!r} is not a 4-vector")
    name, atype, card, doc = spec
    if card not in _CARDINALITIES:
        raise _err(f"{kind}.{name}: cardinality {card!r} not in {sorted(_CARDINALITIES)}")
    base = dict(name=name, cardinality=card, doc=doc)
    if isinstance(atype, str):
        if atype not in _SIMPLE_TYPES:
            raise _err(f"{kind}.{name}: unknown type {atype!r}")
        return AttributeSpec(dtype=_norm_type(atype), **base)
    if isinstance(atype, dict):
        if "enum_of" in atype:
            return AttributeSpec(dtype="keyword", enum_domain=[str(v) for v in atype["enum_of"]], **base)
        if "ref_to" in atype:
            return AttributeSpec(dtype="string", ref_to=str(atype["ref_to"]), **base)
        if "tuple_of" in atype:
            types = [_norm_type(t) for t in atype["tuple_of"]]
            bad = [t for t in types if t not in _SIMPLE_TYPES]
            if bad:
                raise _err(f"{kind}.{name}: unknown tuple member types {bad}")
            return AttributeSpec(dtype="string", tuple_types=types, **base)
    raise _err(f"{kind}.{name}: type def {atype!r} is none of simple/enum_of/ref_to/tuple_of")


def compile_schema(dsl: dict) -> Metamodel:
    """DSL document → Metamodel (compile.clj ->raw-schema analogue).
    Validation errors raise with the reference's message shape
    (compile.clj:68-76 validate!)."""
    if not isinstance(dsl, dict) or not dsl:
        raise _err("top level must be a non-empty map of kind -> def")
    kinds: dict[str, KindSchema] = {}
    for kind, kdef in dsl.items():
        if not isinstance(kdef, dict) or "id" not in kdef:
            raise _err(f"kind {kind!r} has no id")
        idd = kdef["id"]
        for req in ("attribute", "type", "scope"):
            if req not in idd:
                raise _err(f"kind {kind!r} id is missing {req!r}")
        if idd["scope"] not in _ID_SCOPES:
            raise _err(
                f"kind {kind!r}: only {sorted(_ID_SCOPES)} id scopes supported, "
                f"got {idd['scope']!r}"
            )
        attrs = [_compile_attribute(kind, a) for a in kdef.get("attributes", [])]
        id_attr = AttributeSpec(
            name=idd["attribute"],
            dtype=_norm_type(idd["type"]),
            required=True,
            unique=idd["scope"] == "global",
            doc=idd.get("doc", f"ID field with scope {idd['scope']} for entity {kind}"),
        )
        kinds[kind] = KindSchema(
            kind=kind,
            attributes=[id_attr] + attrs,
            parent=kdef.get("parent"),
            id_attr=idd["attribute"],
            id_scope=idd["scope"],
        )
    mm = Metamodel(kinds=kinds)
    for kind, ks in kinds.items():
        if ks.parent and ks.parent not in kinds:
            raise _err(f"kind {kind!r} names unknown parent {ks.parent!r}")
        for a in ks.attributes:
            if a.ref_to and a.ref_to not in kinds:
                raise _err(f"{kind}.{a.name}: ref_to unknown kind {a.ref_to!r}")
    return mm


def metaschema(mm: Metamodel) -> dict:
    """{tables, joins} query metaschema (metaschema.clj:34-62):
    tables — one entry per kind keyed by its (namespaced) unique id attr, or
    an explicit no-unique-id error marker; joins — every ref attribute
    mapped to its target kind."""
    tables: dict[str, dict] = {}
    joins: dict[str, str] = {}
    for kind, ks in mm.kinds.items():
        if ks.id_attr:
            tables[f"{kind}.{ks.id_attr}"] = {}
        else:
            tables[f"unify.error/no-unique-id:{kind}"] = {}
        for a in ks.attributes:
            if a.ref_to:
                joins[f"{kind}.{a.name}"] = a.ref_to
    return {"tables": tables, "joins": joins}


def enums(mm: Metamodel) -> dict:
    """enums.edn analogue: every closed domain, namespaced by kind.attr
    (compile.clj:159-164)."""
    return {
        f"{kind}.{a.name}": list(a.enum_domain)
        for kind, ks in mm.kinds.items()
        for a in ks.attributes
        if a.enum_domain
    }


def write_schema_dir(mm: Metamodel, out_dir: str) -> dict[str, str]:
    """Emit the three compiled artifacts (compile.clj write-schema-dir!,
    file_name_lookup :188-212): schema.json (per-kind Spark struct fields),
    metamodel.json (the full Metamodel), enums.json (closed domains).
    Returns {artifact: path}."""
    from unify_spark.schema.model import to_struct_type

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    schema_doc = {
        kind: json.loads(to_struct_type(ks).json()) for kind, ks in mm.kinds.items()
    }
    for name, payload in (
        ("schema.json", schema_doc),
        ("enums.json", enums(mm)),
        ("metaschema.json", metaschema(mm)),
    ):
        p = os.path.join(out_dir, name)
        with open(p, "w") as f:
            json.dump(payload, f, indent=2, sort_keys=True)
        paths[name] = p
    p = os.path.join(out_dir, "metamodel.json")
    with open(p, "w") as f:
        f.write(mm.to_json())
    paths["metamodel.json"] = p
    return paths


def load_dsl(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)
