"""Schema + metamodel data model (SURVEY §1): the declarative layer that the
constraint planner compiles.

Mirrors unify's three compiled artifacts — schema.edn (attributes),
metamodel.edn (kind tree, id scopes, refs), enums.edn (closed domains) —
(reference src/com/vendekagonlabs/unify/db/schema/compile.clj:184-212) as one
JSON-serializable dataclass family, with a compiler to Spark ``StructType``.

Identity model parity (reference SURVEY §1.4):
- global ids → ``id_scope='global'`` (unique across the table universe)
- context ids → ``id_scope='context'``; the engine synthesizes a UID as
  ``concat_ws('|:~', *ancestor ids)`` like unify's UID tuples
  (src/com/vendekagonlabs/unify/import/engine/parse/data.clj:130-188), with
  ``md5`` hashing available for length-bounded sinks (tx_data.clj:67-85).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

UID_SEP = "|:~"  # unify's UID path delimiter (data.clj:66)
COMPOSITE_SEP = "-"  # synthetic composite id join (metamodel.clj:94-111)

_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "decimal": T.DecimalType(38, 18),
    "boolean": T.BooleanType(),
    "instant": T.TimestampType(),
    "keyword": T.StringType(),  # enums: string + domain constraint
    "uuid": T.StringType(),
    "uri": T.StringType(),
    "symbol": T.StringType(),
    "bytes": T.BinaryType(),
}


@dataclass
class AttributeSpec:
    name: str
    dtype: str  # key of _TYPE_MAP
    cardinality: str = "one"  # one | many  (many → ArrayType)
    required: bool = False
    unique: bool = False
    doc: str = ""
    enum_domain: list[str] | None = None
    ref_to: str | None = None  # kind name this attr references
    min_value: float | None = None
    max_value: float | None = None
    # heterogeneous tuple attribute (compile.clj ::tuple-of): member types in
    # order; compiles to a StructType with positional fields (_0, _1, ...)
    tuple_types: list[str] | None = None

    def spark_type(self) -> T.DataType:
        if self.tuple_types:
            base: T.DataType = T.StructType(
                [
                    T.StructField(f"_{i}", _TYPE_MAP[t], True)
                    for i, t in enumerate(self.tuple_types)
                ]
            )
        else:
            base = _TYPE_MAP[self.dtype]
        return T.ArrayType(base) if self.cardinality == "many" else base


@dataclass
class KindSchema:
    """One entity kind = one table (the metaschema projection the reference
    derives in src/com/vendekagonlabs/unify/db/schema/compile/metaschema.clj:34-62)."""

    kind: str
    attributes: list[AttributeSpec] = field(default_factory=list)
    parent: str | None = None
    id_attr: str | None = None
    id_scope: str = "global"  # global | context
    composite_id_components: list[str] | None = None
    partition_attr: str | None = None

    def attribute(self, name: str) -> AttributeSpec:
        for a in self.attributes:
            if a.name == name:
                return a
        raise KeyError(name)


@dataclass
class Metamodel:
    kinds: dict[str, KindSchema] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {k: asdict(v) for k, v in self.kinds.items()}, indent=2, sort_keys=True
        )

    @classmethod
    def from_json(cls, s: str) -> "Metamodel":
        raw = json.loads(s)
        kinds = {}
        for k, v in raw.items():
            attrs = [AttributeSpec(**a) for a in v.pop("attributes")]
            kinds[k] = KindSchema(attributes=attrs, **v)
        return cls(kinds=kinds)


def to_struct_type(kind: KindSchema) -> T.StructType:
    return T.StructType(
        [
            T.StructField(a.name, a.spark_type(), nullable=not a.required)
            for a in kind.attributes
        ]
    )


def context_uid(*id_cols: str | Column) -> Column:
    """Context-scoped UID: ancestors-first path join (data.clj:130-188)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in id_cols]
    return F.concat_ws(UID_SEP, *cols)


def hashed_uid(*id_cols: str | Column) -> Column:
    """UID with the path element md5-hashed, unify's 256-char workaround
    (tx_data.clj:67-85): (first, md5(rest-joined))."""
    cols = [F.col(c) if isinstance(c, str) else c for c in id_cols]
    return F.concat_ws(UID_SEP, cols[0], F.md5(F.concat_ws(UID_SEP, *cols[1:])))


def composite_id(*component_cols: str | Column) -> Column:
    """Synthetic composite id (data.clj:504-530)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in component_cols]
    return F.concat_ws(COMPOSITE_SEP, *[c.cast("string") for c in cols])
