"""Table layouts: the KijiMR data model expressed as Spark schemas.

The reference declares tables in a JSON layout (locality groups → families →
columns, each column an Avro schema; see
``kiji-mapreduce/src/test/resources/org/kiji/mapreduce/layout/test.json:20-93``
in the reference). We accept the same *concepts* in a simplified JSON dialect
and compile them to a ``StructType``:

- group-type family  -> struct column, one field per qualifier
- map-type family    -> ``map<string, cells>`` column
- every cell         -> versioned: ``array<struct<ts: long, value: T>>``
                        kept sorted descending by ``ts`` (newest first)
- entity id          -> ``entity_id`` struct of typed components plus a
                        derived binary ``_key_hash`` for salting / range
                        partitioning (HASH / HASH_PREFIX / FORMATTED / RAW
                        encodings — reference
                        ``.../output/HFileMapReduceJobOutput.java:201-216``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Avro primitive names -> Spark types (reference stores Avro-typed cells;
# SURVEY.md §1.2).
_AVRO_TO_SPARK: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
    "counter": LongType(),
}

ROW_KEY_FORMATS = ("RAW", "HASH", "HASH_PREFIX", "FORMATTED")


def cell_type(value_type: DataType) -> ArrayType:
    """Versioned-cell type: array<struct<ts:long, value:T>>, newest first."""
    return ArrayType(
        StructType([
            StructField("ts", LongType(), False),
            StructField("value", value_type, True),
        ])
    )


def _resolve_type(schema: str | dict | list | DataType) -> DataType:
    """Resolve a cell schema declaration to a Spark type.

    Accepted forms (mirroring the reference's Avro cell schemas,
    ``KijiCellRewriter.java:250-269`` / ``cell-rewriter.avdl:23-52``):

    - Avro primitive name: ``"long"``, ``"string"``, ... (+ ``counter``)
    - Avro record dict: ``{"type": "record", "fields": [{"name": ...,
      "type": ...}, ...]}``  -> struct (fields nullable)
    - Avro array/map dict: ``{"type": "array", "items": ...}`` /
      ``{"type": "map", "values": ...}``
    - Avro optional union: ``["null", X]`` -> X (cells are nullable
      already); multi-branch unions must be declared as a record of
      optional fields (Spark has no native tagged union)
    - a Spark ``DataType``, or a Spark DDL string
      (``"struct<a:bigint,b:string>"``) — which is what ``to_json``
      emits for programmatic types, so layouts round-trip
    """
    if isinstance(schema, DataType):
        return schema
    if isinstance(schema, list):
        branches = [s for s in schema if s != "null"]
        if len(branches) == 1:
            return _resolve_type(branches[0])
        raise ValueError(
            f"multi-branch union {schema!r}: declare a record of optional "
            "fields instead (Spark has no tagged union)")
    if isinstance(schema, dict):
        kind = schema.get("type")
        if kind == "record":
            return StructType([
                StructField(f["name"], _resolve_type(f["type"]), True)
                for f in schema.get("fields", [])
            ])
        if kind == "array":
            return ArrayType(_resolve_type(schema["items"]))
        if kind == "map":
            return MapType(StringType(), _resolve_type(schema["values"]))
        raise ValueError(f"unsupported complex cell schema {schema!r}")
    if schema in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[schema]
    try:
        return _parse_simple_string(schema)
    except Exception:
        raise ValueError(
            f"unsupported cell schema {schema!r}; expected an Avro "
            f"primitive ({sorted(_AVRO_TO_SPARK)}), a record/array/map "
            "dict, a Spark DataType, or a Spark simpleString type"
        ) from None


_SIMPLE_PRIMITIVES: dict[str, DataType] = {
    "tinyint": ByteType(), "smallint": ShortType(), "int": IntegerType(),
    "bigint": LongType(), "float": FloatType(), "double": DoubleType(),
    "string": StringType(), "boolean": BooleanType(), "binary": BinaryType(),
    "date": DateType(), "timestamp": TimestampType(),
}


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside <...> or (...)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _parse_simple_string(s: str) -> DataType:
    """Parse Spark ``DataType.simpleString()`` syntax without a session
    (``DataType.fromDDL`` needs a live JVM; layouts must parse at import
    / CLI time). Covers what ``to_json`` can emit: primitives,
    decimal(p,s), struct<...>, array<...>, map<...>."""
    s = s.strip()
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_top_level(s[len("struct<"):-1]):
            name, _, sub = part.partition(":")
            fields.append(StructField(name.strip(),
                                      _parse_simple_string(sub), True))
        return StructType(fields)
    if s.startswith("array<") and s.endswith(">"):
        return ArrayType(_parse_simple_string(s[len("array<"):-1]))
    if s.startswith("map<") and s.endswith(">"):
        k, v = _split_top_level(s[len("map<"):-1])
        return MapType(_parse_simple_string(k), _parse_simple_string(v))
    if s.startswith("decimal(") and s.endswith(")"):
        p, sc = s[len("decimal("):-1].split(",")
        return DecimalType(int(p), int(sc))
    if s == "decimal":
        return DecimalType()
    return _SIMPLE_PRIMITIVES[s]  # KeyError -> ValueError upstream


@dataclass
class ColumnSpec:
    name: str
    schema: str | DataType = "string"
    max_versions: int | None = None


@dataclass
class FamilySpec:
    """A column family: 'group' (declared qualifiers) or 'map' (dynamic)."""

    name: str
    kind: str = "group"  # 'group' | 'map'
    columns: list[ColumnSpec] = field(default_factory=list)
    map_schema: str | DataType = "string"
    max_versions: int = 1
    ttl_seconds: int | None = None

    def spark_type(self) -> DataType:
        if self.kind == "map":
            return MapType(StringType(), cell_type(_resolve_type(self.map_schema)))
        return StructType([
            StructField(c.name, cell_type(_resolve_type(c.schema)), True)
            for c in self.columns
        ])


@dataclass
class RowKeySpec:
    """Entity-id encoding. ``components`` are (name, type) pairs for
    FORMATTED keys; RAW/HASH/HASH_PREFIX take a single component."""

    format: str = "FORMATTED"
    components: list[tuple[str, str | DataType]] = field(
        default_factory=lambda: [("key", "string")]
    )
    hash_prefix_bytes: int = 2

    def __post_init__(self):
        if self.format not in ROW_KEY_FORMATS:
            raise ValueError(f"row key format must be one of {ROW_KEY_FORMATS}")

    def spark_type(self) -> StructType:
        return StructType([
            StructField(n, _resolve_type(t), False) for n, t in self.components
        ])

    def key_expr(self, prefix: str = "entity_id"):
        """String packing of the components (the sortable logical key).

        Injective via a prefix-free escape: inside values ``\\x01`` is
        the escape byte (``\\x01`` -> ``\\x01\\x03``, ``\\x00`` ->
        ``\\x01\\x02``), so the ``\\x00`` separator can never appear in
        an escaped payload; a NULL component encodes as the bare
        ``\\x01`` (concat_ws would silently DROP it, conflating
        ('a', NULL, 'x') with ('a', 'x', NULL) — r5 review finding),
        which no escaped value can equal (a value's every ``\\x01``
        carries a following ``\\x02``/``\\x03``). The r13 review broke
        the previous ``\\x00\\x02`` scheme with two concrete collisions
        — pack(['a', None]) == pack(['a', '\\x01']) and
        pack(['p\\x00', '\\x02z']) == pack(['p', '\\x02\\x00z']) — both
        distinct under this coding, and the escape is order-preserving.
        Clean scalar components (the overwhelmingly common case, and
        everything the oracle SQL mirrors) still render as the bare
        Spark cast, unchanged."""
        return self.pack([F.col(f"{prefix}.{n}").cast("string")
                          for n, _ in self.components])

    @staticmethod
    def pack(string_cols) -> "F.Column":
        """Escape + join already-cast string components — shared by
        ``key_expr`` and ``EntityTable.get``, which packs its key
        literals for the shared bucket expression
        ``EntityTable._bucket_for``, so both always produce identical
        packed keys. Escape-char first, then the separator byte: the
        reverse order would double-escape."""
        cols = [F.coalesce(
            F.replace(F.replace(c, F.lit("\x01"), F.lit("\x01\x03")),
                      F.lit("\x00"), F.lit("\x01\x02")),
            F.lit("\x01"))
            for c in string_cols]
        return F.concat_ws("\x00", *cols)

    def hash_expr(self, prefix: str = "entity_id"):
        """Derived binary hash column used for salting / even range
        partitioning, mirroring HASH/HASH_PREFIX row-key encodings."""
        return self.hash_of(self.key_expr(prefix))

    def hash_of(self, packed):
        """The hash encoding applied to an already-packed key column —
        shared by row-column hashing and point-lookup bucket routing (so
        both always render components with the same Spark casts)."""
        if self.format == "HASH":
            return F.unhex(F.md5(packed))
        if self.format == "HASH_PREFIX":
            n_hex = 2 * self.hash_prefix_bytes
            return F.unhex(
                F.concat(F.substring(F.md5(packed), 1, n_hex), F.hex(packed))
            )
        return F.encode(packed, "UTF-8")  # RAW / FORMATTED: byte order = key order


@dataclass
class TableLayout:
    """A table layout: row key + families. Compiles to a Spark StructType."""

    name: str
    row_key: RowKeySpec = field(default_factory=RowKeySpec)
    families: list[FamilySpec] = field(default_factory=list)

    def family(self, name: str) -> FamilySpec:
        for fam in self.families:
            if fam.name == name:
                return fam
        raise KeyError(f"no family {name!r} in layout {self.name!r}")

    def spark_schema(self) -> StructType:
        fields = [StructField("entity_id", self.row_key.spark_type(), False)]
        fields += [
            StructField(fam.name, fam.spark_type(), True) for fam in self.families
        ]
        return StructType(fields)

    # -- JSON layout dialect ------------------------------------------------
    @classmethod
    def from_json(cls, text_or_dict: str | dict) -> "TableLayout":
        """Parse the simplified layout JSON::

            {"name": "users",
             "row_key": {"format": "HASH_PREFIX",
                         "components": [{"name": "key", "type": "string"}]},
             "families": [
               {"name": "info", "kind": "group", "max_versions": 3,
                "columns": [{"name": "email", "schema": "string"}]},
               {"name": "map_family", "kind": "map", "map_schema": "string"}]}
        """
        d = json.loads(text_or_dict) if isinstance(text_or_dict, str) else text_or_dict
        rk = d.get("row_key", {})
        row_key = RowKeySpec(
            format=rk.get("format", "FORMATTED"),
            components=[
                (c["name"], c.get("type", "string"))
                for c in rk.get("components", [{"name": "key"}])
            ],
            hash_prefix_bytes=rk.get("hash_prefix_bytes", 2),
        )
        families = []
        for fd in d.get("families", []):
            families.append(
                FamilySpec(
                    name=fd["name"],
                    kind=fd.get("kind", "group"),
                    columns=[
                        ColumnSpec(
                            c["name"], c.get("schema", "string"),
                            c.get("max_versions"),
                        )
                        for c in fd.get("columns", [])
                    ],
                    map_schema=fd.get("map_schema", "string"),
                    max_versions=fd.get("max_versions", 1),
                    ttl_seconds=fd.get("ttl_seconds"),
                )
            )
        return cls(name=d["name"], row_key=row_key, families=families)

    def to_json(self) -> str:
        def _type_name(t: str | dict | list | DataType):
            # str/dict/list declarations pass through as-is; programmatic
            # DataTypes serialize to DDL, which _resolve_type parses back
            return t if isinstance(t, (str, dict, list)) else t.simpleString()

        return json.dumps({
            "name": self.name,
            "row_key": {
                "format": self.row_key.format,
                "components": [
                    {"name": n, "type": _type_name(t)}
                    for n, t in self.row_key.components
                ],
                "hash_prefix_bytes": self.row_key.hash_prefix_bytes,
            },
            "families": [
                {
                    "name": f.name,
                    "kind": f.kind,
                    "columns": [
                        {"name": c.name, "schema": _type_name(c.schema),
                         **({"max_versions": c.max_versions}
                            if c.max_versions is not None else {})}
                        for c in f.columns
                    ],
                    "map_schema": _type_name(f.map_schema),
                    "max_versions": f.max_versions,
                    "ttl_seconds": f.ttl_seconds,
                }
                for f in self.families
            ],
        }, indent=2)
