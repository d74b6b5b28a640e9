"""Iceberg type system + versioned Schema.

Semantics follow the reference's types.go / schema.go (cited per item);
the JSON wire shape follows the Iceberg table spec so metadata files we
write are readable by any Iceberg implementation.

Spark mapping lives in `spark_type()` — the rule table from SURVEY.md
§1.2 (time → long with a marker, uuid → string, fixed → binary).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional


class IcebergType:
    """Base: value-equal, JSON-round-trippable type node."""

    def __eq__(self, other: object) -> bool:
        return type(self) is type(other) and self.__dict__ == other.__dict__

    def __hash__(self) -> int:
        return hash(str(self))

    def is_primitive(self) -> bool:
        return isinstance(self, PrimitiveType)

    def to_json(self) -> Any:
        return str(self)


class PrimitiveType(IcebergType):
    name: str = ""

    def __str__(self) -> str:
        return self.name

    def __repr__(self) -> str:
        return f"{type(self).__name__}()"


class BooleanType(PrimitiveType):
    name = "boolean"  # ref types.go:504


class IntegerType(PrimitiveType):
    name = "int"  # ref types.go:517


class LongType(PrimitiveType):
    name = "long"  # ref types.go:530


class FloatType(PrimitiveType):
    name = "float"  # ref types.go:543


class DoubleType(PrimitiveType):
    name = "double"  # ref types.go:556


class DateType(PrimitiveType):
    name = "date"  # days since epoch, ref types.go:568


class TimeType(PrimitiveType):
    name = "time"  # µs since midnight, ref types.go:589


class TimestampType(PrimitiveType):
    name = "timestamp"  # µs, no tz, ref types.go:642


class TimestampTzType(PrimitiveType):
    name = "timestamptz"  # µs UTC, ref types.go:656


class TimestampNsType(PrimitiveType):
    name = "timestamp_ns"  # ns, no tz, v3+ only — ref types.go:704-716


class TimestampTzNsType(PrimitiveType):
    name = "timestamptz_ns"  # ns UTC, v3+ only — ref types.go:718-730


class StringType(PrimitiveType):
    name = "string"  # ref types.go:668


class UUIDType(PrimitiveType):
    name = "uuid"  # ref types.go:680


class BinaryType(PrimitiveType):
    name = "binary"  # ref types.go:692


class FixedType(PrimitiveType):
    """fixed[n] — ref types.go:449-464."""

    def __init__(self, length: int):
        self.length = length
        self.name = f"fixed[{length}]"

    def __repr__(self) -> str:
        return f"FixedType({self.length})"


class DecimalType(PrimitiveType):
    """decimal(P, S), P <= 38 — ref types.go:470-488."""

    def __init__(self, precision: int, scale: int):
        if precision > 38:
            raise ValueError(f"decimal precision {precision} > 38")
        self.precision = precision
        self.scale = scale
        self.name = f"decimal({precision}, {scale})"

    def __repr__(self) -> str:
        return f"DecimalType({self.precision}, {self.scale})"


@dataclass(frozen=True)
class NestedField:
    """Schema field with a stable int ID — ref types.go:182-191."""

    field_id: int
    name: str
    field_type: IcebergType
    required: bool = False
    doc: Optional[str] = None
    initial_default: Any = None
    write_default: Any = None

    def to_json(self) -> dict:
        out: dict[str, Any] = {
            "id": self.field_id,
            "name": self.name,
            "required": self.required,
            "type": self.field_type.to_json(),
        }
        if self.doc is not None:
            out["doc"] = self.doc
        if self.initial_default is not None:
            out["initial-default"] = self.initial_default
        if self.write_default is not None:
            out["write-default"] = self.write_default
        return out

    @staticmethod
    def from_json(obj: dict) -> "NestedField":
        return NestedField(
            field_id=obj["id"],
            name=obj["name"],
            field_type=type_from_json(obj["type"]),
            required=obj.get("required", False),
            doc=obj.get("doc"),
            initial_default=obj.get("initial-default"),
            write_default=obj.get("write-default"),
        )


class StructType(IcebergType):
    """ref types.go:248."""

    def __init__(self, *fields: NestedField):
        self.fields = tuple(fields)

    def __str__(self) -> str:
        inner = ", ".join(f"{f.field_id}: {f.name}: {f.field_type}" for f in self.fields)
        return f"struct<{inner}>"

    def __repr__(self) -> str:
        return f"StructType{self.fields!r}"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, StructType) and self.fields == other.fields

    def __hash__(self) -> int:
        return hash(self.fields)

    def to_json(self) -> dict:
        return {"type": "struct", "fields": [f.to_json() for f in self.fields]}


class ListType(IcebergType):
    """ref types.go:301."""

    def __init__(self, element_id: int, element: IcebergType, element_required: bool = False):
        self.element_id = element_id
        self.element = element
        self.element_required = element_required

    def __str__(self) -> str:
        return f"list<{self.element}>"

    def __repr__(self) -> str:
        return (
            f"ListType({self.element_id}, {self.element!r}, {self.element_required})"
        )

    def to_json(self) -> dict:
        return {
            "type": "list",
            "element-id": self.element_id,
            "element": self.element.to_json(),
            "element-required": self.element_required,
        }


class MapType(IcebergType):
    """ref types.go:361."""

    def __init__(
        self,
        key_id: int,
        key: IcebergType,
        value_id: int,
        value: IcebergType,
        value_required: bool = False,
    ):
        self.key_id = key_id
        self.key = key
        self.value_id = value_id
        self.value = value
        self.value_required = value_required

    def __str__(self) -> str:
        return f"map<{self.key}, {self.value}>"

    def __repr__(self) -> str:
        return (
            f"MapType({self.key_id}, {self.key!r}, {self.value_id}, "
            f"{self.value!r}, {self.value_required})"
        )

    def to_json(self) -> dict:
        return {
            "type": "map",
            "key-id": self.key_id,
            "key": self.key.to_json(),
            "value-id": self.value_id,
            "value": self.value.to_json(),
            "value-required": self.value_required,
        }


_PRIMITIVES: dict[str, PrimitiveType] = {
    t.name: t()
    for t in (
        BooleanType,
        IntegerType,
        LongType,
        FloatType,
        DoubleType,
        DateType,
        TimeType,
        TimestampType,
        TimestampTzType,
        TimestampNsType,
        TimestampTzNsType,
        StringType,
        UUIDType,
        BinaryType,
    )
}


def min_format_version_for_type(t: IcebergType) -> int:
    """Minimum table format version a type requires — ref
    table/metadata_schema_comptability.go:117-130. ns-timestamps are
    v3-only; everything else reads back to v1."""
    if isinstance(t, (TimestampNsType, TimestampTzNsType)):
        return 3
    if isinstance(t, StructType):
        return max((min_format_version_for_type(f.field_type) for f in t.fields), default=1)
    if isinstance(t, ListType):
        return min_format_version_for_type(t.element)
    if isinstance(t, MapType):
        return max(min_format_version_for_type(t.key), min_format_version_for_type(t.value))
    return 1

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[\s*(\d+)\s*\]$")


def type_from_json(obj: Any) -> IcebergType:
    """Parse the spec's JSON type representation (string or object)."""
    if isinstance(obj, str):
        if obj in _PRIMITIVES:
            return _PRIMITIVES[obj]
        if m := _DECIMAL_RE.match(obj):
            return DecimalType(int(m.group(1)), int(m.group(2)))
        if m := _FIXED_RE.match(obj):
            return FixedType(int(m.group(1)))
        raise ValueError(f"unknown primitive type: {obj!r}")
    kind = obj.get("type")
    if kind == "struct":
        return StructType(*[NestedField.from_json(f) for f in obj["fields"]])
    if kind == "list":
        return ListType(
            obj["element-id"], type_from_json(obj["element"]), obj.get("element-required", False)
        )
    if kind == "map":
        return MapType(
            obj["key-id"],
            type_from_json(obj["key"]),
            obj["value-id"],
            type_from_json(obj["value"]),
            obj.get("value-required", False),
        )
    raise ValueError(f"unknown complex type: {obj!r}")


# ---------------------------------------------------------------- promotion

def promote_type(file_type: IcebergType, read_type: IcebergType) -> IcebergType:
    """Legal read-time promotions — ref types.go:767-805."""
    if file_type == read_type:
        return read_type
    if isinstance(file_type, IntegerType) and isinstance(read_type, LongType):
        return read_type
    if isinstance(file_type, FloatType) and isinstance(read_type, DoubleType):
        return read_type
    if isinstance(file_type, (StringType, BinaryType)) and isinstance(
        read_type, (StringType, BinaryType)
    ):
        return read_type
    if isinstance(file_type, DecimalType) and isinstance(read_type, DecimalType):
        if read_type.scale == file_type.scale and read_type.precision >= file_type.precision:
            return read_type
    if isinstance(file_type, FixedType) and file_type.length == 16 and isinstance(read_type, UUIDType):
        return read_type
    raise ValueError(f"cannot promote {file_type} to {read_type}")


# ------------------------------------------------------------------- schema

@dataclass(frozen=True)
class Schema:
    """Versioned schema — ref schema.go:36-80."""

    schema_id: int
    fields: tuple[NestedField, ...]
    identifier_field_ids: tuple[int, ...] = ()

    @staticmethod
    def of(schema_id: int, *fields: NestedField, identifier_field_ids=()) -> "Schema":
        return Schema(schema_id, tuple(fields), tuple(identifier_field_ids))

    def as_struct(self) -> StructType:
        return StructType(*self.fields)

    def _walk(self) -> Iterator[tuple[str, NestedField]]:
        """Yield (dotted_name, field) for every field incl. nested."""

        def rec(prefix: str, f: NestedField) -> Iterator[tuple[str, NestedField]]:
            name = f"{prefix}{f.name}"
            yield name, f
            t = f.field_type
            if isinstance(t, StructType):
                for child in t.fields:
                    yield from rec(name + ".", child)
            elif isinstance(t, ListType):
                elem = NestedField(t.element_id, "element", t.element, t.element_required)
                yield from rec(name + ".", elem)
            elif isinstance(t, MapType):
                yield from rec(name + ".", NestedField(t.key_id, "key", t.key, True))
                yield from rec(
                    name + ".", NestedField(t.value_id, "value", t.value, t.value_required)
                )

        for f in self.fields:
            yield from rec("", f)

    def find_field_by_id(self, field_id: int) -> Optional[NestedField]:
        for _, f in self._walk():
            if f.field_id == field_id:
                return f
        return None

    def find_field(self, name: str, case_sensitive: bool = True) -> Optional[NestedField]:
        """Dotted-name lookup — ref schema.go:384-407 (Select)."""
        for n, f in self._walk():
            if n == name or (not case_sensitive and n.lower() == name.lower()):
                return f
        return None

    def field_names(self) -> list[str]:
        return [n for n, _ in self._walk()]

    def highest_field_id(self) -> int:
        return max((f.field_id for _, f in self._walk()), default=0)

    def select(self, *names: str, case_sensitive: bool = True) -> "Schema":
        """Top-level projection by name."""
        want = set(names if case_sensitive else [n.lower() for n in names])
        out = [
            f
            for f in self.fields
            if (f.name in want if case_sensitive else f.name.lower() in want)
        ]
        missing = want - {(f.name if case_sensitive else f.name.lower()) for f in out}
        if missing:
            raise ValueError(f"fields not found in schema: {sorted(missing)}")
        return Schema(self.schema_id, tuple(out), ())

    def to_json(self) -> dict:
        out: dict[str, Any] = {
            "type": "struct",
            "schema-id": self.schema_id,
            "fields": [f.to_json() for f in self.fields],
        }
        if self.identifier_field_ids:
            out["identifier-field-ids"] = list(self.identifier_field_ids)
        return out

    @staticmethod
    def from_json(obj: dict) -> "Schema":
        return Schema(
            schema_id=obj.get("schema-id", 0),
            fields=tuple(NestedField.from_json(f) for f in obj["fields"]),
            identifier_field_ids=tuple(obj.get("identifier-field-ids", ())),
        )


# ------------------------------------------------------------ Spark mapping

_SPARK_SIMPLE = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "time": "bigint",  # Spark has no TIME type; µs-since-midnight marker
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
    # v3 ns-timestamps: Spark's timestamps are µs, so reads downcast
    # ns→µs — the same policy the reference applies to Arrow
    # (table/arrow_utils.go:388 downcastNsTimestamp)
    "timestamp_ns": "timestamp_ntz",
    "timestamptz_ns": "timestamp",
    "string": "string",
    "uuid": "string",  # canonical text form
    "binary": "binary",
}


def spark_type(t: IcebergType) -> str:
    """Iceberg type → Spark SQL DDL string (SURVEY.md §1.2 table)."""
    if isinstance(t, DecimalType):
        return f"decimal({t.precision},{t.scale})"
    if isinstance(t, FixedType):
        return "binary"
    if isinstance(t, StructType):
        inner = ", ".join(f"`{f.name}`: {spark_type(f.field_type)}" for f in t.fields)
        return f"struct<{inner}>"
    if isinstance(t, ListType):
        return f"array<{spark_type(t.element)}>"
    if isinstance(t, MapType):
        return f"map<{spark_type(t.key)}, {spark_type(t.value)}>"
    if t.name in _SPARK_SIMPLE:
        return _SPARK_SIMPLE[t.name]
    raise ValueError(f"no spark mapping for {t}")


def schema_to_spark_ddl(schema: Schema) -> str:
    return ", ".join(f"`{f.name}` {spark_type(f.field_type)}" for f in schema.fields)


def schema_to_spark_struct(schema: Schema):
    """pyspark StructType with `parquet.field.id` metadata per field, so
    Spark's field-id-based parquet resolution (`spark.sql.parquet.
    fieldId.read.enabled`) maps file columns by ID — names can evolve
    freely (the Spark-native equivalent of the reference's ID-based
    column translation, visitors.go TranslateColumnNames)."""
    from pyspark.sql import types as st

    simple = {
        "boolean": st.BooleanType(),
        "int": st.IntegerType(),
        "bigint": st.LongType(),
        "float": st.FloatType(),
        "double": st.DoubleType(),
        "date": st.DateType(),
        "timestamp_ntz": st.TimestampNTZType(),
        "timestamp": st.TimestampType(),
        "string": st.StringType(),
        "binary": st.BinaryType(),
    }

    def conv(t: IcebergType):
        if isinstance(t, DecimalType):
            return st.DecimalType(t.precision, t.scale)
        ddl = spark_type(t)
        if ddl in simple:
            return simple[ddl]
        return st._parse_datatype_string(ddl)

    return st.StructType(
        [
            st.StructField(
                f.name,
                conv(f.field_type),
                nullable=not f.required,
                metadata={"parquet.field.id": f.field_id},
            )
            for f in schema.fields
        ]
    )


def schema_from_spark(spark_schema, schema_id: int = 0) -> Schema:
    """Derive an Iceberg schema (fresh sequential field IDs) from a
    pyspark StructType — the create-table path for Spark-born data."""
    from pyspark.sql import types as st

    mapping = [
        (st.BooleanType, BooleanType),
        (st.IntegerType, IntegerType),
        (st.ShortType, IntegerType),
        (st.ByteType, IntegerType),
        (st.LongType, LongType),
        (st.FloatType, FloatType),
        (st.DoubleType, DoubleType),
        (st.DateType, DateType),
        (st.StringType, StringType),
        (st.BinaryType, BinaryType),
    ]

    next_id = [0]

    def nid() -> int:
        next_id[0] += 1
        return next_id[0]

    def conv(dt) -> IcebergType:
        if isinstance(dt, st.DecimalType):
            return DecimalType(dt.precision, dt.scale)
        if isinstance(dt, st.TimestampNTZType):
            return TimestampType()
        if isinstance(dt, st.TimestampType):
            return TimestampType()  # stored as µs; tz-naive in testdata
        if isinstance(dt, st.ArrayType):
            return ListType(nid(), conv(dt.elementType), not dt.containsNull)
        if isinstance(dt, st.MapType):
            kid, vid = nid(), nid()
            return MapType(kid, conv(dt.keyType), vid, conv(dt.valueType), not dt.valueContainsNull)
        if isinstance(dt, st.StructType):
            return StructType(
                *[
                    NestedField(nid(), f.name, conv(f.dataType), required=not f.nullable)
                    for f in dt.fields
                ]
            )
        for spark_t, ice_t in mapping:
            if isinstance(dt, spark_t):
                return ice_t()
        raise TypeError(f"no iceberg mapping for spark type {dt}")

    # two passes so top-level fields get ids 1..N before nested ids
    tops = [(f.name, f.dataType, f.nullable) for f in spark_schema.fields]
    next_id[0] = len(tops)
    field_ids = list(range(1, len(tops) + 1))
    fields = [
        NestedField(fid, name, conv(dt), required=not nullable)
        for fid, (name, dt, nullable) in zip(field_ids, tops)
    ]
    return Schema(schema_id, tuple(fields))
