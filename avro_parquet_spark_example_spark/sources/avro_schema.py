"""Avro schema JSON → Spark ``StructType`` translator (SURVEY.md §1.2).

This is the engine's re-expression of the reference's format bridge: the
reference declared record types in Avro schemas and generated JVM classes
with sbt-avro, then relied on parquet-avro's ``AvroSchemaConverter`` to map
them onto Parquet (SURVEY.md §0 steps 1–2, reconstructed — the reference
checkout is empty here, see SURVEY.md §0 provenance). On modern Spark the
storage side is native (``spark.read.parquet``), so what remains of Avro is
its role as a *schema language*: this module translates any Avro schema
document into the equivalent ``pyspark.sql.types.StructType`` which can be
applied as a declared read schema (see ``sources/scans.py::avro_schema_read``).

Pure Python, no Avro library required (none is installed in this
environment). Full Avro 1.x type surface:

  primitives        string/int/long/float/double/boolean/bytes/null
  union with null   → nullable T (general unions of 2+ non-null branches are
                      rejected — Spark has no variant column type)
  record            → StructType (named, nestable, reference-able by name)
  array / map       → ArrayType / MapType(string, T)
  enum              → StringType (symbol name)
  fixed             → BinaryType
  logical types     decimal / date / time-millis|micros /
                     timestamp-millis|micros / local-timestamp-*

Avro files themselves are read and written by ``avro_binary`` (the binary
codec and object container format) and ``avro_datasource`` (the ``avrofile``
Spark data source and ``write_distributed``), which declare their Spark
schema through :func:`parse_avro_schema`.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import types as T

_PRIMITIVES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "bytes": T.BinaryType(),
    "null": T.NullType(),
}

#: ``type`` values that define a type rather than name one.
_DEFINITIONS = frozenset(("record", "enum", "array", "map", "fixed"))

_LOGICAL: dict[str, T.DataType] = {
    "date": T.DateType(),
    "time-millis": T.IntegerType(),
    "time-micros": T.LongType(),
    "timestamp-millis": T.TimestampType(),
    "timestamp-micros": T.TimestampType(),
    "local-timestamp-millis": T.TimestampNTZType(),
    "local-timestamp-micros": T.TimestampNTZType(),
    "uuid": T.StringType(),
}


class AvroSchemaError(ValueError):
    """Raised for malformed or untranslatable Avro schemas."""


def parse_avro_schema(schema: str | dict | list) -> T.StructType:
    """Translate an Avro schema (JSON string or parsed dict) to StructType.

    The top level must be a record (as in the reference's User schema);
    use :func:`_translate` for inner types.
    """
    if isinstance(schema, str):
        schema = json.loads(schema)
    named: dict[str, T.DataType] = {}
    dt = _translate(schema, named, None)
    if not isinstance(dt, T.StructType):
        raise AvroSchemaError(f"top-level Avro schema must be a record, got {dt}")
    return dt


def _resolve_ref(ref: str, named: dict[str, Any], ns: str | None) -> Any:
    """Resolve a named-type reference per the Avro spec: a dotted name is a
    fullname looked up as-is; a bare name resolves relative to the enclosing
    namespace first, then the null namespace. Named types are registered
    under fullname ONLY — two records sharing a simple name in different
    namespaces stay distinct instead of the later silently shadowing the
    earlier. ``named`` maps fullnames to Spark types here and to compiled
    codecs in ``avro_binary``, so both follow one naming rule."""
    if "." in ref:
        if ref in named:
            return named[ref]
    else:
        if ns and f"{ns}.{ref}" in named:
            return named[f"{ns}.{ref}"]
        if ref in named:  # null-namespace definition
            return named[ref]
    raise AvroSchemaError(f"unknown Avro type reference: {ref!r} (namespace {ns!r})")


def _ref_name(node: Any) -> str | None:
    """The named type a node refers to, or None for a primitive or a type
    definition. A reference is a bare name, ``"E"``, or the object form
    ``{"type": "E"}``; Java's ``Schema.Parser`` accepts both and ignores the
    object form's other attributes."""
    t = node.get("type") if isinstance(node, dict) else node
    if not isinstance(t, str) or t in _PRIMITIVES:
        return None
    if isinstance(node, dict) and t in _DEFINITIONS:
        return None
    return t


def _translate(
    node: Any, named: dict[str, T.DataType], ns: str | None
) -> T.DataType:
    ref = _ref_name(node)
    if ref is not None:
        return _resolve_ref(ref, named, ns)
    if isinstance(node, str):
        return _PRIMITIVES[node]

    if isinstance(node, list):  # union
        non_null = [b for b in node if b != "null"]
        if len(non_null) != 1:
            raise AvroSchemaError(
                f"only unions of one type with null are translatable, got {node!r}"
            )
        return _translate(non_null[0], named, ns)

    if not isinstance(node, dict):
        raise AvroSchemaError(f"malformed Avro schema node: {node!r}")

    logical = node.get("logicalType")
    if logical:
        if logical == "decimal":
            precision = int(node.get("precision", 10))
            scale = int(node.get("scale", 0))
            return T.DecimalType(precision, scale)
        if logical in _LOGICAL:
            return _LOGICAL[logical]
        # Unknown logical types fall back to the underlying Avro type.

    kind = node.get("type")
    if not isinstance(kind, str):  # e.g. {"type": {...}} or {"type": [...]}
        raise AvroSchemaError(f"untranslatable Avro type: {node!r}")
    if kind in _PRIMITIVES:  # unknown logical types fall back to base type
        return _PRIMITIVES[kind]

    if kind == "record":
        fullname, inner_ns = _fullname_and_ns(node, ns)
        fields = []
        for f in node.get("fields", []):
            ftype = f["type"]
            nullable = _is_nullable(ftype)
            fields.append(
                T.StructField(
                    f["name"],
                    _translate(ftype, named, inner_ns),
                    nullable=nullable,
                    metadata={"doc": f["doc"]} if "doc" in f else None,
                )
            )
        st = T.StructType(fields)
        if fullname:
            _define(named, fullname, st)
        return st

    if kind == "array":
        items = node["items"]
        return T.ArrayType(
            _translate(items, named, ns), containsNull=_is_nullable(items)
        )

    if kind == "map":
        values = node["values"]
        return T.MapType(
            T.StringType(),
            _translate(values, named, ns),
            valueContainsNull=_is_nullable(values),
        )

    if kind == "enum":
        fullname, _ = _fullname_and_ns(node, ns)
        if fullname:
            _define(named, fullname, T.StringType())
        return T.StringType()

    if kind == "fixed":
        fullname, _ = _fullname_and_ns(node, ns)
        if fullname:
            _define(named, fullname, T.BinaryType())
        return T.BinaryType()

    raise AvroSchemaError(f"untranslatable Avro type: {node!r}")


def _define(named: dict[str, T.DataType], fullname: str, dt: T.DataType) -> None:
    """Register a named type under its fullname; Avro forbids redefinition."""
    if fullname in named:
        raise AvroSchemaError(f"named type defined twice: {fullname!r}")
    named[fullname] = dt


def _is_nullable(node: Any) -> bool:
    """Avro nullability = union containing "null" (SURVEY.md §1.2)."""
    return isinstance(node, list) and "null" in node


def _fullname_and_ns(
    node: dict, enclosing_ns: str | None
) -> tuple[str | None, str | None]:
    """Avro-spec naming: a dotted ``name`` is already a fullname (its own
    ``namespace`` attribute is ignored); otherwise the effective namespace is
    the node's ``namespace`` attribute if present, else the enclosing one.
    Returns (fullname, namespace-for-children)."""
    name = node.get("name")
    if not name:
        return None, enclosing_ns
    if "." in name:
        ns = name.rsplit(".", 1)[0]
        return name, ns
    ns = node.get("namespace", enclosing_ns)
    return (f"{ns}.{name}" if ns else name), ns


_TO_AVRO_PRIMITIVES: dict[type, str] = {
    T.StringType: "string",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


_AVRO_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def struct_to_avro_schema(st: T.StructType, name: str = "record") -> dict:
    """Inverse bridge: Spark ``StructType`` → Avro record schema dict.

    Completes the reference's round trip (its write path derived the Parquet
    file schema *from* the Avro schema via AvroSchemaConverter — SURVEY.md
    §0 step 2): an engine table's schema can be exported as the Avro contract
    a producer writes against, so the output must be Avro-spec valid:
    nested record names are sanitized and de-duplicated (a counter suffix
    on collision — Avro forbids redefining a named type), and field names
    that are not valid Avro identifiers are rejected rather than silently
    mangled (mangling would break the round trip).

    ``parse_avro_schema(struct_to_avro_schema(s)) == s`` for every type both
    sides support; the lossy edges are narrow integers (Byte/Short widen to
    Avro ``int``), char/varchar (→ ``string``), and ``NullType`` (exports as
    the ``"null"`` primitive, whose field nullability flag does not survive).
    """
    return _to_avro_record(st, name, set())


def _record_name(candidate: str, seen: set) -> str:
    name = re.sub(r"[^A-Za-z0-9_]", "_", candidate)
    if not _AVRO_NAME_RE.match(name):
        name = f"r_{name}"
    base, n = name, 2
    while name in seen:
        name = f"{base}_{n}"
        n += 1
    seen.add(name)
    return name


def _to_avro_record(st: T.StructType, name: str, seen: set) -> dict:
    fields = []
    for f in st.fields:
        if not _AVRO_NAME_RE.match(f.name):
            raise AvroSchemaError(f"field name is not a valid Avro name: {f.name!r}")
        ftype = _to_avro(f.dataType, f"{name}_{f.name}", seen)
        if f.nullable and ftype != "null":  # ["null","null"] is an invalid union
            ftype = ["null", ftype]
        fields.append({"name": f.name, "type": ftype})
    return {"type": "record", "name": _record_name(name, seen), "fields": fields}


def _to_avro(dt: T.DataType, name: str, seen: set) -> Any:
    if isinstance(dt, T.NullType):
        return "null"
    if type(dt) in _TO_AVRO_PRIMITIVES:
        return _TO_AVRO_PRIMITIVES[type(dt)]
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "int"  # Avro has no narrow ints — widen
    if isinstance(dt, (T.CharType, T.VarcharType)):
        return "string"
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.StructType):
        return _to_avro_record(dt, name, seen)
    if isinstance(dt, T.ArrayType):
        items = _to_avro(dt.elementType, f"{name}_item", seen)
        return {"type": "array", "items": ["null", items] if dt.containsNull else items}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise AvroSchemaError(f"Avro map keys must be strings, got {dt.keyType}")
        values = _to_avro(dt.valueType, f"{name}_value", seen)
        return {
            "type": "map",
            "values": ["null", values] if dt.valueContainsNull else values,
        }
    raise AvroSchemaError(f"no Avro mapping for Spark type: {dt}")
