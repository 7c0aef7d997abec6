"""Pure-Python Avro binary codec + object-container-file IO (SURVEY.md §2 A4
extension — the reference's OWN read/write path).

The reference repo's storage story is Avro-defined records written through
``AvroParquetWriter`` and read back with ``AvroReadSupport`` (SURVEY.md §0
steps 2–3, reconstructed). Round 1–2 covered the *schema* half of that
bridge (``avro_schema.py``: Avro JSON → StructType); this module closes the
*binary* half: a complete encoder/decoder for the Avro binary encoding and
the Object Container File format (magic ``Obj\\x01``, header metadata map,
16-byte sync markers, length-prefixed blocks, null/deflate codecs), with no
Avro library dependency (none ships in this environment).

Binary encoding implemented per the public Avro 1.11 spec
(https://avro.apache.org/docs/1.11.1/specification/), and CROSS-VALIDATED
against the reference Java implementation (avro-1.12.1 on Spark's JVM
classpath, driven via py4j — tests/test_avro_binary.py): Java's
DataFileReader decodes Python-written containers (both codecs, all-types
schema incl. logical types), the Python reader decodes Java-written
containers back to the original values, and the byte-split ownership rule
below agrees with Java's own sync()/pastSync() partition for arbitrary
split boundaries:

  int/long     zigzag varint          float/double  little-endian IEEE754
  string/bytes varint length + bytes  boolean       single byte 0/1
  record       fields in schema order union         varint branch index + value
  array/map    count-prefixed blocks (negative count ⇒ byte-size follows)
  enum         varint symbol index    fixed         raw bytes
  logical      decimal(bytes/fixed), date, time-millis/micros,
               (local-)timestamp-millis/micros (decoded to Python date/
               datetime/Decimal so rows align with the Spark types produced
               by ``avro_schema.parse_avro_schema``; time-millis/micros
               stay the int/long it declares)

Two interfaces share the container format and the block loop:

- **Rows** (``write_container``, ``read_container[_split]``): Python
  tuples in and out, through per-value codecs compiled once per schema.
  Tests and driver-side fixtures use it, and it is the reference the
  columnar path is checked against byte for byte.
- **Columns** (``write_container_batches``, ``read_container_batches``):
  Arrow record batches in and out, the form Spark's Python boundary
  (``mapInArrow``, Python data sources) already speaks, so no row becomes a
  Python object on the distributed path. The encoder turns each primitive
  column into Avro bytes with numpy (zigzag varints, little-endian floats,
  length-prefixed string/bytes buffers) and scatters them into one
  row-major buffer cut into blocks; the decoder is Python source generated
  once per schema that walks each inflated block by integer offset into
  one list per column, keeping temporal fields as integers that Arrow
  casts. Array, map, nested record, enum, fixed and decimal fields go
  through the per-value codec inside the same column loop, so one path
  serves every record schema.

Scale design: the container format is SPLITTABLE — every block is followed
by the file's sync marker, so a reader dropped at any byte offset can scan
forward to the next sync and start decoding block-aligned records. The
distributed read path (``avro_datasource.py``) exploits exactly that, the
same alignment rule Hadoop's AvroInputFormat uses: a task owns every block
whose trailing-sync search began inside its byte split.
"""

from __future__ import annotations

import datetime
import io
import json
import os
import struct
import zlib
from decimal import Decimal
from functools import lru_cache
from typing import Any, BinaryIO, Callable, Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa

from avro_parquet_spark_example_spark.sources.avro_schema import (
    _fullname_and_ns,
    _ref_name,
    _resolve_ref,
)

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

#: Epoch for date/timestamp logical types (Avro counts from Unix epoch).
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)

#: Timestamp logical types → unit of the stored long, as Arrow names it.
_TIMESTAMP_UNITS = {
    "timestamp-millis": "ms",
    "local-timestamp-millis": "ms",
    "timestamp-micros": "us",
    "local-timestamp-micros": "us",
}
_UNIT_STEPS = {
    "ms": datetime.timedelta(milliseconds=1),
    "us": datetime.timedelta(microseconds=1),
}


def _from_millis(v: int) -> datetime.datetime:
    return _EPOCH_DT + datetime.timedelta(milliseconds=v)


def _from_micros(v: int) -> datetime.datetime:
    return _EPOCH_DT + datetime.timedelta(microseconds=v)


#: Python value of each integer-backed date or timestamp logical type, keyed
#: by (Avro base type, logicalType); time-millis/micros stay ints. The
#: per-value codec and the row API return these; the Arrow read path keeps
#: the integer and casts the column instead.
_FROM_INT: dict[tuple[str, str], Callable[[int], Any]] = {
    ("int", "date"): lambda v: _EPOCH_DATE + datetime.timedelta(days=v),
    ("long", "timestamp-millis"): _from_millis,
    ("long", "local-timestamp-millis"): _from_millis,
    ("long", "timestamp-micros"): _from_micros,
    ("long", "local-timestamp-micros"): _from_micros,
}


class AvroBinaryError(ValueError):
    """Malformed Avro binary data or an unsupported schema feature."""


# ---------------------------------------------------------------------------
# primitive decode


def _read_exact(fo: BinaryIO, n: int) -> bytes:
    b = fo.read(n)
    if len(b) != n:
        raise AvroBinaryError(f"unexpected EOF: wanted {n} bytes, got {len(b)}")
    return b


def read_long(fo: BinaryIO) -> int:
    """Zigzag varint (int and long share one wire format)."""
    shift = 0
    accum = 0
    while True:
        byte = fo.read(1)
        if not byte:
            raise AvroBinaryError("unexpected EOF in varint")
        b = byte[0]
        accum |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 70:
            raise AvroBinaryError("varint too long")
    return (accum >> 1) ^ -(accum & 1)


def read_bytes(fo: BinaryIO) -> bytes:
    n = read_long(fo)
    if n < 0:
        raise AvroBinaryError(f"negative bytes length {n}")
    return _read_exact(fo, n)


# ---------------------------------------------------------------------------
# primitive encode


def write_long(fo: BinaryIO, v: int) -> None:
    v = (v << 1) if v >= 0 else (((-v - 1) << 1) | 1)  # zigzag
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    fo.write(bytes(out))


def write_bytes(fo: BinaryIO, b: bytes) -> None:
    write_long(fo, len(b))
    fo.write(b)


# ---------------------------------------------------------------------------
# schema-driven codec compilation
#
# Schemas compile ONCE into closures (decoder: fo -> value, encoder:
# (fo, value) -> None); per-record decode then runs no schema dispatch.
# That matters because the decoder executes inside every read task.
# Records, enums and fixed register their codec in ``named`` under their
# fullname, and a bare-name reference resolves through avro_schema's naming
# rule against the enclosing namespace ``ns``, as Java's Schema.toString()
# writes the second use of a named type.


def _logical(node: dict) -> str | None:
    return node.get("logicalType") if isinstance(node, dict) else None


def _register(
    named: dict[str, Callable], node: dict, ns: str | None, codec: Callable
) -> Callable:
    """Register a named type's codec under its fullname; return the codec."""
    fullname, _ = _fullname_and_ns(node, ns)
    if fullname:
        named[fullname] = codec
    return codec


def _compile_decoder(
    node: Any, named: dict[str, Callable], ns: str | None
) -> Callable[[BinaryIO], Any]:
    ref = _ref_name(node)
    if ref is not None:
        return _resolve_ref(ref, named, ns)
    if isinstance(node, str):
        node = {"type": node}
    if isinstance(node, list):  # union: varint branch index + value
        branches = [_compile_decoder(b, named, ns) for b in node]

        def dec_union(fo: BinaryIO) -> Any:
            idx = read_long(fo)
            if not 0 <= idx < len(branches):
                raise AvroBinaryError(f"union branch {idx} out of range")
            return branches[idx](fo)

        return dec_union

    t = node["type"] if isinstance(node, dict) else node
    lt = _logical(node)

    if t == "null":
        return lambda fo: None
    if t == "boolean":
        return lambda fo: _read_exact(fo, 1) != b"\x00"
    if t in ("int", "long"):
        to_py = _FROM_INT.get((t, lt))
        if to_py is not None:
            return lambda fo: to_py(read_long(fo))
        return read_long
    if t == "float":
        return lambda fo: struct.unpack("<f", _read_exact(fo, 4))[0]
    if t == "double":
        return lambda fo: struct.unpack("<d", _read_exact(fo, 8))[0]
    if t == "string":
        return lambda fo: read_bytes(fo).decode("utf-8")
    if t == "bytes":
        if lt == "decimal":
            scale = node.get("scale", 0)

            def dec_decimal(fo: BinaryIO) -> Decimal:
                raw = read_bytes(fo)
                unscaled = int.from_bytes(raw, "big", signed=True)
                return Decimal(unscaled).scaleb(-scale)

            return dec_decimal
        return read_bytes
    if t == "fixed":
        size = node["size"]
        if lt == "decimal":
            scale = node.get("scale", 0)

            def dec_fixed_decimal(fo: BinaryIO) -> Decimal:
                unscaled = int.from_bytes(_read_exact(fo, size), "big", signed=True)
                return Decimal(unscaled).scaleb(-scale)

            return _register(named, node, ns, dec_fixed_decimal)
        return _register(named, node, ns, lambda fo: _read_exact(fo, size))
    if t == "enum":
        symbols = node["symbols"]

        def dec_enum(fo: BinaryIO) -> str:
            i = read_long(fo)
            if not 0 <= i < len(symbols):
                raise AvroBinaryError(f"enum index {i} out of range")
            return symbols[i]

        return _register(named, node, ns, dec_enum)
    if t == "array":
        item = _compile_decoder(node["items"], named, ns)

        def dec_array(fo: BinaryIO) -> list:
            out = []
            while True:
                count = read_long(fo)
                if count == 0:
                    return out
                if count < 0:  # negative count ⇒ block byte size follows
                    count = -count
                    read_long(fo)
                for _ in range(count):
                    out.append(item(fo))

        return dec_array
    if t == "map":
        val = _compile_decoder(node["values"], named, ns)

        def dec_map(fo: BinaryIO) -> dict:
            out: dict[str, Any] = {}
            while True:
                count = read_long(fo)
                if count == 0:
                    return out
                if count < 0:
                    count = -count
                    read_long(fo)
                for _ in range(count):
                    # key MUST decode before value (assignment evaluates
                    # its right side first — inlining would swap the reads)
                    k = read_bytes(fo).decode("utf-8")
                    out[k] = val(fo)

        return dec_map
    if t == "record":
        _, inner_ns = _fullname_and_ns(node, ns)
        field_decs: list[Callable] = []

        def dec_record(fo: BinaryIO) -> tuple:
            return tuple(d(fo) for d in field_decs)

        _register(named, node, ns, dec_record)  # before fields: recursion-safe
        for f in node["fields"]:
            field_decs.append(_compile_decoder(f["type"], named, inner_ns))
        return dec_record
    raise AvroBinaryError(f"unsupported Avro type: {t!r}")


def _compile_encoder(
    node: Any, named: dict[str, Callable], ns: str | None
) -> Callable[[BinaryIO, Any], None]:
    ref = _ref_name(node)
    if ref is not None:
        return _resolve_ref(ref, named, ns)
    if isinstance(node, str):
        node = {"type": node}
    if isinstance(node, list):
        branches = [_compile_encoder(b, named, ns) for b in node]
        null_idx = next(
            (i for i, b in enumerate(node) if b == "null" or b == {"type": "null"}), None
        )

        def enc_union(fo: BinaryIO, v: Any) -> None:
            if v is None and null_idx is not None:
                write_long(fo, null_idx)
                return
            # first non-null branch: the nullable-union [T, null] case that
            # covers the reference's User schema; general multi-branch
            # unions would need runtime type dispatch (out of scope, as in
            # avro_schema.py which rejects them on the read side too)
            idx = next(i for i in range(len(branches)) if i != null_idx)
            write_long(fo, idx)
            branches[idx](fo, v)

        return enc_union

    t = node["type"] if isinstance(node, dict) else node
    lt = _logical(node)

    if t == "null":
        return lambda fo, v: None
    if t == "boolean":
        return lambda fo, v: fo.write(b"\x01" if v else b"\x00")
    if t in ("int", "long"):
        if lt == "date":
            return lambda fo, v: write_long(fo, (v - _EPOCH_DATE).days)
        unit = _TIMESTAMP_UNITS.get(lt)
        if unit is not None:
            # exact integer floor division, as Java's Instant.toEpochMilli
            step = _UNIT_STEPS[unit]
            return lambda fo, v: write_long(fo, (v - _EPOCH_DT) // step)
        return lambda fo, v: write_long(fo, int(v))
    if t == "float":
        return lambda fo, v: fo.write(struct.pack("<f", v))
    if t == "double":
        return lambda fo, v: fo.write(struct.pack("<d", float(v)))
    if t == "string":
        return lambda fo, v: write_bytes(fo, v.encode("utf-8"))
    if t == "bytes":
        if lt == "decimal":
            scale = node.get("scale", 0)

            def enc_decimal(fo: BinaryIO, v: Decimal) -> None:
                unscaled = int(v.scaleb(scale))
                n = max(1, (unscaled.bit_length() + 8) // 8)
                write_bytes(fo, unscaled.to_bytes(n, "big", signed=True))

            return enc_decimal
        return lambda fo, v: write_bytes(fo, bytes(v))
    if t == "fixed":
        size = node["size"]

        def enc_fixed(fo: BinaryIO, v: bytes) -> None:
            if len(v) != size:
                raise AvroBinaryError(f"fixed size mismatch: {len(v)} != {size}")
            fo.write(v)

        return _register(named, node, ns, enc_fixed)
    if t == "enum":
        index = {s: i for i, s in enumerate(node["symbols"])}
        return _register(named, node, ns, lambda fo, v: write_long(fo, index[v]))
    if t == "array":
        item = _compile_encoder(node["items"], named, ns)

        def enc_array(fo: BinaryIO, v: list) -> None:
            if v:
                write_long(fo, len(v))
                for x in v:
                    item(fo, x)
            write_long(fo, 0)

        return enc_array
    if t == "map":
        val = _compile_encoder(node["values"], named, ns)

        def enc_map(fo: BinaryIO, v: dict) -> None:
            if v:
                write_long(fo, len(v))
                for k, x in v.items():
                    write_bytes(fo, k.encode("utf-8"))
                    val(fo, x)
            write_long(fo, 0)

        return enc_map
    if t == "record":
        _, inner_ns = _fullname_and_ns(node, ns)
        field_encs: list[Callable] = []
        fields = node["fields"]

        def enc_record(fo: BinaryIO, v: Any) -> None:
            # accepts tuple/list (positional) or dict (by field name)
            if isinstance(v, dict):
                for f, e in zip(fields, field_encs):
                    e(fo, v.get(f["name"]))
            else:
                for x, e in zip(v, field_encs):
                    e(fo, x)

        _register(named, node, ns, enc_record)
        for f in fields:
            field_encs.append(_compile_encoder(f["type"], named, inner_ns))
        return enc_record
    raise AvroBinaryError(f"unsupported Avro type: {t!r}")


def compile_decoder(schema: str | dict | list) -> Callable[[BinaryIO], Any]:
    if isinstance(schema, str) and schema.lstrip()[:1] in "[{\"":
        schema = json.loads(schema)
    return _compile_decoder(schema, {}, None)


def compile_encoder(schema: str | dict | list) -> Callable[[BinaryIO, Any], None]:
    if isinstance(schema, str) and schema.lstrip()[:1] in "[{\"":
        schema = json.loads(schema)
    return _compile_encoder(schema, {}, None)


# ---------------------------------------------------------------------------
# columnar field plans
#
# The Arrow paths work a record a column at a time. A *kernel* field is a
# primitive (optionally in a two-branch union with null): the batch encoder
# turns its whole column into Avro bytes with numpy, and the generated block
# decoder reads it inline. Every other field (array, map, nested record,
# enum, fixed, decimal, wider unions) is a *fallback* field: both paths call
# the per-value codec above for it, one value at a time, in the same column
# loop, so one path serves every schema.

_KERNELS = frozenset(("long", "int", "float", "double", "boolean", "string", "bytes"))


class _Field(NamedTuple):
    name: str
    kernel: str | None  # primitive type name; None for a fallback field
    logical: str | None
    nullable: bool  # kernel in a two-branch union with "null"
    null_idx: int  # union branch index of "null"
    value_idx: int  # union branch index of the kernel type
    decode: Callable[[BinaryIO], Any]  # per-value codec of the whole field
    encode: Callable[[BinaryIO, Any], None]


@lru_cache(maxsize=32)
def _record_fields(schema_json: str) -> tuple[_Field, ...]:
    """Field plans of a record schema, compiled once per schema string."""
    schema = json.loads(schema_json)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise AvroBinaryError("container files of records only: schema is not a record")
    # compile the whole record first so every named type (the record itself
    # included) is defined before a field refers to it
    dec_named: dict[str, Callable] = {}
    enc_named: dict[str, Callable] = {}
    _compile_decoder(schema, dec_named, None)
    _compile_encoder(schema, enc_named, None)
    _, ns = _fullname_and_ns(schema, None)
    fields = []
    for f in schema["fields"]:
        node = inner = f["type"]
        nullable, null_idx, value_idx = False, 0, 0
        if isinstance(node, list) and len(node) == 2 and "null" in node:
            nullable, null_idx = True, node.index("null")
            value_idx = 1 - null_idx
            inner = node[value_idx]
        base = inner.get("type") if isinstance(inner, dict) else inner
        logical = _logical(inner)
        primitive = isinstance(base, str) and base in _KERNELS
        kernel = base if primitive and logical != "decimal" else None
        fields.append(
            _Field(
                f["name"],
                kernel,
                logical,
                nullable and kernel is not None,
                null_idx,
                value_idx,
                _compile_decoder(node, dec_named, ns),
                _compile_encoder(node, enc_named, ns),
            )
        )
    return tuple(fields)


# ---------------------------------------------------------------------------
# columnar encode: Arrow record batch → row-major Avro bytes
#
# Each field becomes one or more *pieces* (src bytes, per-row start, per-row
# length); row i's encoding is its pieces' bytes in field order. One gather
# per piece scatters them into a single row-major buffer, which the writer
# cuts into blocks at row offsets.

_Piece = tuple  # (src: uint8 array, starts: int64 array, lens: int64 array)

#: zigzag values at or above _VARINT_BOUNDS[k] need more than k + 1 bytes
_VARINT_BOUNDS = [np.uint64(1 << (7 * k)) for k in range(1, 10)]


def _varint_piece(v: np.ndarray, valid: np.ndarray | None) -> _Piece:
    """Zigzag varints of int64 ``v``; rows where ``valid`` is False get none."""
    n = len(v)
    zz = ((v << 1) ^ (v >> 63)).view(np.uint64)
    lens = np.ones(n, np.int64)
    for bound in _VARINT_BOUNDS:
        lens += zz >= bound
    if valid is not None:
        lens[~valid] = 0
    width = int(lens.max()) if n else 0
    mat = np.empty((n, max(width, 1)), np.uint8)
    for k in range(width):
        mat[:, k] = ((zz >> np.uint64(7 * k)) & np.uint64(0x7F)) | np.uint64(0x80)
    mat[np.arange(n), np.maximum(lens - 1, 0)] &= 0x7F  # last byte: no continuation
    return mat.ravel(), np.arange(n, dtype=np.int64) * mat.shape[1], lens


def _fixed_piece(raw: np.ndarray, width: int, valid: np.ndarray | None) -> _Piece:
    n = len(raw) // width
    lens = np.full(n, width, np.int64)
    if valid is not None:
        lens[~valid] = 0
    return raw, np.arange(n, dtype=np.int64) * width, lens


def _bytes_pieces(col: pa.Array, valid: np.ndarray | None) -> list[_Piece]:
    """Length varint + raw bytes of a string/binary column, straight from
    its Arrow offsets and data buffers."""
    _, offsets, data = col.buffers()
    width = 8 if pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type) else 4
    off = np.frombuffer(
        offsets, np.dtype(f"<i{width}"), len(col) + 1, col.offset * width
    ).astype(np.int64)
    lens = np.diff(off)
    if valid is not None:
        lens[~valid] = 0
    raw = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
    return [_varint_piece(lens, valid), (raw, off[:-1], lens)]


def _int64_column(f: _Field, col: pa.Array) -> np.ndarray:
    """The long each row stores: the value, days since the epoch, or the
    timestamp in the logical type's unit (floored, as the per-value codec)."""
    unit = _TIMESTAMP_UNITS.get(f.logical)
    if unit is not None or f.logical == "date":
        want = pa.types.is_timestamp if unit else pa.types.is_date
        if not want(col.type):
            raise AvroBinaryError(
                f"field {f.name!r}: {f.logical} needs a temporal column, got {col.type}"
            )
        if unit:
            col = col.cast(pa.timestamp("us", col.type.tz))
        else:
            col = col.cast(pa.date32()).cast(pa.int32())
    v = col.cast(pa.int64()).fill_null(0).to_numpy()
    return v // 1000 if unit == "ms" else v


def _kernel_pieces(f: _Field, col: pa.Array, valid: np.ndarray | None) -> list[_Piece]:
    k = f.kernel
    if k in ("long", "int"):
        return [_varint_piece(_int64_column(f, col), valid)]
    if k in ("float", "double"):
        width = 4 if k == "float" else 8
        arrow_type = pa.float32() if k == "float" else pa.float64()
        v = col.cast(arrow_type).fill_null(0).to_numpy().astype(f"<f{width}")
        return [_fixed_piece(v.view(np.uint8), width, valid)]
    if k == "boolean":
        v = col.cast(pa.bool_()).fill_null(False).to_numpy(zero_copy_only=False)
        return [_fixed_piece(v.astype(np.uint8), 1, valid)]
    return _bytes_pieces(col.cast(pa.string() if k == "string" else pa.binary()), valid)


def _row_value(arrow_type: pa.DataType) -> Callable[[Any], Any]:
    """Arrow ``to_pylist`` value → the value the per-value encoder takes,
    as a Spark ``Row`` would carry it: struct → tuple (positional), map →
    dict, zoned timestamp → naive UTC."""
    if pa.types.is_struct(arrow_type):
        subs = [(arrow_type.field(i).name, _row_value(arrow_type.field(i).type))
                for i in range(arrow_type.num_fields)]
        return lambda v: None if v is None else tuple(conv(v[name]) for name, conv in subs)
    if pa.types.is_map(arrow_type):
        item = _row_value(arrow_type.item_type)
        return lambda v: None if v is None else {k: item(x) for k, x in v}
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        item = _row_value(arrow_type.value_type)
        return lambda v: None if v is None else [item(x) for x in v]
    if pa.types.is_timestamp(arrow_type) and arrow_type.tz:
        utc = datetime.timezone.utc
        return lambda v: None if v is None else v.astimezone(utc).replace(tzinfo=None)
    return lambda v: v


def _fallback_piece(f: _Field, col: pa.Array) -> _Piece:
    row_value = _row_value(col.type)
    bo = io.BytesIO()
    ends = []
    for v in col.to_pylist():
        f.encode(bo, row_value(v))
        ends.append(bo.tell())
    end = np.array(ends, np.int64)
    lens = np.diff(end, prepend=0)
    return np.frombuffer(bo.getvalue(), np.uint8), end - lens, lens


def _encode_batch(
    fields: tuple[_Field, ...], batch: pa.RecordBatch
) -> tuple[np.ndarray, np.ndarray]:
    """(row-major Avro bytes, row offsets) of one record batch; columns map
    to fields by position."""
    if batch.num_columns != len(fields):
        raise AvroBinaryError(
            f"batch has {batch.num_columns} columns, schema has {len(fields)} fields"
        )
    n = batch.num_rows
    pieces: list[_Piece] = []
    for f, col in zip(fields, batch.columns):
        if f.kernel is None:
            pieces.append(_fallback_piece(f, col))
            continue
        valid = None
        if col.null_count:
            if not f.nullable:
                raise AvroBinaryError(f"field {f.name!r}: null in a non-nullable field")
            valid = col.is_valid().to_numpy(zero_copy_only=False)
        if f.nullable:
            branch = np.full(n, f.value_idx, np.int64)
            if valid is not None:
                branch[~valid] = f.null_idx
            pieces.append(_varint_piece(branch, None))
        pieces.extend(_kernel_pieces(f, col, valid))

    row_off = np.zeros(n + 1, np.int64)
    np.cumsum(sum(lens for _, _, lens in pieces), out=row_off[1:])
    out = np.empty(int(row_off[-1]), np.uint8)
    cursor = row_off[:-1].copy()
    for src, starts, lens in pieces:
        total = int(lens.sum())
        if total:
            # byte j of row i's piece: out[cursor[i] + j] = src[starts[i] + j]
            step = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
            out[np.repeat(cursor, lens) + step] = src[np.repeat(starts, lens) + step]
        cursor += lens
    return out, row_off


# ---------------------------------------------------------------------------
# object container file: write


def _sync_marker(seed: int) -> bytes:
    """16 deterministic sync bytes from ``seed`` via a tiny LCG."""
    state = seed & 0xFFFFFFFF or 1
    sync = bytearray()
    for _ in range(SYNC_SIZE):
        state = (state * 1103515245 + 12345) & 0xFFFFFFFF
        sync.append((state >> 16) & 0xFF)
    return bytes(sync)


def _write_header(fo: BinaryIO, schema_json: str, codec: str, sync: bytes) -> None:
    if codec not in ("null", "deflate"):
        raise AvroBinaryError(f"unsupported codec {codec!r}")
    fo.write(MAGIC)
    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    write_long(fo, len(meta))
    for k, v in meta.items():
        write_bytes(fo, k.encode("utf-8"))
        write_bytes(fo, v)
    write_long(fo, 0)
    fo.write(sync)


def _write_block(fo: BinaryIO, codec: str, sync: bytes, count: int, data) -> None:
    if codec == "deflate":
        # Raw RFC 1951 deflate per the Avro spec: no zlib header, no
        # Adler-32 trailer. compressobj(wbits=-15) emits exactly that
        # (slicing zlib.compress output would leave trailer bytes).
        # Default level (6), as Avro Java and spark.sql.avro.deflate.level.
        c = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
        data = c.compress(data) + c.flush()
    write_long(fo, count)
    write_long(fo, len(data))
    fo.write(data)
    fo.write(sync)


def _schema_json(schema: dict | str) -> str:
    return schema if isinstance(schema, str) else json.dumps(schema)


def write_container(
    path: str,
    schema: dict | str,
    records: Iterable[Any],
    codec: str = "null",
    block_records: int = 1000,
    sync_seed: int = 42,
) -> int:
    """Write an Avro Object Container File from Python records; returns the
    record count. The row-API reference encoder: ``write_container_batches``
    writes the same bytes from Arrow batches.

    Deterministic: the sync marker derives from ``sync_seed`` (not random
    bytes), so identical inputs produce identical files — the property the
    correctness fixtures rely on. ``block_records`` bounds block size; the
    per-round fixture uses small blocks deliberately so the splittable read
    path exercises many-block files even at sf0.01.
    """
    schema_json = _schema_json(schema)
    encode = compile_encoder(schema_json)
    sync = _sync_marker(sync_seed)
    n = 0
    with open(path, "wb") as fo:
        _write_header(fo, schema_json, codec, sync)
        buf = io.BytesIO()
        count = 0
        for rec in records:
            encode(buf, rec)
            count += 1
            n += 1
            if count >= block_records:
                _write_block(fo, codec, sync, count, buf.getvalue())
                buf.seek(0)
                buf.truncate()
                count = 0
        if count:
            _write_block(fo, codec, sync, count, buf.getvalue())
    return n


def write_container_batches(
    path: str,
    schema: dict | str,
    batches: Iterable[pa.RecordBatch],
    codec: str = "null",
    block_records: int = 1000,
    sync_seed: int = 42,
) -> int:
    """Write an Avro Object Container File from Arrow record batches whose
    columns are the record's fields in order; returns the record count.

    Byte-identical to ``write_container`` on the same rows: each batch is
    encoded column-wise into one row-major buffer and cut into blocks of
    ``block_records`` rows, a partial block carrying over into the next
    batch, so no more than one batch and one block are held at a time. A
    column is cast to its field's Avro type (Arrow safe casts); a column
    that cannot be cast, or a null in a non-nullable field, raises.
    """
    schema_json = _schema_json(schema)
    fields = _record_fields(schema_json)
    sync = _sync_marker(sync_seed)
    block_records = max(block_records, 1)  # write_container's blocks of one
    n = 0
    with open(path, "wb") as fo:
        _write_header(fo, schema_json, codec, sync)
        block, count = bytearray(), 0
        for batch in batches:
            rows = batch.num_rows
            if not rows:
                continue
            buf, row_off = _encode_batch(fields, batch)
            i = 0
            while i < rows:
                take = min(block_records - count, rows - i)
                block += memoryview(buf[row_off[i] : row_off[i + take]])
                count += take
                i += take
                if count == block_records:
                    _write_block(fo, codec, sync, count, block)
                    block, count = bytearray(), 0
            n += rows
        if count:
            _write_block(fo, codec, sync, count, block)
    return n


# ---------------------------------------------------------------------------
# object container file: read


def read_header(fo: BinaryIO) -> tuple[str, str, bytes, int]:
    """Parse the container header → (schema_json, codec, sync, body_offset)."""
    if _read_exact(fo, 4) != MAGIC:
        raise AvroBinaryError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        count = read_long(fo)
        if count == 0:
            break
        if count < 0:
            count = -count
            read_long(fo)
        for _ in range(count):
            k = read_bytes(fo).decode("utf-8")
            meta[k] = read_bytes(fo)
    sync = _read_exact(fo, SYNC_SIZE)
    if "avro.schema" not in meta:
        name = getattr(fo, "name", "<stream>")
        raise AvroBinaryError(f"{name}: header ending at byte {fo.tell()} has no avro.schema")
    schema_json = meta["avro.schema"].decode("utf-8")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema_json, codec, sync, fo.tell()


def read_container(path: str) -> tuple[str, Iterator[Any]]:
    """Whole-file sequential read → (schema_json, record iterator).

    One ``read_container_split`` over the whole body; it backs tests and
    driver-side fixture verification.
    """
    with open(path, "rb") as fo:
        schema_json, codec, sync, body_offset = read_header(fo)
    size = os.path.getsize(path)
    return schema_json, read_container_split(
        path, body_offset - SYNC_SIZE, size, schema_json, codec, sync.hex()
    )


def _seek_to_sync(fo: BinaryIO, start: int, end: int, sync: bytes) -> int:
    """Scan ``[start, end)`` for the first sync marker; return the offset
    just after it (a block boundary), or -1 if none — the Hadoop-style
    split-alignment rule. Reads in 64 KiB chunks with a SYNC_SIZE-1 overlap
    so markers spanning chunk edges are found."""
    fo.seek(start)
    pos = start
    tail = b""
    chunk_size = 64 * 1024
    while pos < end:
        # read up to SYNC_SIZE past `end` so a marker STARTING in-range but
        # extending beyond it is still found (it belongs to this split)
        chunk = fo.read(min(chunk_size, end - pos + SYNC_SIZE))
        if not chunk:
            return -1
        hay = tail + chunk
        i = hay.find(sync)
        if i != -1:
            marker_start = pos - len(tail) + i
            if marker_start >= end:  # next split's marker
                return -1
            return marker_start + SYNC_SIZE
        tail = hay[-(SYNC_SIZE - 1):]
        pos += len(chunk)
    return -1


def _varint_src(var: str, ind: str) -> list[str]:
    """Source lines reading one zigzag varint at ``buf[pos]`` into ``var``."""
    return [
        f"{ind}b = buf[pos]",
        f"{ind}pos += 1",
        f"{ind}if b < 128:",
        f"{ind}    {var} = (b >> 1) ^ -(b & 1)",
        f"{ind}else:",
        f"{ind}    {var} = b & 127",
        f"{ind}    s = 7",
        f"{ind}    while True:",
        f"{ind}        b = buf[pos]",
        f"{ind}        pos += 1",
        f"{ind}        {var} |= (b & 127) << s",
        f"{ind}        if b < 128:",
        f"{ind}            break",
        f"{ind}        s += 7",
        f"{ind}    if s > 63:",
        f"{ind}        raise AvroBinaryError('varint too long')",
        f"{ind}    {var} = ({var} >> 1) ^ -({var} & 1)",
    ]


def _kernel_src(kernel: str, ind: str) -> list[str]:
    """Source lines reading one ``kernel`` value at ``buf[pos]`` into ``x``."""
    if kernel in ("long", "int"):
        return _varint_src("x", ind)
    if kernel in ("float", "double"):
        width = 4 if kernel == "float" else 8
        return [f"{ind}x = unpack_f{width}(buf, pos)[0]", f"{ind}pos += {width}"]
    if kernel == "boolean":
        return [f"{ind}x = buf[pos] != 0", f"{ind}pos += 1"]
    return _varint_src("n", ind) + [  # string, bytes: raw bytes, decoded later
        f"{ind}if n < 0:",
        f"{ind}    raise AvroBinaryError(f'negative bytes length {{n}}')",
        f"{ind}x = buf[pos:pos + n]",
        f"{ind}pos += n",
    ]


@lru_cache(maxsize=32)
def _block_decoder(schema_json: str) -> Callable[[bytes, int, list[list]], int]:
    """``decode_block(buf, count, columns) -> end``: append ``count`` records
    of the inflated block ``buf`` to one list per field, walking ``buf`` by
    integer offset. Generated once per schema, so the record loop runs no
    schema dispatch and no per-field call for kernel fields. Integer-backed
    temporal fields stay integers; strings stay UTF-8 bytes."""
    fields = _record_fields(schema_json)
    lines = ["def decode_block(buf, count, columns):"]
    lines += [f"    a{i} = columns[{i}].append" for i in range(len(fields))]
    lines += ["    bo = BytesIO(buf)", "    pos = 0", "    for _ in range(count):"]
    ind = " " * 8
    for i, f in enumerate(fields):
        if f.kernel is None:
            lines += [f"{ind}bo.seek(pos)", f"{ind}a{i}(d{i}(bo))", f"{ind}pos = bo.tell()"]
        elif f.nullable:
            lines += _varint_src("u", ind)
            lines += [f"{ind}if u == {f.null_idx}:", f"{ind}    a{i}(None)"]
            lines += [f"{ind}elif u == {f.value_idx}:"]
            lines += _kernel_src(f.kernel, ind + "    ") + [f"{ind}    a{i}(x)"]
            lines += [
                f"{ind}else:",
                f"{ind}    raise AvroBinaryError(f'union branch {{u}} out of range')",
            ]
        else:
            lines += _kernel_src(f.kernel, ind) + [f"{ind}a{i}(x)"]
    lines.append("    return pos")
    namespace = {
        "AvroBinaryError": AvroBinaryError,
        "BytesIO": io.BytesIO,
        "unpack_f4": struct.Struct("<f").unpack_from,
        "unpack_f8": struct.Struct("<d").unpack_from,
        **{f"d{i}": f.decode for i, f in enumerate(fields)},
    }
    exec("\n".join(lines), namespace)
    return namespace["decode_block"]


def _split_blocks(
    path: str,
    split_start: int,
    split_end: int,
    schema_json: str,
    codec: str,
    sync_hex: str,
    columns: list[list],
) -> Iterator[int]:
    """Decode the blocks owned by byte split [split_start, split_end) into
    ``columns`` (one list per field), yielding after each block.

    Ownership rule (same as Avro's Hadoop input format): a block is owned
    by the split in which its PRECEDING sync marker starts. Align to the
    first sync starting in ``[split_start, split_end)`` (the header's
    trailing sync counts — the planner passes ``body_offset - SYNC_SIZE``
    as the first split's start), decode that block, and keep going while
    each block's preceding sync started before ``split_end``. Every block
    is read by exactly one task, any byte range works, and no coordination
    beyond the header parse is needed — this is what makes a 100 TB
    container file scan out to one task per ~128 MB split. A malformed
    block raises ``AvroBinaryError`` naming ``path`` and the block's offset.
    """
    sync = bytes.fromhex(sync_hex)
    decode_block = _block_decoder(schema_json)
    with open(path, "rb") as fo:
        file_size = os.fstat(fo.fileno()).st_size
        pos = _seek_to_sync(fo, split_start, split_end, sync)
        if pos == -1:
            return
        fo.seek(pos)
        while pos < file_size:
            try:
                count = read_long(fo)
                data = _read_exact(fo, read_long(fo))
                if codec == "deflate":
                    try:
                        data = zlib.decompress(data, -15)
                    except zlib.error as exc:
                        raise AvroBinaryError(f"deflate: {exc}") from exc
                elif codec != "null":
                    raise AvroBinaryError(f"unsupported codec {codec!r}")
                if _read_exact(fo, SYNC_SIZE) != sync:
                    raise AvroBinaryError("sync marker mismatch (corrupt block)")
                try:
                    end = decode_block(data, count, columns)
                except (IndexError, struct.error) as exc:
                    raise AvroBinaryError("unexpected EOF in block") from exc
                if end != len(data):
                    raise AvroBinaryError(
                        "unexpected EOF in block" if end > len(data) else "trailing bytes in block"
                    )
            except AvroBinaryError as exc:
                raise AvroBinaryError(f"{path}: block at byte {pos}: {exc}") from exc
            yield count
            pos = fo.tell()
            # the block we'd read next is preceded by the sync we just
            # consumed at pos - SYNC_SIZE; past split_end it belongs to
            # the next task
            if pos - SYNC_SIZE >= split_end:
                return


def _py_column(f: _Field) -> Callable[[Any], Any] | None:
    """Decoded column value → row-API value, or None where they agree."""
    if f.kernel == "string":
        convert = bytes.decode
    else:
        convert = _FROM_INT.get((f.kernel, f.logical))
        if convert is None:
            return None
    if f.nullable:
        return lambda v: None if v is None else convert(v)
    return convert


def read_container_split(
    path: str,
    split_start: int,
    split_end: int,
    schema_json: str,
    codec: str,
    sync_hex: str,
) -> Iterator[tuple]:
    """Records (tuples) of the blocks owned by byte split
    [split_start, split_end): the row API over ``_split_blocks``, with
    temporal fields as ``date``/``datetime``/``time`` and strings as ``str``."""
    fields = _record_fields(schema_json)
    columns: list[list] = [[] for _ in fields]
    convert = [_py_column(f) for f in fields]
    for _ in _split_blocks(path, split_start, split_end, schema_json, codec, sync_hex, columns):
        yield from zip(*(col if c is None else map(c, col) for c, col in zip(convert, columns)))
        for col in columns:
            col.clear()


def _arrow_column(f: _Field, target: pa.DataType) -> Callable[[list], pa.Array]:
    """Decoded column → Arrow array of ``target`` (the field's Spark type in
    Arrow). Integer-backed temporal columns are built as their storage type
    and cast, so no ``datetime`` objects are made."""
    storage = target
    if f.kernel in ("long", "int"):
        unit = _TIMESTAMP_UNITS.get(f.logical)
        if unit is not None:
            storage = pa.timestamp(unit, target.tz if pa.types.is_timestamp(target) else None)
        elif f.logical == "date":
            storage = pa.date32()
    if storage == target:
        return lambda col: pa.array(col, target)
    return lambda col: pa.array(col, storage).cast(target)


def read_container_batches(
    path: str,
    split_start: int,
    split_end: int,
    schema_json: str,
    codec: str,
    sync_hex: str,
    arrow_schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """The blocks owned by byte split [split_start, split_end) as Arrow
    record batches of ``arrow_schema`` (the Arrow form of the file's Spark
    schema), one batch per block: the columnar twin of
    ``read_container_split``."""
    fields = _record_fields(schema_json)
    columns: list[list] = [[] for _ in fields]
    build = [_arrow_column(f, t) for f, t in zip(fields, arrow_schema.types)]
    for _ in _split_blocks(path, split_start, split_end, schema_json, codec, sync_hex, columns):
        yield pa.RecordBatch.from_arrays(
            [b(col) for b, col in zip(build, columns)], schema=arrow_schema
        )
        for col in columns:
            col.clear()
