"""Pure-Python Avro binary codec for the reference's supported type
subset (LuaMapper.scala:16-28): null, boolean, int, long, float, double,
string, bytes, enum, array, record, union.

Implements the Avro 1.x binary encoding spec directly (zigzag varints,
little-endian IEEE floats, length-prefixed strings, block-encoded
arrays, index-prefixed unions), one value at a time by walking the
schema model. It is the spec-direct reference: the stream path's wire
codec is sources/avro_compiled.py (the same semantics compiled per
schema into Arrow-native code), which is checked against this one
byte for byte; the benchmark oracle, avro_ocf and registry_decode's
per-record writer resolution use this one directly.

The codec is driven by the same parsed schema model as conform()
(sources/avsc.py), so union branch order and enum symbol order are
preserved exactly. Values have ``spark_type``'s shape: ``[null, T]``
is a nullable T and an N-way union a dict with one key per non-null
branch (``branch_name``), exactly one set; encode takes the first
non-null branch (and also accepts a bare value, written to the first
branch that accepts it).

Bad input fails loudly: decoding raises :class:`MalformedAvroError`
("malformed avro payload: ...") on a truncated payload, trailing
bytes, an out-of-range union/enum index, a negative length, a boolean
byte other than 0/1, an int/long out of range or invalid UTF-8;
encoding a null for a type without a null branch raises
:class:`AvroNullError`, which names the field.
"""

from __future__ import annotations

import struct
from typing import Any

from pyspark.sql import types as T

from kafka_streams_plumber_spark.operators.conform import (
    Array,
    Enum,
    Record,
    Union,
    branch_name,
)

_INT_RANGE = {T.IntegerType: 1 << 31, T.LongType: 1 << 63}


class MalformedAvroError(ValueError):
    """Payload bytes that are not one complete value of the schema."""

    def __init__(self, detail: str):
        super().__init__(f"malformed avro payload: {detail}")
        self.detail = detail


class AvroNullError(ValueError):
    """A null to encode where the Avro type has no null branch."""

    def __init__(self, type_name: str):
        super().__init__(type_name)
        self.type_name = type_name
        #: field names from the failing value up to the root
        self.path: list[str] = []

    def __str__(self) -> str:
        where = ".".join(reversed(self.path)) or "<root>"
        return f"avro encode: null for non-null {self.type_name} at {where}"


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ---------------------------------------------------------------------------
# schema-driven encode/decode
# ---------------------------------------------------------------------------


def encode_value(v: Any, schema: Any) -> bytes:
    if v is None and not isinstance(schema, (T.NullType, Union)):
        raise AvroNullError(branch_name(schema))
    if isinstance(schema, T.NullType):
        return b""
    if isinstance(schema, Union):
        if v is not None and _is_branch_struct(v, schema):
            # spark_type's struct of branches: the first non-null branch
            get = _getter(v)
            v = None
            for i, branch in enumerate(schema.branches):
                if not isinstance(branch, T.NullType):
                    x = get(branch_name(branch))
                    if x is not None:
                        return _zigzag_encode(i) + encode_value(x, branch)
        for i, branch in enumerate(schema.branches):
            if _branch_accepts(v, branch):
                return _zigzag_encode(i) + encode_value(v, branch)
        if v is None:
            raise AvroNullError("union")
        raise ValueError(f"no union branch for {v!r}")
    if isinstance(schema, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(schema, (T.IntegerType, T.LongType)):
        return _zigzag_encode(int(v))
    if isinstance(schema, T.FloatType):
        return struct.pack("<f", float(v))
    if isinstance(schema, T.DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(schema, T.StringType):
        raw = str(v).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if isinstance(schema, T.BinaryType):
        raw = bytes(v)
        return _zigzag_encode(len(raw)) + raw
    if isinstance(schema, Enum):
        return _zigzag_encode(schema.symbols.index(v))
    if isinstance(schema, Array):
        items = list(v)
        out = b""
        if items:
            out += _zigzag_encode(len(items))
            for item in items:
                out += encode_value(item, schema.element)
        return out + _zigzag_encode(0)
    if isinstance(schema, Record):
        out = b""
        get = _getter(v)
        for f in schema.fields:
            try:
                out += encode_value(get(f.name), f.type)
            except AvroNullError as e:
                e.path.append(f.name)
                raise
        return out
    raise NotImplementedError(f"avro encode: {schema!r}")


def _getter(v: Any):
    """Field lookup on a dict, a Row or an object; absent fields are None."""
    if isinstance(v, dict):
        return v.get
    if hasattr(v, "__fields__"):
        return lambda k: v[k] if k in v.__fields__ else None
    return lambda k: getattr(v, k, None)


def _is_branch_struct(v: Any, schema: Union) -> bool:
    """``v`` is spark_type's struct of an N-way union's branches: a dict
    or Row whose keys are all branch names."""
    nn = schema.non_null
    if len(nn) == 1:
        return False
    keys = v.keys() if isinstance(v, dict) else getattr(v, "__fields__", None)
    return keys is not None and set(keys) <= {branch_name(b) for b in nn}


def _branch_accepts(v: Any, branch: Any) -> bool:
    if isinstance(branch, T.NullType):
        return v is None
    if v is None:
        return False
    if isinstance(branch, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(branch, (T.IntegerType, T.LongType)):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(branch, (T.FloatType, T.DoubleType)):
        return isinstance(v, float)
    if isinstance(branch, (T.StringType,)):
        return isinstance(v, str)
    if isinstance(branch, T.BinaryType):
        return isinstance(v, (bytes, bytearray))
    if isinstance(branch, Enum):
        return isinstance(v, str)
    if isinstance(branch, Array):
        return isinstance(v, (list, tuple))
    if isinstance(branch, Record):
        return isinstance(v, dict) or hasattr(v, "__fields__")
    return False


def _index(i: int, n: int, what: str) -> int:
    if not 0 <= i < n:
        raise MalformedAvroError(f"{what} index {i} out of range")
    return i


def decode_value(buf: bytes, pos: int, schema: Any) -> tuple[Any, int]:
    if isinstance(schema, T.NullType):
        return None, pos
    if isinstance(schema, Union):
        idx, pos = _zigzag_decode(buf, pos)
        branches = schema.branches
        branch = branches[_index(idx, len(branches), "union")]
        v, pos = decode_value(buf, pos, branch)
        nn = schema.non_null
        if len(nn) == 1 or isinstance(branch, T.NullType):
            return v, pos
        # N-way: spark_type's struct of branches, exactly one set
        return {
            branch_name(b): v if j == idx else None
            for j, b in enumerate(branches)
            if not isinstance(b, T.NullType)
        }, pos
    if isinstance(schema, T.BooleanType):
        b = buf[pos]
        if b > 1:
            raise MalformedAvroError(f"boolean byte {b}")
        return b == 1, pos + 1
    if isinstance(schema, (T.IntegerType, T.LongType)):
        v, pos = _zigzag_decode(buf, pos)
        lim = _INT_RANGE[type(schema)]
        if not -lim <= v < lim:
            raise MalformedAvroError(f"{branch_name(schema)} {v} out of range")
        return v, pos
    if isinstance(schema, T.FloatType):
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if isinstance(schema, T.DoubleType):
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if isinstance(schema, (T.StringType, T.BinaryType)):
        n, pos = _zigzag_decode(buf, pos)
        if not 0 <= n <= len(buf) - pos:
            raise MalformedAvroError(f"length {n} past the payload")
        raw = bytes(buf[pos : pos + n])
        return (raw.decode("utf-8") if isinstance(schema, T.StringType) else raw), pos + n
    if isinstance(schema, Enum):
        idx, pos = _zigzag_decode(buf, pos)
        return schema.symbols[_index(idx, len(schema.symbols), "enum")], pos
    if isinstance(schema, Array):
        items = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # block with byte-size prefix
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                item, pos = decode_value(buf, pos, schema.element)
                items.append(item)
    if isinstance(schema, Record):
        out = {}
        for f in schema.fields:
            out[f.name], pos = decode_value(buf, pos, f.type)
        return out, pos
    raise NotImplementedError(f"avro decode: {schema!r}")


def encode_record(v: Any, schema: Record) -> bytes:
    return encode_value(v, schema)


def decode_record(buf: bytes, schema: Record) -> dict:
    """Decode one complete payload; anything but exactly one value of
    ``schema`` raises :class:`MalformedAvroError`."""
    buf = bytes(buf)
    try:
        out, pos = decode_value(buf, 0, schema)
    except (IndexError, struct.error, UnicodeDecodeError) as e:
        raise MalformedAvroError(f"truncated or corrupt ({e})") from None
    if pos != len(buf):
        raise MalformedAvroError(f"{len(buf) - pos} trailing bytes")
    return out
