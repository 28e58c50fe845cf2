"""The compiled Arrow-native Avro codec (sources/avro_compiled.py) against
the spec-direct interpreter (sources/avro_codec.py), in both directions.

Schemas are generated from the whole supported type set (null, boolean,
int, long, float, double, string, bytes, enum, array, nested record,
``[null, T]`` and N-way unions), with records for them that include the
int/long boundaries, non-ASCII text, NaN and -0.0. Floats compare bit
for bit. The Arrow-level properties need no Spark; the Spark property
batches each example into one DataFrame and checks it with one action,
like tests/test_property.py.
"""

from __future__ import annotations

import glob
import json
import math
import os
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from kafka_streams_plumber_spark.operators.conform import (
    Array,
    Enum,
    Record,
    Union,
    branch_name,
    spark_type,
)
from kafka_streams_plumber_spark.sources.avro_codec import (
    MalformedAvroError,
    decode_record,
    encode_record,
)
from kafka_streams_plumber_spark.sources.avro_compiled import (
    compile_decoder,
    compile_encoder,
)
from kafka_streams_plumber_spark.sources.avsc import parse_avsc
from kafka_streams_plumber_spark.sources.serde import WireType, decode, encode

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")

_PRIMITIVES = ["null", "boolean", "int", "long", "float", "double", "string", "bytes"]


# ---------------------------------------------------------------------------
# schemas: avsc JSON without names; names are assigned after drawing
# ---------------------------------------------------------------------------


def _kind(s) -> str:
    return s if isinstance(s, str) else s["type"]


def _schemas(depth: int):
    enum = st.integers(1, 4).map(
        lambda k: {"type": "enum", "symbols": [f"S{i}" for i in range(k)]}
    )
    plain = st.sampled_from(_PRIMITIVES) | enum
    if depth:
        inner = _schemas(depth - 1)
        plain = (
            plain
            | inner.map(lambda s: {"type": "array", "items": s})
            | st.lists(inner, min_size=0, max_size=3).map(
                lambda fs: {"type": "record", "fields": fs}
            )
        )
    # union branches: distinct kinds, never a union
    unions = st.lists(plain.filter(lambda s: not isinstance(s, list)),
                      min_size=1, max_size=4, unique_by=_kind)
    return plain | unions


def _name(node, counter=None):
    """Give records and enums unique names and fields names f0, f1, ..."""
    counter = counter if counter is not None else [0]
    if isinstance(node, list):
        return [_name(b, counter) for b in node]
    if isinstance(node, dict):
        counter[0] += 1
        if node["type"] == "record":
            return {"type": "record", "name": f"R{counter[0]}", "fields": [
                {"name": f"f{i}", "type": _name(f, counter)}
                for i, f in enumerate(node["fields"])
            ]}
        if node["type"] == "enum":
            return dict(node, name=f"E{counter[0]}")
        return {"type": "array", "items": _name(node["items"], counter)}
    return node


records = st.lists(_schemas(2), min_size=1, max_size=4).map(
    lambda fs: _name({"type": "record", "fields": fs})
)


# ---------------------------------------------------------------------------
# values of a model, in spark_type's shape
# ---------------------------------------------------------------------------

_I32, _I64 = 1 << 31, 1 << 63


def _ints(lim: int):
    return st.sampled_from([-lim, lim - 1, 0, -1]) | st.integers(-lim, lim - 1)


def values(m):
    if isinstance(m, Record):
        return st.fixed_dictionaries({f.name: values(f.type) for f in m.fields})
    if isinstance(m, Array):
        return st.lists(values(m.element), max_size=3)
    if isinstance(m, Enum):
        return st.sampled_from(m.symbols)
    if isinstance(m, Union):
        nn = m.non_null
        names = [branch_name(b) for b in nn]
        if len(nn) == 1:
            opts = [values(nn[0])]
        else:
            opts = [
                values(b).map(lambda x, n=n: {k: x if k == n else None for k in names})
                for n, b in zip(names, nn)
            ]
        return st.one_of(opts + ([st.none()] if m.nullable or not nn else []))
    if isinstance(m, T.BooleanType):
        return st.booleans()
    if isinstance(m, T.IntegerType):
        return _ints(_I32)
    if isinstance(m, T.LongType):
        return _ints(_I64)
    if isinstance(m, T.FloatType):
        return st.sampled_from([math.nan, -0.0]) | st.floats(width=32)
    if isinstance(m, T.DoubleType):
        return st.sampled_from([math.nan, -0.0]) | st.floats()
    if isinstance(m, T.StringType):
        return st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
    if isinstance(m, T.BinaryType):
        return st.binary(max_size=6)
    assert isinstance(m, T.NullType), m
    return st.none()


def _canon(v):
    """Comparable form: floats by their bits, bytes-likes as bytes."""
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, float):
        return ("float", struct.pack("<d", v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


@st.composite
def batches(draw, schema=None):
    """(schema text, model, records): one schema, its records and
    tombstones (None)."""
    schema = schema if schema is not None else json.dumps(draw(records))
    model = parse_avsc(schema)
    rows = draw(st.lists(st.none() | values(model), max_size=12))
    return schema, model, rows


def _payloads(model, rows) -> list:
    return [None if r is None else encode_record(r, model) for r in rows]


def _check_arrow(model, rows, cut):
    """Both directions on Arrow arrays, whole and sliced at ``cut``."""
    raw = _payloads(model, rows)
    arr = pa.array(raw, pa.binary())
    dec, enc = compile_decoder(model), compile_encoder(model)
    arrow_type = to_arrow_type(spark_type(model))
    for lo in (0, min(cut, len(raw))):
        got = dec(arr[lo:])
        assert got.type == arrow_type
        want = [None if b is None else decode_record(b, model) for b in raw[lo:]]
        assert _canon(got.to_pylist()) == _canon(want)
        # encode from the decoded array and from one built from the values
        for typed in (got, pa.array(rows, arrow_type)[lo:]):
            out = enc(typed).to_pylist()
            assert out == [
                None if v is None else encode_record(v, model) for v in typed.to_pylist()
            ]
        assert enc(got).to_pylist() == raw[lo:]


@settings(max_examples=60, deadline=None)
@given(batches(), st.integers(0, 12))
def test_compiled_codec_matches_reference_on_arrow(batch, cut):
    _, model, rows = batch
    _check_arrow(model, rows, cut)


@settings(max_examples=5, deadline=None)
@given(st.data())
@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(EXAMPLES, "**", "*.avsc"), recursive=True))
)
def test_example_schemas_compile_and_round_trip(path, data):
    with open(path) as f:
        schema = f.read()
    _, model, rows = data.draw(batches(schema))
    _check_arrow(model, rows, 1)


def _both_reject(model, payload, good):
    with pytest.raises(MalformedAvroError, match="malformed avro payload"):
        decode_record(payload, model)
    # a good payload after the bad one: a short read must not run on into it
    with pytest.raises(MalformedAvroError, match="malformed avro payload"):
        compile_decoder(model)(pa.array([payload, good], pa.binary()))


@settings(max_examples=30, deadline=None)
@given(batches())
def test_truncated_or_padded_payloads_fail_in_both_codecs(batch):
    _, model, rows = batch
    good = [b for b in _payloads(model, rows) if b is not None]
    if not good:
        return
    for cut in range(len(good[0])):
        _both_reject(model, good[0][:cut], good[0])
    _both_reject(model, good[0] + b"\x00", good[0])


@pytest.mark.parametrize("payload", [
    b"\x02\x00\x00",  # boolean byte 2
    b"\x00\x04\x00",  # enum index 2 of 2 symbols
    b"\x00\x01\x00",  # enum index -1
    b"\x00\x00\x04",  # union index 2 of 2 branches
    b"\x00\x00\x02\x80\x80\x80\x80\x80\x80\x80\x80\x80\x02",  # long past 64 bits
])
def test_out_of_range_values_fail_in_both_codecs(payload):
    model = parse_avsc(_name({"type": "record", "fields": [
        "boolean", {"type": "enum", "symbols": ["a", "b"]}, ["null", "long"]]}))
    _both_reject(model, payload, b"\x00\x00\x00")


def test_empty_batch():
    model = parse_avsc(_name({"type": "record", "fields": ["long", ["null", "string"]]}))
    empty = compile_decoder(model)(pa.array([], pa.binary()))
    assert len(empty) == 0 and empty.type == to_arrow_type(spark_type(model))
    assert compile_encoder(model)(empty).to_pylist() == []


@pytest.mark.parametrize("schema, rows", [
    ('"long"', [5, None, -(2**63)]),
    ('["null", "double"]', [2.5, None, -0.0]),
    ('["null", "long", "string"]', [{"long": 5, "string": None}, None,
                                    {"long": None, "string": "é"}]),
])
def test_non_record_top_level(schema, rows):
    _check_arrow(parse_avsc(schema), rows, 1)


@settings(max_examples=6, deadline=None)
@given(batches())
def test_serde_round_trip_matches_reference(spark, batch):
    """Through Spark: serde.decode then serde.encode in one action; the
    decoded rows equal decode_record and the re-encoded bytes equal the
    input."""
    schema, model, rows = batch
    raw = _payloads(model, rows)
    wt = WireType("avro", schema)
    df = spark.createDataFrame([(b,) for b in raw], "b binary")
    got = df.select(
        "b", decode(F.col("b"), wt).alias("v")
    ).select("b", "v", encode(F.col("v"), wt).alias("rt")).collect()
    for r in got:
        b = None if r["b"] is None else bytes(r["b"])
        want = None if b is None else decode_record(b, model)
        assert _canon(r["v"]) == _canon(want)
        assert (None if r["rt"] is None else bytes(r["rt"])) == b
