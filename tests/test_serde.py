"""Wire serde round-trips (TypeConversions.scala parity; F8 matrix)."""

from __future__ import annotations

import os
import re
import runpy

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.util import PythonEvalType

from kafka_streams_plumber_spark.sources.avro_codec import (
    AvroNullError,
    MalformedAvroError,
    decode_record,
    encode_record,
)
from kafka_streams_plumber_spark.sources.avro_compiled import decode_udf, encode_udf
from kafka_streams_plumber_spark.sources.serde import (
    WireType,
    decode,
    encode,
    parse_type,
    spark_type_of,
)
from kafka_streams_plumber_spark.streaming.runner import PlumberJob

DEMO_AVSC = """
{"type":"record","name":"Rec","fields":[
  {"name":"name","type":"string"},
  {"name":"n","type":"long"}]}
"""


def test_parse_type_specs(tmp_path):
    assert parse_type("long") == WireType("long")
    assert parse_type("string") == WireType("string")
    assert parse_type("void") == WireType("void")
    p = tmp_path / "s.avsc"
    p.write_text(DEMO_AVSC)
    wt = parse_type(f"avro={p}")
    assert wt.kind == "avro" and '"name"' in wt.avsc
    with pytest.raises(ValueError):
        parse_type("protobuf")


@pytest.mark.parametrize("n", [0, 1, 255, 256, 0x1337C0DE, 2**62, -1, -255, -(2**62)])
def test_long_roundtrip(spark, n):
    df = spark.createDataFrame([(n,)], "x long")
    wt = WireType("long")
    enc = df.select(encode(F.col("x"), wt).alias("b"))
    assert len(enc.collect()[0].b) == 8  # kafka LongSerde width
    out = enc.select(decode(F.col("b"), wt).alias("x")).collect()[0].x
    assert out == n


def test_long_big_endian_bytes(spark):
    df = spark.createDataFrame([(1,)], "x long")
    b = df.select(encode(F.col("x"), WireType("long")).alias("b")).collect()[0].b
    assert bytes(b) == b"\x00\x00\x00\x00\x00\x00\x00\x01"


def test_string_roundtrip(spark):
    df = spark.createDataFrame([("héllo",)], "s string")
    wt = WireType("string")
    out = (
        df.select(encode(F.col("s"), wt).alias("b"))
        .select(decode(F.col("b"), wt).alias("s"))
        .collect()[0]
        .s
    )
    assert out == "héllo"


def test_void_is_null(spark):
    df = spark.createDataFrame([("x",)], "s string")
    wt = WireType("void")
    assert df.select(encode(F.col("s"), wt).alias("b")).collect()[0].b is None
    assert df.select(decode(F.col("s"), wt).alias("v")).collect()[0].v is None


def test_avro_roundtrip(spark):
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(Row(name="roel", n=14),)], "v struct<name:string, n:long>")
    enc = df.select(encode(F.col("v"), wt).alias("b"))
    raw = enc.collect()[0].b
    assert isinstance(bytes(raw), bytes) and len(raw) > 0
    out = enc.select(decode(F.col("b"), wt).alias("v")).collect()[0].v
    assert out == Row(name="roel", n=14)


def test_avro_confluent_framing_roundtrip(spark):
    wt = WireType("avro", DEMO_AVSC)
    df = spark.createDataFrame([(Row(name="x", n=1),)], "v struct<name:string, n:long>")
    enc = df.select(encode(F.col("v"), wt, confluent_framing=True, schema_id=7).alias("b"))
    raw = bytes(enc.collect()[0].b)
    assert raw[0] == 0 and raw[1:5] == (7).to_bytes(4, "big")  # magic + id
    out = enc.select(
        decode(F.col("b"), wt, confluent_framing=True).alias("v")
    ).collect()[0].v
    assert out == Row(name="x", n=1)


def test_spark_type_of():
    from pyspark.sql import types as T

    assert spark_type_of(WireType("long")) == T.LongType()
    assert spark_type_of(WireType("string")) == T.StringType()
    assert isinstance(spark_type_of(WireType("avro", DEMO_AVSC)), T.StructType)


NWAY_AVSC = """
{"type":"record","name":"Rec","fields":[
  {"name":"id","type":"long"},
  {"name":"u","type":["null","long","string"]}]}
"""


def test_avro_nway_union_roundtrip(spark):
    """An N-way union decodes to spark_type's struct of branches and
    encodes back from it: the first non-null branch, else null."""
    wt = WireType("avro", NWAY_AVSC)
    raw = [
        encode_record(v, wt.model)
        for v in ({"id": 1, "u": 5}, {"id": 2, "u": "five"}, {"id": 3, "u": None})
    ]
    df = spark.createDataFrame([(b,) for b in raw], "b binary")
    rows = (
        df.select(decode(F.col("b"), wt).alias("v"))
        .select("v", encode(F.col("v"), wt).alias("b"))
        .collect()
    )
    assert [r.v for r in rows] == [
        Row(id=1, u=Row(long=5, string=None)),
        Row(id=2, u=Row(long=None, string="five")),
        Row(id=3, u=None),
    ]
    assert [bytes(r.b) for r in rows] == raw


@pytest.mark.parametrize("damage", ["truncated", "trailing_junk"])
def test_avro_malformed_payload_fails_loud(spark, damage):
    wt = WireType("avro", DEMO_AVSC)
    good = encode_record({"name": "roel", "n": 14}, wt.model)
    bad = good[:-1] if damage == "truncated" else good + b"\x07junk"
    with pytest.raises(MalformedAvroError, match="malformed avro payload"):
        decode_record(bad, wt.model)
    # the bad payload first: a truncated read must not run on into the next
    df = spark.createDataFrame([(bad,), (good,)], "b binary")
    with pytest.raises(Exception, match="malformed avro payload"):
        df.select(decode(F.col("b"), wt)).collect()


def test_avro_encode_null_into_non_null_field_is_named(spark):
    wt = WireType("avro", DEMO_AVSC)
    with pytest.raises(AvroNullError, match="null for non-null long at n"):
        encode_record({"name": "x", "n": None}, wt.model)
    df = spark.createDataFrame(
        [(Row(name="x", n=None),)], "v struct<name:string, n:long>"
    )
    with pytest.raises(Exception, match="null for non-null long at n"):
        df.select(encode(F.col("v"), wt)).collect()


def test_demo_job_codecs_are_arrow_udfs_in_the_executed_plan(spark):
    """Pins the compiled codec: the demo job's decode and encode are
    scalar arrow_udfs, and its executed plan has exactly those two
    Python evaluations, with no row-at-a-time BatchEvalPython."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ex = runpy.run_path(os.path.join(root, "examples", "streaming", "example.py"))
    in_v = parse_type(f"avro={ex['IN_AVSC']}")
    out_v = parse_type(f"avro={ex['OUT_AVSC']}")
    arrow = PythonEvalType.SQL_SCALAR_ARROW_UDF
    assert decode_udf(in_v.model).evalType == arrow
    assert encode_udf(out_v.model).evalType == arrow

    void = WireType("void")
    job = PlumberJob(spark, ex["pipeline"](), "", "in", "out", void, in_v, void, out_v)
    raw = spark.createDataFrame(
        [(None, encode_record(v, in_v.model)) for _k, v in ex["fixtures"]()],
        "key binary, value binary",
    )
    typed = raw.select(
        decode(F.col("key"), job.input_key).alias("key"),
        decode(F.col("value"), job.input_value).alias("value"),
    )
    out = job._transformed(typed).select(  # noqa: SLF001
        encode(F.col("key"), job.output_key).alias("key"),
        encode(F.col("value"), job.output_value).alias("value"),
    )
    assert [bytes(r.value) for r in out.collect()] == [
        encode_record(v, out_v.model) for _k, v in ex["expectations"]()
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert re.findall(r"ArrowEvalPython .*, (\d+)$", plan, re.M) == [str(arrow)] * 2
    assert "BatchEvalPython" not in plan
