"""Schema-registry-resolved plain `avro` wire types: client contract,
driver-side reader pinning, per-record writer resolution (heterogeneous
topics), framed encode, HTTP client against a live local server.

Reference behavior mirrored: GenericAvroSerializer.scala:9-73 (schema
by embedded id at deserialize time), TypeConversions.scala:22 (plain
`avro` admitted with no .avsc).
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_plumber_spark.sources.avro_codec import encode_record
from kafka_streams_plumber_spark.sources.avsc import parse_avsc
from kafka_streams_plumber_spark.sources.registry import (
    FakeSchemaRegistry,
    HttpSchemaRegistryClient,
    SchemaNotFound,
)
from kafka_streams_plumber_spark.sources.serde import (
    decode,
    encode,
    parse_type,
    resolve_registry_type,
)

V1 = json.dumps(
    {
        "type": "record",
        "name": "m",
        "fields": [{"name": "a", "type": "long"}],
    }
)
V2 = json.dumps(
    {
        "type": "record",
        "name": "m",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
)


def _framed(schema_id: int, schema_text: str, value: dict) -> bytes:
    body = encode_record(value, parse_avsc(schema_text))
    return b"\x00" + schema_id.to_bytes(4, "big") + body


def test_fake_registry_contract():
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    id2 = reg.register("t-value", V2)
    assert id1 != id2
    assert reg.register("t-value", V1) == id1  # idempotent
    assert json.loads(reg.schema_by_id(id1)) == json.loads(V1)
    sid, text = reg.latest_schema("t-value")
    assert sid == id2 and json.loads(text) == json.loads(V2)
    with pytest.raises(SchemaNotFound):
        reg.schema_by_id(999)
    with pytest.raises(SchemaNotFound):
        reg.latest_schema("nope")


def test_parse_type_plain_avro_is_registry_resolved():
    wt = parse_type("avro")
    assert wt.kind == "avro" and wt.avsc is None and wt.registry_resolved


def test_resolve_registry_type_pins_latest():
    reg = FakeSchemaRegistry()
    reg.register("t-value", V1)
    sid2 = reg.register("t-value", V2)
    wt = resolve_registry_type(parse_type("avro"), reg, "t-value")
    assert wt.schema_id == sid2
    assert [f.name for f in wt.model.fields] == ["a", "b"]
    # no-op on pinned / non-avro types
    assert resolve_registry_type(parse_type("long"), reg, "t-value").kind == "long"


def test_resolve_registry_type_requires_registry():
    with pytest.raises(ValueError, match="schema registry"):
        resolve_registry_type(parse_type("avro"), None, "t-value")


def test_registry_decode_heterogeneous_writers(spark):
    """A topic carrying BOTH v1 and v2 writer ids decodes against the
    pinned v2 reader: v1 records null-fill the added field."""
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    id2 = reg.register("t-value", V2)
    wt = resolve_registry_type(parse_type("avro"), reg, "t-value")

    rows = [
        (_framed(id1, V1, {"a": 7}),),
        (_framed(id2, V2, {"a": 8, "b": "x"}),),
        (None,),
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("value", T.BinaryType())]))
    out = df.select(decode(F.col("value"), wt, registry=reg).alias("v"))
    got = {
        (None if r["v"] is None else (r["v"]["a"], r["v"]["b"]))
        for r in out.collect()
    }
    assert got == {(7, None), (8, "x"), None}


def test_registry_decode_nway_union_reader(spark):
    """An N-way union reader field decodes to its struct of branches,
    whether the writer wrote that union or a ``[null, long]`` one."""
    def schema(u):
        return json.dumps({"type": "record", "name": "m", "fields": [
            {"name": "a", "type": "long"}, {"name": "u", "type": u}]})

    narrow, wide = schema(["null", "long"]), schema(["null", "long", "string"])
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", narrow)
    id2 = reg.register("t-value", wide)
    wt = resolve_registry_type(parse_type("avro"), reg, "t-value")
    rows = [
        (_framed(id1, narrow, {"a": 1, "u": 5}),),
        (_framed(id2, wide, {"a": 2, "u": "x"}),),
        (_framed(id2, wide, {"a": 3, "u": None}),),
    ]
    df = spark.createDataFrame(rows, "value binary")
    out = df.select(decode(F.col("value"), wt, registry=reg).alias("v")).collect()
    got = sorted((r["v"]["a"], r["v"]["u"] and r["v"]["u"].asDict()) for r in out)
    assert got == [(1, {"long": 5, "string": None}), (2, {"long": None, "string": "x"}),
                   (3, None)]


def test_registry_encode_frames_with_registered_id(spark):
    reg = FakeSchemaRegistry()
    sid = reg.register("out-value", V1)
    wt = resolve_registry_type(parse_type("avro"), reg, "out-value")
    df = spark.createDataFrame([(5,)], "a long").select(
        F.struct(F.col("a")).alias("v")
    )
    (raw,) = df.select(encode(F.col("v"), wt).alias("b")).collect()
    b = bytes(raw["b"])
    assert b[0] == 0 and int.from_bytes(b[1:5], "big") == sid
    # body round-trips through the decode path
    df2 = spark.createDataFrame([(b,)], T.StructType([T.StructField("value", T.BinaryType())]))
    (back,) = df2.select(decode(F.col("value"), wt, registry=reg).alias("v")).collect()
    assert back["v"]["a"] == 5


def _registry_http_server(reg: FakeSchemaRegistry):
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            try:
                if self.path.startswith("/schemas/ids/"):
                    sid = int(self.path.rsplit("/", 1)[1])
                    doc = {"schema": reg.schema_by_id(sid)}
                elif self.path.startswith("/subjects/") and self.path.endswith(
                    "/versions/latest"
                ):
                    subject = self.path.split("/")[2]
                    sid, text = reg.latest_schema(subject)
                    doc = {"id": sid, "schema": text, "subject": subject}
                else:
                    raise SchemaNotFound(self.path)
            except SchemaNotFound:
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b'{"error_code": 40403}')
                return
            payload = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_http_client_against_live_server():
    reg = FakeSchemaRegistry()
    id1 = reg.register("t-value", V1)
    srv = _registry_http_server(reg)
    try:
        client = HttpSchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        assert json.loads(client.schema_by_id(id1)) == json.loads(V1)
        sid, text = client.latest_schema("t-value")
        assert sid == id1 and json.loads(text) == json.loads(V1)
        with pytest.raises(SchemaNotFound):
            client.schema_by_id(12345)
        # cache: survives server death for known ids
        srv.shutdown()
        assert json.loads(client.schema_by_id(id1)) == json.loads(V1)
    finally:
        srv.server_close()


def test_plumber_job_resolves_plain_avro(spark):
    """PlumberJob with `-d avro`-style types + a registry pins reader
    schemas per TopicNameStrategy and passes the golden pre-flight."""
    from kafka_streams_plumber_spark.operators.pipeline import Pipeline
    from kafka_streams_plumber_spark.streaming.runner import PlumberJob

    reg = FakeSchemaRegistry()
    reg.register("in-value", V2)
    reg.register("out-value", V2)

    job = PlumberJob(
        spark=spark,
        pipeline=Pipeline().map_values(
            lambda v: F.struct(
                (v["a"] * 2).alias("a"), F.upper(v["b"]).alias("b")
            )
        ),
        brokers="none:9092",
        source_topic="in",
        sink_topic="out",
        input_key=parse_type("void"),
        input_value=parse_type("avro"),
        output_key=parse_type("void"),
        output_value=parse_type("avro"),
        registry=reg,
        fixtures=[(None, {"a": 3, "b": "hi"})],
        expectations=[(None, {"a": 6, "b": "HI"})],
    )
    assert job.input_value.avsc is not None  # resolved at construction
    job.run(dry_run=True)  # golden verification passes


def test_registry_decode_schema_evolution_matrix(spark):
    """VERDICT r9 item 6: the hard per-record-writer-id cases the
    sandbox can't reach through the driver gate — field REORDER,
    spec-listed type PROMOTIONS (int->long, float->double), and enum
    SYMBOL ADDITION across three writer ids in ONE topic, all decoded
    against the pinned latest reader. The runtime reconciliation must
    agree with the assert_can_read pre-flight: every writer the
    pre-flight accepts decodes losslessly by field NAME (order,
    width, and symbol set free to differ), and the evolutions the
    pre-flight rejects are exactly the ones with no resolution rule."""
    from kafka_streams_plumber_spark.sources.avsc import assert_can_read

    enum_ab = {"type": "enum", "name": "ev", "symbols": ["A", "B"]}
    enum_abc = {"type": "enum", "name": "ev", "symbols": ["A", "B", "C"]}
    w1 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "int"},  # promotes to long
                {"name": "e", "type": enum_ab},
                {"name": "x", "type": "float"},  # promotes to double
            ],
        }
    )
    w2 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"]},
                {"name": "e", "type": enum_ab},
                {"name": "x", "type": "double"},
            ],
        }
    )
    # same field set as the reader, REORDERED (avro layout is
    # positional, so a reorder changes the byte stream) + the added
    # enum symbol
    w3 = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "x", "type": "double"},
                {"name": "e", "type": enum_abc},
                {"name": "b", "type": ["null", "string"]},
                {"name": "a", "type": "long"},
            ],
        }
    )
    reader = json.dumps(
        {
            "type": "record",
            "name": "m",
            "fields": [
                {"name": "a", "type": "long"},
                {
                    "name": "b",
                    "type": ["null", "string"],
                    "default": None,
                },  # absent from w1: null-fills (default makes it legal)
                {"name": "e", "type": enum_abc},
                {"name": "x", "type": "double"},
            ],
        }
    )

    # the pre-flight accepts every writer in the matrix...
    for w in (w1, w2, w3):
        assert_can_read(reader, w)
    # ...and rejects exactly the unresolvable evolutions
    bad_enum = w3.replace('"C"', '"D"')  # writer symbol D absent from reader
    with pytest.raises(ValueError, match="absent from reader"):
        assert_can_read(reader, bad_enum)
    bad_promo = w2.replace('"a", "type": "long"', '"a", "type": "string"')
    with pytest.raises(ValueError, match="cannot promote"):
        assert_can_read(reader, bad_promo)
    with pytest.raises(ValueError, match="no default"):
        assert_can_read(w2, w1)  # w2's b has no default -> w1 data illegal

    reg = FakeSchemaRegistry()
    id1 = reg.register("m-value", w1)
    id2 = reg.register("m-value", w2)
    id3 = reg.register("m-value", w3)
    rid = reg.register("m-value", reader)
    wt = resolve_registry_type(parse_type("avro"), reg, "m-value")
    assert wt.schema_id == rid

    rows = [
        (_framed(id1, w1, {"a": 7, "e": "A", "x": 1.5}),),
        (_framed(id2, w2, {"a": 8, "b": "x", "e": "B", "x": 2.25}),),
        (_framed(id3, w3, {"x": 3.5, "e": "C", "b": "y", "a": 9}),),
    ]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("value", T.BinaryType())])
    )
    out = df.select(decode(F.col("value"), wt, registry=reg).alias("v"))
    got = {
        (r["v"]["a"], r["v"]["b"], r["v"]["e"], r["v"]["x"])
        for r in out.collect()
    }
    # w1: int 7 widened to long, missing b null-filled, float 1.5 is
    # exact in binary32 so the promotion is lossless; w3: the reorder
    # reconciles by name, not position
    assert got == {
        (7, None, "A", 1.5),
        (8, "x", "B", 2.25),
        (9, "y", "C", 3.5),
    }
