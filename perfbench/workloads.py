"""The two stream workloads: wire types, the job's pipeline and golden
fixtures, the seeded record generator, and the pure-Python oracle that
predicts every output record's bytes.

The oracle never runs Spark: Avro bytes come from
``avro_codec.encode_record`` over the expected Python record, the scalar
types are 8-byte big-endian (long) and UTF-8 (string).
"""

from __future__ import annotations

import os
import random
import string
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

_LETTERS = string.ascii_letters
_TEXT = string.ascii_letters + string.digits + "  .,-"
_SPECIES = ("human", "homo sapiens", "android", "hobbit", "elf")


@dataclass(frozen=True)
class StreamWorkload:
    name: str
    #: wire type specs as the CLI spells them (``serde.parse_type``)
    input_key: str
    input_value: str
    output_key: str
    output_value: str
    pipeline: Callable[[], Any]
    fixtures: Callable[[], list]
    expectations: Callable[[], list]
    #: seeded generator of n typed (key, value) input records
    records: Callable[[random.Random, int], list[tuple[Any, Any]]]
    #: typed input record -> raw (key bytes, value bytes)
    encode_input: Callable[[Any, Any], tuple[bytes | None, bytes | None]]
    #: typed input record -> expected raw output, or None if dropped
    expect_output: Callable[[Any, Any], tuple[bytes | None, bytes | None] | None]
    #: records per drain file = records per drain micro-batch
    drain_file_records: int
    #: offered rate of the paced phase, records/s
    paced_rate: int
    #: raw (key, value) records for the malformed-input probe: "good",
    #: "truncated" and "trailing_junk" (a good record plus junk bytes)
    malformed: Callable[[], dict]


def _avsc(root: str, name: str) -> str:
    return f"avro={os.path.join(root, 'examples', 'demo', name)}"


def _models(root: str):
    from kafka_streams_plumber_spark.sources.serde import parse_type

    return (
        parse_type(_avsc(root, "example.undesired.avsc")).model,
        parse_type(_avsc(root, "example.desired.avsc")).model,
    )


def avro_workload(root: str) -> StreamWorkload:
    import runpy

    from kafka_streams_plumber_spark.sources.avro_codec import encode_record

    in_model, out_model = _models(root)
    # the demo transform and its golden fixtures, exactly as the
    # broker-free streaming example runs them
    demo = runpy.run_path(os.path.join(root, "examples", "streaming", "example.py"))
    fixtures = demo["fixtures"]

    def record(rng: random.Random):
        # name lengths vary from 1 to 64, skewed short
        n = 1 + int(rng.expovariate(1 / 12)) % 64
        return None, {
            "redundantField": rng.randrange(-(1 << 40), 1 << 40),
            "notValid": rng.random() < 0.5,
            "fingers_lh": rng.randrange(0, 11),
            "fingers_rh": rng.randrange(0, 11),
            "person": {
                "name": "".join(rng.choices(_LETTERS, k=n)),
                "species": rng.choice(_SPECIES),
            },
        }

    def encode_input(k, v):
        return None, encode_record(v, in_model)

    def expect_output(k, v):
        return None, encode_record(
            {
                "valid": not v["notValid"],
                "name": v["person"]["name"].lower(),
                "fingers": v["fingers_lh"] + v["fingers_rh"],
            },
            out_model,
        )

    def malformed():
        good = encode_record(fixtures()[0][1], in_model)
        return {
            "good": (None, good),
            "truncated": (None, good[: len(good) // 2]),
            "trailing_junk": (None, good + b"\x07junk"),
        }

    return StreamWorkload(
        name="stream_avro",
        input_key="void",
        input_value=_avsc(root, "example.undesired.avsc"),
        output_key="void",
        output_value=_avsc(root, "example.desired.avsc"),
        pipeline=demo["pipeline"],
        fixtures=fixtures,
        expectations=demo["expectations"],
        records=lambda rng, n: [record(rng) for _ in range(n)],
        encode_input=encode_input,
        expect_output=expect_output,
        drain_file_records=5000,
        # about a third of drain capacity: latency grows as 1/(1 - load),
        # so a higher share would amplify run-to-run speed differences
        paced_rate=2000,
        malformed=malformed,
    )


def _long_bytes(n: int) -> bytes:
    return n.to_bytes(8, "big", signed=True)


def scalar_workload(root: str) -> StreamWorkload:
    import pyspark.sql.functions as F

    from kafka_streams_plumber_spark import Pipeline

    def pipeline():
        return (
            Pipeline()
            .filter(lambda k, v: k % 2 == 0)
            .map(lambda k, v: (k * 3, F.upper(v)))
        )

    def fixtures():
        return [(2, "ab c"), (3, "dropped"), (-4, "Zz9")]

    def expectations():
        return [(6, "AB C"), (-12, "ZZ9")]

    def records(rng: random.Random, n: int):
        # values are drawn from a pool of at most 4096 strings of the
        # same stream, which keeps generation cheap at 20k records a file
        pool = ["".join(rng.choices(_TEXT, k=rng.randrange(0, 48)))
                for _ in range(min(n, 4096))]
        keys = [rng.randrange(-(1 << 40), 1 << 40) for _ in range(n)]
        return list(zip(keys, rng.choices(pool, k=n)))

    def encode_input(k, v):
        return _long_bytes(k), v.encode("utf-8")

    def expect_output(k, v):
        if k % 2:
            return None
        return _long_bytes(k * 3), v.upper().encode("utf-8")

    def malformed():
        good = _long_bytes(42)
        return {
            "good": (good, b"ok"),
            "truncated": (good[:3], b"short key"),
            "trailing_junk": (good + b"\x07", b"long key"),
        }

    return StreamWorkload(
        name="stream_scalar",
        input_key="long",
        input_value="string",
        output_key="long",
        output_value="string",
        pipeline=pipeline,
        fixtures=fixtures,
        expectations=expectations,
        records=records,
        encode_input=encode_input,
        expect_output=expect_output,
        drain_file_records=20000,
        paced_rate=20000,
        malformed=malformed,
    )


STREAMS = {"stream_avro": avro_workload, "stream_scalar": scalar_workload}
