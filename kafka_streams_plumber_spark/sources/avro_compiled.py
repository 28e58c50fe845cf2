"""Avro binary codec compiled per schema into Arrow-native Python: the
stream path's wire codec when the JVM ``spark-avro`` module is absent.

:func:`compile_decoder` / :func:`compile_encoder` turn a parsed schema
model (sources/avsc.py) into straight-line Python source once, when the
plan is built. Every field gets its own inlined zigzag-varint read or write,
so the per-record work has no ``isinstance`` dispatch and builds no
dict. :func:`decode_udf` / :func:`encode_udf` run that code inside
pyspark's ``arrow_udf``, which passes whole ``pyarrow`` arrays in and
out:

- decode walks the binary column's offsets and data buffer directly,
  appends each leaf field to a list of its own and assembles the
  Spark type's Arrow array once per batch; null payloads (Kafka
  tombstones) become null rows through the struct's mask;
- encode reads one list per leaf of the incoming struct array and
  writes every record into one buffer that becomes the output
  ``BinaryArray``.

Values have ``spark_type``'s shape, the same as the reference
interpreter (sources/avro_codec.py), which stays the spec-direct oracle
this codec is tested against byte for byte: ``[null, T]`` is a nullable
T; an N-way union is a struct with one field per non-null branch, named
by ``branch_name``, and encode writes its first non-null branch (the
null branch only when none is set and the union has one).

Bad input fails the way the reference does: a payload that is not
exactly one value of the schema raises ``MalformedAvroError``
("malformed avro payload: ..."), and a null for a non-null type raises
the reference's ``AvroNullError`` for that row, naming the field.
"""

from __future__ import annotations

import struct
from array import array

import pyarrow as pa
from pyspark.sql import types as T

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
    _zigzag_encode,
    encode_record,
)

_LEAF_ARROW = {
    T.BooleanType: "pa.bool_()",
    T.IntegerType: "pa.int32()",
    T.LongType: "pa.int64()",
    T.FloatType: "pa.float32()",
    T.DoubleType: "pa.float64()",
    T.BinaryType: "pa.binary()",
    T.StringType: "pa.string()",
    T.NullType: "pa.null()",
}


def _emit(out: list[str], ind: int, *lines: str) -> None:
    out.extend("    " * ind + line for line in lines)


class _Source:
    """Generated module text: constants, per-batch builder variables and
    fresh names."""

    def __init__(self):
        self.consts: list[str] = []
        self.init: list[str] = []
        self.k = 0

    def name(self, prefix: str) -> str:
        self.k += 1
        return f"{prefix}{self.k}"

    def var(self, prefix: str, init: str) -> str:
        name = self.name(prefix)
        self.init.append(f"{name} = {init}")
        return name

    def const(self, prefix: str, value) -> str:
        name = self.name(prefix)
        self.consts.append(f"{name} = {value!r}")
        return name


# ---------------------------------------------------------------------------
# decode: payload bytes at ``p`` in ``d`` -> one append per leaf list
# ---------------------------------------------------------------------------


def _read_varint(out: list[str], ind: int, var: str) -> None:
    _emit(out, ind,
          "b = d[p]",
          "p += 1",
          f"{var} = b & 127",
          "s = 7",
          "while b > 127:",
          "    b = d[p]",
          "    p += 1",
          f"    {var} |= (b & 127) << s",
          "    s += 7",
          f"{var} = ({var} >> 1) ^ -({var} & 1)")


def _min_width(m) -> int:
    """Fewest payload bytes one value of ``m`` takes."""
    if isinstance(m, Record):
        return sum(_min_width(f.type) for f in m.fields)
    if isinstance(m, T.NullType):
        return 0
    if isinstance(m, (T.FloatType, T.DoubleType)):
        return 4 if isinstance(m, T.FloatType) else 8
    return 1  # a varint, a boolean byte, a union index


class _DLeaf:
    def __init__(self, g: _Source, m):
        self.m = m
        self.c = g.var("c", "[]")
        if isinstance(m, Enum):
            self.symbols = g.const("S", dict(enumerate(m.symbols)))

    def read(self, out, ind):
        m, c = self.m, self.c
        if isinstance(m, T.BooleanType):
            _emit(out, ind, f"{c}.append(_BOOL[d[p]])", "p += 1")
        elif isinstance(m, (T.IntegerType, T.LongType)):
            _read_varint(out, ind, "v")
            _emit(out, ind, f"{c}.append(v)")
        elif isinstance(m, (T.FloatType, T.DoubleType)):
            w = 4 if isinstance(m, T.FloatType) else 8
            _emit(out, ind, f"{c}.append(_F{w}(d, p)[0])", f"p += {w}")
        elif isinstance(m, (T.StringType, T.BinaryType)):
            _read_varint(out, ind, "v")
            _emit(out, ind,
                  "if v < 0:",
                  "    raise _bad(f'negative length {v}')",
                  f"{c}.append(d[p:p + v])",
                  "p += v")
        elif isinstance(m, Enum):
            _read_varint(out, ind, "v")
            _emit(out, ind, f"{c}.append({self.symbols}[v])")
        else:  # null
            _emit(out, ind, f"{c}.append(None)")

    def null(self, out, ind):
        _emit(out, ind, f"{self.c}.append(None)")

    def build(self) -> str:
        m, c = self.m, self.c
        if isinstance(m, Enum):
            return f"pa.array({c}, pa.string())"
        if isinstance(m, T.StringType):
            # bytes in, one vectorized UTF-8 validation
            return f"pa.array({c}, pa.binary()).cast(pa.string())"
        if isinstance(m, T.NullType):
            return f"pa.nulls(len({c}))"
        return f"pa.array({c}, {_LEAF_ARROW[type(m)]})"


class _DRecord:
    def __init__(self, g: _Source, m: Record, nullable: bool):
        self.names = [f.name for f in m.fields]
        # under a null record its fields' own nulls are hidden
        self.kids = [_dnode(g, f.type, False) for f in m.fields]
        # a field-less record still needs its length
        self.mask = g.var("m", "[]") if nullable or not self.kids else None

    def read(self, out, ind):
        if self.mask:
            _emit(out, ind, f"{self.mask}.append(False)")
        for k in self.kids:
            k.read(out, ind)

    def null(self, out, ind):
        if self.mask:
            _emit(out, ind, f"{self.mask}.append(True)")
        for k in self.kids:
            k.null(out, ind)

    def build(self) -> str:
        kids = ", ".join(k.build() for k in self.kids)
        return f"_struct([{kids}], {self.names!r}, {self.mask})"


class _DArray:
    def __init__(self, g: _Source, m: Array, nullable: bool):
        self.offsets = g.var("o", "[0]")
        self.total = g.var("t", "0")
        self.count = g.name("n")
        self.item = _dnode(g, m.element, False)
        self.mask = g.var("m", "[]") if nullable else None
        self.guard = _min_width(m.element) > 0

    def read(self, out, ind):
        n, t = self.count, self.total
        _emit(out, ind, "while True:")
        _read_varint(out, ind + 1, n)
        _emit(out, ind + 1, f"if not {n}:", "    break", f"if {n} < 0:")
        _read_varint(out, ind + 2, "v")  # the block's byte size
        _emit(out, ind + 2, f"{n} = -{n}")
        if self.guard:
            _emit(out, ind + 1,
                  f"if {n} > end - p:",
                  f"    raise _bad(f'array block of {{{n}}} items past the payload')")
        _emit(out, ind + 1, f"{t} += {n}", f"for _ in range({n}):")
        self.item.read(out, ind + 2)
        _emit(out, ind, f"{self.offsets}.append({t})")
        if self.mask:
            _emit(out, ind, f"{self.mask}.append(False)")

    def null(self, out, ind):
        _emit(out, ind, f"{self.offsets}.append({self.total})")
        if self.mask:
            _emit(out, ind, f"{self.mask}.append(True)")

    def build(self) -> str:
        mask = f"pa.array({self.mask}, pa.bool_())" if self.mask else "None"
        return (f"pa.ListArray.from_arrays(pa.array({self.offsets}, pa.int32()), "
                f"{self.item.build()}, mask={mask})")


class _DOption:
    """``[null, T]`` or ``[T]``: T itself, nullable when the union is."""

    def __init__(self, g: _Source, m: Union, nullable: bool):
        self.branches = m.branches
        self.inner = _dnode(g, m.non_null[0], nullable or m.nullable)

    def read(self, out, ind):
        _read_varint(out, ind, "v")
        kw = "if"
        for i, b in enumerate(self.branches):
            _emit(out, ind, f"{kw} v == {i}:")
            if isinstance(b, T.NullType):
                self.inner.null(out, ind + 1)
            else:
                self.inner.read(out, ind + 1)
            kw = "elif"
        _emit(out, ind, "else:", "    raise _bad(f'union index {v}')")

    def null(self, out, ind):
        self.inner.null(out, ind)

    def build(self) -> str:
        return self.inner.build()


class _DBranches:
    """N-way union: a struct with one field per non-null branch."""

    def __init__(self, g: _Source, m: Union, nullable: bool):
        self.branches = [
            (i, None if isinstance(b, T.NullType) else _dnode(g, b, True))
            for i, b in enumerate(m.branches)
        ]
        self.names = [branch_name(b) for b in m.non_null]
        self.kids = [k for _, k in self.branches if k is not None]
        self.mask = g.var("m", "[]") if nullable or m.nullable or not self.kids else None

    def read(self, out, ind):
        _read_varint(out, ind, "v")
        kw = "if"
        for i, chosen in self.branches:
            _emit(out, ind, f"{kw} v == {i}:")
            if chosen is None:
                self.null(out, ind + 1)
            else:
                if self.mask:
                    _emit(out, ind + 1, f"{self.mask}.append(False)")
                for k in self.kids:
                    if k is chosen:
                        k.read(out, ind + 1)
                    else:
                        k.null(out, ind + 1)
            kw = "elif"
        _emit(out, ind, "else:", "    raise _bad(f'union index {v}')")

    def null(self, out, ind):
        if self.mask:
            _emit(out, ind, f"{self.mask}.append(True)")
        for k in self.kids:
            k.null(out, ind)

    def build(self) -> str:
        kids = ", ".join(k.build() for k in self.kids)
        return f"_struct([{kids}], {self.names!r}, {self.mask})"


def _dnode(g: _Source, m, nullable: bool):
    if isinstance(m, Record):
        return _DRecord(g, m, nullable)
    if isinstance(m, Array):
        return _DArray(g, m, nullable)
    if isinstance(m, Union):
        if len(m.non_null) == 1:
            return _DOption(g, m, nullable)
        return _DBranches(g, m, nullable)
    if isinstance(m, Enum) or type(m) in _LEAF_ARROW:
        return _DLeaf(g, m)
    raise NotImplementedError(f"avro decode: {m!r}")


def decoder_source(model) -> str:
    """Python source of ``codec(arr: pa.BinaryArray) -> pa.Array`` for
    ``model``: one complete payload per non-null row."""
    g = _Source()
    top = _dnode(g, model, True)
    body: list[str] = []
    top.read(body, 3)
    tombstone: list[str] = []
    top.null(tombstone, 4)
    out = list(g.consts)
    _emit(out, 0,
          "def codec(arr):",
          "    n = len(arr)",
          "    bufs = arr.buffers()",
          "    offs = _offsets(arr, bufs)",
          "    d = bufs[2].to_pybytes() if n and bufs[2] is not None else b''",
          "    valid = arr.is_valid().to_pylist() if arr.null_count else None")
    _emit(out, 1, *g.init)
    _emit(out, 1,
          "i = -1",
          "try:",
          "    for i in range(n):",
          "        p = offs[i]",
          "        end = offs[i + 1]",
          "        if valid is not None and not valid[i]:")
    out += tombstone
    _emit(out, 4, "continue")
    out += body
    _emit(out, 1,
          "        if p != end:",
          "            raise _bad(_extent(p, end))",
          "except (IndexError, KeyError, struct.error) as e:",
          "    raise _bad(f'truncated or corrupt ({e!r})', i) from None",
          "except MalformedAvroError as e:",
          "    raise _bad(e.detail, i) from None",
          "try:",
          f"    return {top.build()}",
          "except (OverflowError, pa.ArrowInvalid) as e:",
          "    raise _bad(str(e)) from None")
    return "\n".join(out) + "\n"


def _offsets(arr, bufs) -> list[int]:
    if not len(arr):
        return []
    code = "q" if pa.types.is_large_binary(arr.type) else "i"
    o = arr.offset
    return memoryview(bufs[1]).cast(code)[o : o + len(arr) + 1].tolist()


def _extent(p: int, end: int) -> str:
    if p > end:
        return f"value runs {p - end} bytes past the payload"
    return f"{end - p} trailing bytes"


def _bad(detail: str, row: int | None = None) -> MalformedAvroError:
    return MalformedAvroError(detail if row is None else f"row {row}: {detail}")


def _struct(children: list, names: list[str], mask: list | None) -> pa.Array:
    m = None if mask is None else pa.array(mask, pa.bool_())
    if children:
        return pa.StructArray.from_arrays(children, names=names, mask=m)
    valid = pa.array([not x for x in mask], pa.bool_())
    return pa.StructArray.from_buffers(pa.struct([]), len(mask), [valid.buffers()[1]])


# ---------------------------------------------------------------------------
# encode: one Python list per leaf -> bytes appended to ``out``
# ---------------------------------------------------------------------------


def _write_varint(out: list[str], ind: int, expr: str, zigzag: bool) -> None:
    """``expr`` as a zigzag varint; a non-negative ``expr`` (a length or
    count) is zigzagged by a shift."""
    z = f"({expr} << 1) ^ ({expr} >> 63)" if zigzag else f"{expr} << 1"
    _emit(out, ind,
          f"u = {z}",
          "while u > 127:",
          "    w((u & 127) | 128)",
          "    u >>= 7",
          "w(u)")


class _ELeaf:
    def __init__(self, g: _Source, m, arr: str, prep: list[str]):
        self.m = m
        if isinstance(m, Enum):
            self.codes = g.const("E", {s: _zigzag_encode(i) for i, s in enumerate(m.symbols)})
        self.vals = g.name("L")
        if isinstance(m, T.StringType):
            prep.append(f"{self.vals} = {arr}.cast(pa.binary()).to_pylist()")
        else:
            prep.append(f"{self.vals} = {arr}.to_pylist()")

    def present(self, ix: str) -> str:
        return f"{self.vals}[{ix}] is not None"

    def write(self, out, ind, ix):
        m, v = self.m, f"{self.vals}[{ix}]"
        if isinstance(m, T.BooleanType):
            _emit(out, ind, f"w(_B[{v}])")
        elif isinstance(m, (T.IntegerType, T.LongType)):
            _emit(out, ind, f"v = {v}")
            _write_varint(out, ind, "v", True)
        elif isinstance(m, (T.FloatType, T.DoubleType)):
            w = 4 if isinstance(m, T.FloatType) else 8
            _emit(out, ind, f"out += _P{w}({v})")
        elif isinstance(m, (T.StringType, T.BinaryType)):
            _emit(out, ind, f"v = {v}")
            _write_varint(out, ind, "len(v)", False)
            _emit(out, ind, "out += v")
        elif isinstance(m, Enum):
            _emit(out, ind, f"out += {self.codes}[{v}]")
        else:  # null: no bytes
            _emit(out, ind, "pass")


class _EStruct:
    """Record, or an N-way union's struct of branches; ``valid`` is the
    struct's own validity."""

    def __init__(self, g: _Source, arr: str, prep: list[str]):
        self.arr = g.name("A")
        self.valid = g.name("V")
        prep.append(f"{self.arr} = {arr}")
        prep.append(f"{self.valid} = {self.arr}.is_valid().to_pylist()")

    def child(self, name: str) -> str:
        return f"_field({self.arr}, {name!r})"

    def present(self, ix: str) -> str:
        return f"{self.valid}[{ix}]"


class _ERecord(_EStruct):
    def __init__(self, g: _Source, m: Record, arr: str, prep: list[str]):
        super().__init__(g, arr, prep)
        self.kids = [_enode(g, f.type, self.child(f.name), prep) for f in m.fields]

    def write(self, out, ind, ix):
        _emit(out, ind, f"if not {self.valid}[{ix}]:", "    raise TypeError('null value')")
        for k in self.kids:
            k.write(out, ind, ix)


class _EArray:
    def __init__(self, g: _Source, m: Array, arr: str, prep: list[str]):
        a = g.name("A")
        self.offsets, self.valid = g.name("O"), g.name("V")
        self.lo, self.hi, self.j = g.name("a"), g.name("z"), g.name("j")
        prep.append(f"{a} = {arr}")
        prep.append(f"{self.offsets} = {a}.offsets.to_pylist()")
        prep.append(f"{self.valid} = {a}.is_valid().to_pylist()")
        self.item = _enode(g, m.element, f"{a}.values", prep)

    def present(self, ix: str) -> str:
        return f"{self.valid}[{ix}]"

    def write(self, out, ind, ix):
        lo, hi = self.lo, self.hi
        _emit(out, ind,
              f"if not {self.valid}[{ix}]:",
              "    raise TypeError('null value')",
              f"{lo} = {self.offsets}[{ix}]",
              f"{hi} = {self.offsets}[{ix} + 1]",
              f"if {hi} > {lo}:")
        _write_varint(out, ind + 1, f"({hi} - {lo})", False)
        _emit(out, ind + 1, f"for {self.j} in range({lo}, {hi}):")
        self.item.write(out, ind + 2, self.j)
        _emit(out, ind, "w(0)")


def _null_code(m: Union) -> bytes | None:
    """The encoded index of the union's null branch, if it has one."""
    return next(
        (_zigzag_encode(i) for i, b in enumerate(m.branches) if isinstance(b, T.NullType)),
        None,
    )


class _EOption:
    """``[null, T]`` or ``[T]``: T's own column; a null writes the null
    branch."""

    def __init__(self, g: _Source, m: Union, arr: str, prep: list[str]):
        self.null_code = _null_code(m)
        self.code = next(
            _zigzag_encode(i) for i, b in enumerate(m.branches) if not isinstance(b, T.NullType)
        )
        self.inner = _enode(g, m.non_null[0], arr, prep)

    def present(self, ix: str) -> str:
        return self.inner.present(ix)

    def write(self, out, ind, ix):
        if self.null_code is None:
            _emit(out, ind, f"out += {self.code!r}")
            self.inner.write(out, ind, ix)
            return
        _emit(out, ind, f"if {self.inner.present(ix)}:", f"    out += {self.code!r}")
        self.inner.write(out, ind + 1, ix)
        _emit(out, ind, "else:", f"    out += {self.null_code!r}")


class _EBranches(_EStruct):
    """N-way union: its struct of branches; the first non-null branch is
    written, else the null branch."""

    def __init__(self, g: _Source, m: Union, arr: str, prep: list[str]):
        super().__init__(g, arr, prep)
        code = _null_code(m)
        self.null = "raise TypeError('null value')" if code is None else f"out += {code!r}"
        self.kids = [
            (_zigzag_encode(i), _enode(g, b, self.child(branch_name(b)), prep))
            for i, b in enumerate(m.branches)
            if not isinstance(b, T.NullType)
        ]

    def write(self, out, ind, ix):
        _emit(out, ind, f"if not {self.valid}[{ix}]:", f"    {self.null}")
        for code, k in self.kids:
            _emit(out, ind, f"elif {k.present(ix)}:", f"    out += {code!r}")
            k.write(out, ind + 1, ix)
        _emit(out, ind, "else:", f"    {self.null}")


def _enode(g: _Source, m, arr: str, prep: list[str]):
    if isinstance(m, Record):
        return _ERecord(g, m, arr, prep)
    if isinstance(m, Array):
        return _EArray(g, m, arr, prep)
    if isinstance(m, Union):
        if len(m.non_null) == 1:
            return _EOption(g, m, arr, prep)
        return _EBranches(g, m, arr, prep)
    if isinstance(m, Enum) or type(m) in _LEAF_ARROW:
        return _ELeaf(g, m, arr, prep)
    raise NotImplementedError(f"avro encode: {m!r}")


def encoder_source(model) -> str:
    """Python source of ``codec(arr: pa.Array) -> pa.BinaryArray`` for
    ``model``: null rows stay null (tombstones)."""
    g = _Source()
    prep: list[str] = []
    top = _enode(g, model, "arr", prep)
    body: list[str] = []
    top.write(body, 4, "i")
    out = list(g.consts)
    _emit(out, 0,
          "def codec(arr):",
          "    n = len(arr)",
          "    valid = arr.is_valid() if arr.null_count else None",
          "    rows = valid.to_pylist() if valid is not None else None")
    _emit(out, 1, *prep)
    _emit(out, 1,
          "out = bytearray()",
          "w = out.append",
          "offs = [0]",
          "i = -1",
          "try:",
          "    for i in range(n):",
          "        if rows is None or rows[i]:")
    out += body
    _emit(out, 1,
          "        offs.append(len(out))",
          "except (TypeError, KeyError, struct.error) as e:",
          "    _explain(arr, i, e)",
          "validity = valid.buffers()[1] if valid is not None else None",
          "return pa.Array.from_buffers(",
          "    pa.binary(), n,",
          "    [validity, pa.py_buffer(array('i', offs)), pa.py_buffer(out)])")
    return "\n".join(out) + "\n"


def _field(arr: pa.StructArray, name: str) -> pa.Array:
    """A struct's child by name (offset-adjusted); an absent field reads
    as all null."""
    if arr.type.get_field_index(name) < 0:
        return pa.nulls(len(arr))
    return arr.field(name)


# ---------------------------------------------------------------------------
# compiled codecs
# ---------------------------------------------------------------------------

_NS = {
    "pa": pa,
    "struct": struct,
    "array": array,
    "MalformedAvroError": MalformedAvroError,
    "_BOOL": (False, True),
    "_B": {False: 0, True: 1},
    "_F4": struct.Struct("<f").unpack_from,
    "_F8": struct.Struct("<d").unpack_from,
    "_P4": struct.Struct("<f").pack,
    "_P8": struct.Struct("<d").pack,
    "_bad": _bad,
    "_extent": _extent,
    "_offsets": _offsets,
    "_struct": _struct,
    "_field": _field,
}

class Codec:
    """A schema's compiled decoder or encoder: call it on a
    ``pa.Array``. Pickles as its source text and schema model and is
    byte-compiled again where it is unpickled (once per task on a
    Python worker, about a millisecond)."""

    def __init__(self, source: str, model):
        self.source = source
        self.model = model
        self._compile()  # a generator bug fails here, while the plan is built

    def __getstate__(self):
        return {"source": self.source, "model": self.model}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._compile()

    def _compile(self) -> None:
        ns = dict(_NS, _explain=self._explain)
        exec(compile(self.source, "<avro codec>", "exec"), ns)  # noqa: S102
        self._fn = ns["codec"]

    def __call__(self, arr: pa.Array) -> pa.Array:
        return self._fn(arr)

    def _explain(self, arr: pa.Array, i: int, err: Exception):
        """Encode failed at row ``i``: the reference interpreter raises
        its named error for the row; if it accepts the row, the
        original error stands."""
        encode_record(arr[i].as_py(), self.model)
        raise err


def compile_decoder(model) -> Codec:
    return Codec(decoder_source(model), model)


def compile_encoder(model) -> Codec:
    return Codec(encoder_source(model), model)


def decode_udf(model):
    """``arrow_udf``: Avro payload column -> ``spark_type(model)``."""
    from pyspark.sql.functions import arrow_udf

    codec = compile_decoder(model)

    def avro_decode(payload: pa.Array) -> pa.Array:
        return codec(payload)

    return arrow_udf(avro_decode, spark_type(model))


def encode_udf(model):
    """``arrow_udf``: ``spark_type(model)`` column -> Avro payloads."""
    from pyspark.sql.functions import arrow_udf

    codec = compile_encoder(model)

    def avro_encode(value: pa.Array) -> pa.Array:
        return codec(value)

    return arrow_udf(avro_encode, T.BinaryType())
