"""Pure-Python Avro binary codec — fallback when spark-avro is absent.

Implements the Avro binary encoding (public spec:
https://avro.apache.org/docs/current/specification/ — zigzag-varint
ints/longs, little-endian IEEE-754 floats/doubles, length-prefixed
bytes/strings, single-byte booleans, union branch index) for FLAT
record schemas of primitives and ``["null", X]`` unions — exactly the
shape of the reference's Avro purchase-event value
(dsl/PriceAlertsApp.java:84-85, Schema-Registry serde dsl:33-37).

Scale stance: the JVM ``from_avro`` (spark-avro jar) is always
preferred — these UDFs are the Arrow-batched fallback for environments
without the jar (this container has no network and no spark-avro).
Python touches only the value column, one JVM↔Python crossing per
columnar batch; everything upstream/downstream of the serde boundary
stays JVM-side. The logical plan is identical either way: scan →
project(decode(value)) → downstream, so swapping the jar back in is a
one-line change in ``sources/kafka.py``.

Supported: int, long, float, double, boolean, string, bytes, and the
logical type timestamp-micros (long) ↔ Spark TimestampType; any of
them nullable via ``["null", T]``.
"""

from __future__ import annotations

import json
import struct as _struct
from typing import Any

import pandas as pd

_PRIMITIVES = {"int", "long", "float", "double", "boolean", "string", "bytes"}

_SPARK_TYPES = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "bytes": "binary",
    "timestamp-micros": "timestamp",
}


# ---------------------------------------------------------------------------
# Schema handling
# ---------------------------------------------------------------------------


class AvroField:
    __slots__ = ("name", "type", "nullable")

    def __init__(self, name: str, type_: str, nullable: bool):
        self.name = name
        self.type = type_
        self.nullable = nullable


def parse_schema(schema_json: str) -> list[AvroField]:
    """Parse a flat Avro record schema into an ordered field list.

    Field order is significant: Avro binary is positional (no tags).
    """
    schema = json.loads(schema_json)
    if schema.get("type") != "record":
        raise ValueError(f"only record schemas supported, got {schema.get('type')}")
    fields: list[AvroField] = []
    for f in schema["fields"]:
        ftype = f["type"]
        nullable = False
        if isinstance(ftype, list):  # union
            branches = [b for b in ftype if b != "null"]
            if len(ftype) != 2 or "null" not in ftype or len(branches) != 1:
                raise ValueError(f"only [null, T] unions supported: {ftype}")
            nullable = True
            ftype = branches[0]
        if isinstance(ftype, dict):  # logical type annotation
            if ftype.get("logicalType") == "timestamp-micros":
                ftype = "timestamp-micros"
            else:
                ftype = ftype.get("type")
        if ftype not in _PRIMITIVES and ftype != "timestamp-micros":
            raise ValueError(f"unsupported Avro type: {ftype!r}")
        fields.append(AvroField(f["name"], ftype, nullable))
    return fields


def spark_ddl(schema_json: str) -> str:
    """Spark DDL struct string for the decoded record (from_avro parity)."""
    fields = parse_schema(schema_json)
    return ", ".join(f"{f.name} {_SPARK_TYPES[f.type]}" for f in fields)


# ---------------------------------------------------------------------------
# Binary primitives (Avro spec §binary encoding)
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_varint(out: bytearray, n: int) -> None:
    """LEB128-style varint of the zigzag-encoded value."""
    n &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def write_long(out: bytearray, n: int) -> None:
    write_varint(out, zigzag_encode(n))


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    raw, pos = read_varint(buf, pos)
    return zigzag_decode(raw), pos


# ---------------------------------------------------------------------------
# Record encode / decode
# ---------------------------------------------------------------------------


def encode_record(fields: list[AvroField], row: dict[str, Any]) -> bytes:
    out = bytearray()
    for f in fields:
        v = row.get(f.name)
        if v is not None and v != v:  # pandas NaN/NaT → null
            v = None
        if f.nullable:
            if v is None:
                write_long(out, 0)  # union branch 0 = null
                continue
            write_long(out, 1)  # union branch 1 = value
        elif v is None:
            raise ValueError(f"null in non-nullable field {f.name}")
        t = f.type
        if t in ("int", "long"):
            write_long(out, int(v))
        elif t == "timestamp-micros":
            if isinstance(v, pd.Timestamp):
                v = v.value // 1_000  # ns → µs
            write_long(out, int(v))
        elif t == "double":
            out += _struct.pack("<d", float(v))
        elif t == "float":
            out += _struct.pack("<f", float(v))
        elif t == "boolean":
            out.append(1 if v else 0)
        elif t == "string":
            b = str(v).encode("utf-8")
            write_long(out, len(b))
            out += b
        elif t == "bytes":
            b = bytes(v)
            write_long(out, len(b))
            out += b
    return bytes(out)


def decode_record(fields: list[AvroField], buf: bytes) -> dict[str, Any]:
    pos = 0
    row: dict[str, Any] = {}
    for f in fields:
        if f.nullable:
            branch, pos = read_long(buf, pos)
            if branch == 0:
                row[f.name] = None
                continue
        t = f.type
        v: Any
        if t in ("int", "long"):
            v, pos = read_long(buf, pos)
        elif t == "timestamp-micros":
            micros, pos = read_long(buf, pos)
            v = pd.Timestamp(micros, unit="us")
        elif t == "double":
            v = _struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif t == "float":
            v = _struct.unpack_from("<f", buf, pos)[0]
            pos += 4
        elif t == "boolean":
            v = bool(buf[pos])
            pos += 1
        elif t == "string":
            n, pos = read_long(buf, pos)
            v = buf[pos : pos + n].decode("utf-8")
            pos += n
        else:  # bytes
            n, pos = read_long(buf, pos)
            v = bytes(buf[pos : pos + n])
            pos += n
        row[f.name] = v
    if pos != len(buf):
        raise ValueError(f"trailing bytes: consumed {pos} of {len(buf)}")
    return row


# ---------------------------------------------------------------------------
# Spark column functions (Arrow-batched Pandas UDFs)
# ---------------------------------------------------------------------------


def avro_decode_column(value, schema_json: str):
    """``from_avro`` twin: binary column → struct column.

    Arrow-batched: the whole batch of payloads crosses to Python once,
    rows decode in a tight loop, the struct batch crosses back once.
    """
    from pyspark.sql.functions import pandas_udf

    fields = parse_schema(schema_json)
    ddl = spark_ddl(schema_json)

    @pandas_udf(ddl)
    def _decode(payload: pd.Series) -> pd.DataFrame:
        rows = [decode_record(fields, bytes(b)) for b in payload]
        df = pd.DataFrame(rows, columns=[f.name for f in fields])
        for f in fields:
            if f.type == "timestamp-micros":
                df[f.name] = pd.to_datetime(df[f.name])
        return df

    return _decode(value)


def avro_encode_column(struct_col, schema_json: str):
    """``to_avro`` twin: struct column → Avro-binary column (test/sink
    side of the round-trip).

    The returned column is marked nondeterministic (see below), so it
    is usable only in a Project (select/withColumn) or a Filter. Never
    make it a join key or a grouping key, and never rely on a filter on
    it being pushed into a scan: Spark's analyzer rejects
    nondeterministic expressions outside Project/Filter with an
    AnalysisException or moves them, and never pushes them down. Join
    or group on the projected frame's other columns instead."""
    from pyspark.sql.functions import pandas_udf

    fields = parse_schema(schema_json)

    @pandas_udf("binary")
    def _encode(batch: pd.DataFrame) -> pd.Series:
        recs = batch.to_dict("records")
        return pd.Series(
            [encode_record(fields, r) for r in recs], index=batch.index, dtype=object
        )

    # asNondeterministic (guide §4.4): without it the optimizer pushes
    # the encode projection BELOW a caller's spread/repartition, so the
    # whole Arrow codec runs on the scan's (single-split) partitioning —
    # profiled as a 1-task 1.8 s stage in avro_schema_evolution. The
    # function is in fact deterministic; the flag only pins its plan
    # position.
    return _encode.asNondeterministic()(struct_col)


# ---------------------------------------------------------------------------
# Schema resolution (Avro spec §Schema Resolution): reader-schema
# evolution over writer-encoded bytes
# ---------------------------------------------------------------------------

# writer type → reader types it may promote to (spec promotion table,
# restricted to the flat-primitive subset this codec supports)
_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double", "timestamp-micros"},
    "float": {"float", "double"},
    "double": {"double"},
    "boolean": {"boolean"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "timestamp-micros": {"timestamp-micros", "long"},
}


def _parse_defaults(schema_json: str) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for f in json.loads(schema_json)["fields"]:
        if "default" in f:
            out[f["name"]] = f["default"]
    return out


def _promote(v: Any, wt: str, rt: str) -> Any:
    if v is None or wt == rt:
        return v
    if rt in ("float", "double"):
        return float(v)
    if rt == "long" and wt == "timestamp-micros":
        return v.value // 1_000 if isinstance(v, pd.Timestamp) else int(v)
    if rt == "timestamp-micros" and wt == "long":
        return pd.Timestamp(int(v), unit="us")
    if rt == "bytes" and wt == "string":
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    if rt == "string" and wt == "bytes":
        return v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else str(v)
    return v


class ResolvedSchema:
    """Decode plan for reading writer-encoded bytes under a reader
    schema: writer fields in WIRE ORDER (positional decode), each
    either emitted under the reader's name/type or consumed-and-
    discarded; reader-only fields filled from their defaults."""

    __slots__ = ("writer_fields", "emit", "defaults", "reader_fields")

    def __init__(self, writer_json: str, reader_json: str):
        self.writer_fields = parse_schema(writer_json)
        self.reader_fields = parse_schema(reader_json)
        raw_defaults = _parse_defaults(reader_json)
        readers = {f.name: f for f in self.reader_fields}
        self.emit: dict[str, str | None] = {}
        for wf in self.writer_fields:
            rf = readers.get(wf.name)
            if rf is None:
                self.emit[wf.name] = None  # consumed, not emitted
                continue
            if rf.type not in _PROMOTIONS[wf.type]:
                raise ValueError(
                    f"field {wf.name}: writer {wf.type} cannot resolve "
                    f"to reader {rf.type}"
                )
            self.emit[wf.name] = rf.type
        written = {f.name for f in self.writer_fields}
        self.defaults: dict[str, Any] = {}
        for rf in self.reader_fields:
            if rf.name in written:
                continue
            if rf.name not in raw_defaults:
                if not rf.nullable:
                    raise ValueError(
                        f"reader field {rf.name} missing from writer "
                        "schema and has no default"
                    )
                self.defaults[rf.name] = None
                continue
            d = raw_defaults[rf.name]
            if rf.type == "timestamp-micros" and d is not None:
                d = pd.Timestamp(int(d), unit="us")
            if rf.type == "bytes" and isinstance(d, str):
                # spec: bytes defaults are JSON strings of latin-1 code points
                d = d.encode("latin-1")
            self.defaults[rf.name] = d


def decode_record_resolved(plan: ResolvedSchema, buf: bytes) -> dict[str, Any]:
    """Positional decode under the WRITER schema, emit under the READER
    schema: skipped fields are consumed (Avro binary has no tags — every
    writer field must be walked), matched fields are promoted, missing
    fields come from reader defaults, and the output dict is in READER
    field order."""
    raw = decode_record(plan.writer_fields, buf)
    by_writer_type = {f.name: f.type for f in plan.writer_fields}
    out: dict[str, Any] = {}
    for rf in plan.reader_fields:
        emit_t = plan.emit.get(rf.name)
        if rf.name in raw and emit_t is not None:
            out[rf.name] = _promote(raw[rf.name], by_writer_type[rf.name], emit_t)
        else:
            out[rf.name] = plan.defaults[rf.name]
    return out


def avro_decode_column_evolved(value, writer_schema_json: str, reader_schema_json: str):
    """``from_avro`` with schema resolution: decode writer-encoded
    bytes, emit the READER schema (defaults for new fields, promotions,
    writer-only fields dropped). Same Arrow-batched single-crossing
    shape as avro_decode_column."""
    from pyspark.sql.functions import pandas_udf

    plan = ResolvedSchema(writer_schema_json, reader_schema_json)
    ddl = spark_ddl(reader_schema_json)
    names = [f.name for f in plan.reader_fields]
    ts_fields = [f.name for f in plan.reader_fields if f.type == "timestamp-micros"]

    @pandas_udf(ddl)
    def _decode(payload: pd.Series) -> pd.DataFrame:
        rows = [decode_record_resolved(plan, bytes(b)) for b in payload]
        df = pd.DataFrame(rows, columns=names)
        for n in ts_fields:
            df[n] = pd.to_datetime(df[n])
        return df

    return _decode(value)
