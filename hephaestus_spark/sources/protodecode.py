"""Protobuf wire-format ingestion for the A4 feed decode step.

The reference receives Employee/Task batches as protobuf over gRPC
(/root/reference/internal/services/tasks/tasks.go:207-226,
employees/employees.go:144-158; messages from its olympus-protos repo,
which is not vendored here — field numbers below define OUR wire
contract, field names/types mirror the reference models 1:1).

One row decoder, ``decode_table``: a pure-Python wire-format parser
(varints + length-delimited fields — the public protobuf encoding,
developers.google.com/protocol-buffers/docs/encoding) that turns a list
of payloads into a typed ``pyarrow.Table``, absent fields at their
proto3 defaults. It runs where the payloads already are:

- ``feed_table`` shapes one poll's rows, held on the driver by the
  poller that received them, into the pipeline's feed schema; the
  poller writes the result as one parquet file with no Spark job.
- ``decode_employees`` / ``decode_tasks`` decode a DataFrame column of
  payloads in an Arrow-batched ``mapInPandas`` that calls the same
  decoder per batch — batch-at-a-time, never row-at-a-time Python.

``spark_protobuf_available`` probes for Spark's spark-protobuf connector
(``from_protobuf`` + a compiled descriptor set, JVM-side); the jar is
not bundled in every distribution.

The encoder half exists for test fixtures and the micro-batch replay
harness — production bytes come from the wire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


def _read_varint(b: bytes, i: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        byte = b[i]
        i += 1
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, i
        shift += 7


def _write_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        byte = v & 0x7F
        v >>= 7
        if v:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def _skip(b: bytes, i: int, wire: int) -> int:
    if wire == _VARINT:
        return _read_varint(b, i)[1]
    if wire == _I64:
        return i + 8
    if wire == _LEN:
        n, i = _read_varint(b, i)
        return i + n
    if wire == _I32:
        return i + 4
    raise ValueError(f"unsupported wire type {wire}")


_TS_FIELDS = {1: ("seconds", "int64"), 2: ("nanos", "int64")}


def decode_message(b: bytes, fields: dict[int, tuple[str, str]]) -> dict:
    """Decode one message given {field_no: (name, kind)}.

    kinds: int64, bool, string, rep_string, rep_int64 (packed or not),
    ts (google.protobuf.Timestamp-shaped submessage -> epoch seconds).
    Unknown fields are skipped, per proto3 compatibility rules."""
    out: dict = {}
    i = 0
    while i < len(b):
        tag, i = _read_varint(b, i)
        field_no, wire = tag >> 3, tag & 7
        spec = fields.get(field_no)
        if spec is None:
            i = _skip(b, i, wire)
            continue
        name, kind = spec
        if kind in ("int64", "bool"):
            v, i = _read_varint(b, i)
            out[name] = bool(v) if kind == "bool" else v
        elif kind == "string":
            n, i = _read_varint(b, i)
            out[name] = b[i : i + n].decode("utf-8")
            i += n
        elif kind == "rep_string":
            n, i = _read_varint(b, i)
            out.setdefault(name, []).append(b[i : i + n].decode("utf-8"))
            i += n
        elif kind == "rep_int64":
            if wire == _LEN:  # packed
                n, i = _read_varint(b, i)
                end = i + n
                vals = out.setdefault(name, [])
                while i < end:
                    v, i = _read_varint(b, i)
                    vals.append(v)
            else:
                v, i = _read_varint(b, i)
                out.setdefault(name, []).append(v)
        elif kind == "ts":
            n, i = _read_varint(b, i)
            sub = decode_message(b[i : i + n], _TS_FIELDS)
            out[name] = sub.get("seconds", 0)
            i += n
        elif kind == "bytes":
            n, i = _read_varint(b, i)
            out[name] = b[i : i + n]
            i += n
        elif kind == "rep_bytes":  # repeated submessage, kept opaque
            n, i = _read_varint(b, i)
            out.setdefault(name, []).append(b[i : i + n])
            i += n
        else:
            raise ValueError(f"unsupported kind {kind}")
    return out


def _encode_field(field_no: int, kind: str, v) -> bytes:
    if v is None:
        return b""
    tag_varint = _write_varint(field_no << 3 | _VARINT)
    tag_len = _write_varint(field_no << 3 | _LEN)
    if kind == "int64":
        return tag_varint + _write_varint(v)
    if kind == "bool":
        return tag_varint + _write_varint(1 if v else 0)
    if kind == "string":
        enc = v.encode("utf-8")
        return tag_len + _write_varint(len(enc)) + enc
    if kind == "rep_string":
        return b"".join(_encode_field(field_no, "string", s) for s in v)
    if kind == "rep_int64":  # packed, proto3 default
        body = b"".join(_write_varint(x) for x in v)
        return tag_len + _write_varint(len(body)) + body
    if kind == "ts":
        body = _encode_field(1, "int64", v)
        return tag_len + _write_varint(len(body)) + body
    if kind == "bytes":
        return tag_len + _write_varint(len(v)) + v
    if kind == "rep_bytes":
        return b"".join(_encode_field(field_no, "bytes", x) for x in v)
    raise ValueError(f"unsupported kind {kind}")


def encode_message(d: dict, fields: dict[int, tuple[str, str]]) -> bytes:
    return b"".join(
        _encode_field(no, kind, d.get(name)) for no, (name, kind) in fields.items()
    )


# ---------------------------------------------------------------------------
# message contracts (field names/types = reference models 1:1)
# ---------------------------------------------------------------------------

EMPLOYEE_FIELDS: dict[int, tuple[str, str]] = {
    1: ("id", "int64"),
    2: ("fullname", "string"),
    3: ("shortname", "string"),
    4: ("position", "string"),
    5: ("email", "string"),
    6: ("phone", "string"),
}
EMPLOYEE_SCHEMA = (
    "id long, fullname string, shortname string, position string,"
    " email string, phone string"
)

TASK_FIELDS: dict[int, tuple[str, str]] = {
    1: ("id", "int64"),
    2: ("type", "string"),
    3: ("creation_date", "ts"),
    4: ("closing_date", "ts"),
    5: ("description", "string"),
    6: ("address", "string"),
    7: ("customer_name", "string"),
    8: ("customer_login", "string"),
    9: ("comments", "rep_string"),
    10: ("executors", "rep_int64"),
    11: ("is_closed", "bool"),
}
TASK_SCHEMA = (
    "id long, type string, creation_date long, closing_date long,"
    " description string, address string, customer_name string,"
    " customer_login string, comments array<string>,"
    " executors array<long>, is_closed boolean"
)

_DEFAULTS = {"int64": 0, "bool": False, "string": "", "rep_string": [], "rep_int64": [], "ts": 0}
_ARROW_TYPES = {
    "int64": pa.int64(),
    "bool": pa.bool_(),
    "string": pa.string(),
    "rep_string": pa.list_(pa.string()),
    "rep_int64": pa.list_(pa.int64()),
    "ts": pa.int64(),  # epoch seconds
}


def decode_table(payloads, fields: dict[int, tuple[str, str]]) -> pa.Table:
    """Decode each payload into one row: one column per field in
    field-number order, wire names and wire types, absent fields at
    their proto3 default. Raises on a payload that does not parse."""
    specs = [spec for _, spec in sorted(fields.items())]
    cols: list[list] = [[] for _ in specs]
    for b in payloads:
        d = decode_message(b, fields)
        for col, (name, kind) in zip(cols, specs):
            col.append(d.get(name, _DEFAULTS[kind]))
    return pa.table(
        {name: pa.array(col, _ARROW_TYPES[kind]) for col, (name, kind) in zip(cols, specs)}
    )


# wire name -> feed column name, where the two differ
_FEED_NAMES = {"creation_date": "created_at", "closing_date": "closed_at"}


def feed_table(
    payloads, fields: dict[int, tuple[str, str]], feed_date, schema: T.StructType
) -> pa.Table:
    """One poll's feed rows in exactly ``schema`` (the pipeline's feed
    schema): epoch seconds become UTC timestamps, executor ids become
    strings, and every row carries ``feed_date``."""
    wire = decode_table(payloads, fields)
    cols = {}
    for name, kind in (spec for _, spec in sorted(fields.items())):
        col = wire[name]
        if kind == "ts":
            col = pac.multiply_checked(col, 1_000_000)  # -> microseconds
        cols[_FEED_NAMES.get(name, name)] = col
    cols["feed_date"] = pa.array([feed_date] * wire.num_rows, pa.date32())
    target = to_arrow_schema(schema)
    return pa.table(cols).select(target.names).cast(target)


def _decode_df(
    df: DataFrame, bytes_col: str, fields: dict[int, tuple[str, str]], schema: str
) -> DataFrame:
    """mapInPandas decode: Arrow batches in, typed Arrow batches out."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_table(pdf[bytes_col], fields).to_pandas()

    return df.mapInPandas(decode_batches, schema=schema)


def decode_employees(df: DataFrame, bytes_col: str = "payload") -> DataFrame:
    return _decode_df(df, bytes_col, EMPLOYEE_FIELDS, EMPLOYEE_SCHEMA)


def decode_tasks(df: DataFrame, bytes_col: str = "payload") -> DataFrame:
    """Decoded Task feed; epoch-second dates become proper timestamps
    (UTC session — session.py pins spark.sql.session.timeZone)."""
    out = _decode_df(df, bytes_col, TASK_FIELDS, TASK_SCHEMA)
    return out.withColumn(
        "creation_date", F.timestamp_seconds("creation_date")
    ).withColumn("closing_date", F.timestamp_seconds("closing_date"))


def spark_protobuf_available(spark) -> bool:
    """True when the spark-protobuf connector jar is on the classpath —
    then ``pyspark.sql.protobuf.functions.from_protobuf`` with a
    compiled descriptor set is the preferred (JVM, codegen) decode path
    and the pure-Python decoder above is unnecessary."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False
