"""Property-based fuzzing of the hand-written protobuf wire codec.

The decoder ingests untrusted upstream bytes, so beyond the fixture
round-trips (test_protodecode.py) we fuzz:
- encode -> decode round-trips for arbitrary field values across every
  supported kind (the codec is its own oracle);
- decoder robustness on messages containing UNKNOWN fields (proto3
  forward-compat: skipped, known fields still decoded);
- varint round-trip across the full 64-bit range.

Pure-Python properties — no SparkSession involved, so the fuzz runs in
milliseconds per example.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from hephaestus_spark.sources import protodecode as pc

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80
)  # any non-surrogate unicode

# one strategy per message field, by field name
EMPLOYEE_FIELD_VALUES = {
    "id": st.integers(min_value=0, max_value=2**63 - 1),
    "fullname": TEXT,
    "shortname": TEXT,
    "position": TEXT,
    "email": TEXT,
    "phone": TEXT,
}

TASK_FIELD_VALUES = {
    "id": st.integers(min_value=0, max_value=2**63 - 1),
    "type": TEXT,
    "creation_date": st.integers(min_value=0, max_value=2**40),
    "closing_date": st.integers(min_value=0, max_value=2**40),
    "description": TEXT,
    "address": TEXT,
    "customer_name": TEXT,
    "customer_login": TEXT,
    "comments": st.lists(TEXT, max_size=5),
    "executors": st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=5),
    "is_closed": st.booleans(),
}

EMPLOYEE_VALUES = st.fixed_dictionaries(EMPLOYEE_FIELD_VALUES)
TASK_VALUES = st.fixed_dictionaries(TASK_FIELD_VALUES)


def _norm(d: dict, fields) -> dict:
    """Decoder omits absent/default-encoded fields; normalize for
    comparison the way proto3 does (defaults are not on the wire)."""
    out = {}
    for _no, (name, kind) in fields.items():
        v = d.get(name, pc._DEFAULTS[kind])
        out[name] = v
    return out


@settings(max_examples=200, deadline=None)
@given(EMPLOYEE_VALUES)
def test_employee_roundtrip(vals):
    b = pc.encode_message(vals, pc.EMPLOYEE_FIELDS)
    got = pc.decode_message(b, pc.EMPLOYEE_FIELDS)
    assert _norm(got, pc.EMPLOYEE_FIELDS) == _norm(vals, pc.EMPLOYEE_FIELDS)


@settings(max_examples=200, deadline=None)
@given(TASK_VALUES)
def test_task_roundtrip(vals):
    b = pc.encode_message(vals, pc.TASK_FIELDS)
    got = pc.decode_message(b, pc.TASK_FIELDS)
    assert _norm(got, pc.TASK_FIELDS) == _norm(vals, pc.TASK_FIELDS)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**64 - 1),
)
def test_varint_roundtrip(v):
    b = pc._write_varint(v)
    got, i = pc._read_varint(b, 0)
    assert got == v and i == len(b)


@settings(max_examples=100, deadline=None)
@given(EMPLOYEE_VALUES, TEXT, st.integers(min_value=0, max_value=2**50))
def test_unknown_fields_are_skipped(vals, extra_str, extra_int):
    """proto3 forward compatibility: a sender with a NEWER schema adds
    fields we don't know; the decoder must skip them and still decode
    every known field."""
    known = pc.encode_message(vals, pc.EMPLOYEE_FIELDS)
    unknown = pc.encode_message(
        {"x": extra_str, "y": extra_int},
        {99: ("x", "string"), 100: ("y", "int64")},
    )
    got = pc.decode_message(known + unknown, pc.EMPLOYEE_FIELDS)
    assert _norm(got, pc.EMPLOYEE_FIELDS) == _norm(vals, pc.EMPLOYEE_FIELDS)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(max_size=60), max_size=6), TEXT)
def test_feed_envelope_roundtrip(payloads, new_hash):
    from hephaestus_spark.sources.grpc_source import FEED_RESPONSE_FIELDS

    b = pc.encode_message(
        {"payloads": payloads, "new_hash": new_hash}, FEED_RESPONSE_FIELDS
    )
    got = pc.decode_message(b, FEED_RESPONSE_FIELDS)
    assert got.get("payloads", []) == payloads
    assert got.get("new_hash", "") == new_hash
