"""Pure-Python replay of the generated feeds: the expected final state.

The rules are restated here from the reference service, not imported
from the program, so a defect in the program's merge, cleaning or
bridge code shows up as a mismatch:

- tasks: SCD-1 upsert, the incoming row wins; the geocode columns are
  reset (NULL, attempts 0) iff the address IS DISTINCT FROM the stored
  one, otherwise kept;
- bridge: a task's executor set is replaced by the distinct members of
  its latest feed row; a member resolves to the employee whose
  shortname equals it, else NULL;
- employees: invalid emails become ``invalid+<id>@example.invalid``;
  phones are stripped of spaces and hyphens when the result is E.164,
  else kept as received.

``compare_tables`` is the check itself; it returns a description of
the first differing row, or None when the tables are equal.
"""

from __future__ import annotations

import datetime
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EMAIL_RE = re.compile(r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$")
PHONE_RE = re.compile(r"^\+?[0-9]\d{1,14}$")

TASK_COLS = ["id", "type", "created_at", "closed_at", "description", "address",
             "customer_name", "customer_login", "comments", "is_closed"]
GEO_COLS = ["latitude", "longitude", "geocoding_attempts", "geocoding_error"]
TASK_SCHEMA = pa.schema([
    ("id", pa.int64()), ("type", pa.string()), ("created_at", pa.int64()),
    ("closed_at", pa.int64()), ("description", pa.string()), ("address", pa.string()),
    ("customer_name", pa.string()), ("customer_login", pa.string()),
    ("comments", pa.list_(pa.string())), ("is_closed", pa.bool_()),
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("geocoding_attempts", pa.int32()), ("geocoding_error", pa.string()),
])
BRIDGE_SCHEMA = pa.schema([
    ("task_id", pa.int64()), ("member", pa.string()), ("member_id", pa.int64()),
])
EMPLOYEE_SCHEMA = pa.schema([
    ("id", pa.int64()), ("fullname", pa.string()), ("shortname", pa.string()),
    ("position", pa.string()), ("email", pa.string()), ("phone", pa.string()),
])

# The external geocoder the sync_tick set-up simulates: every seed task
# gets coordinates, except ids divisible by GEOCODE_MISS, which fail.
GEOCODE_MISS = 97
GEOCODE_ERROR = "ZERO_RESULTS"


def geocode(tid: int) -> dict:
    if tid % GEOCODE_MISS == 0:
        return {"latitude": None, "longitude": None,
                "geocoding_attempts": 3, "geocoding_error": GEOCODE_ERROR}
    return {"latitude": (tid % 1800) / 10.0 - 90.0,
            "longitude": (tid % 3600) / 10.0 - 180.0,
            "geocoding_attempts": 1 + tid % 3, "geocoding_error": None}


def _micros(arr: pa.Array) -> pa.Array:
    return pc.cast(arr, pa.timestamp("us", tz=arr.type.tz)).cast(pa.int64())


def read_dir(path: str) -> pa.Table:
    """A Spark-written parquet directory, timestamps as epoch micros."""
    t = pq.read_table(path)
    cols = [_micros(c.combine_chunks()) if pa.types.is_timestamp(c.type) else c
            for c in t.columns]
    return pa.table(cols, names=t.column_names)


def conform(t: pa.Table, schema: pa.Schema) -> pa.Table:
    return pa.table([t[f.name].cast(f.type) for f in schema], schema=schema)


def compare_tables(actual: pa.Table, expected: pa.Table, keys: list[str]) -> str | None:
    """None when equal as sets of rows; else the first difference."""
    schema = expected.schema
    try:
        actual = conform(actual, schema)
    except (KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        return f"schema mismatch: {e}"
    order = [(k, "ascending") for k in keys]
    actual, expected = actual.sort_by(order), expected.sort_by(order)
    if actual.num_rows != expected.num_rows:
        return f"row count {actual.num_rows} != expected {expected.num_rows}"
    if actual.equals(expected):
        return None
    for name in schema.names:
        a, e = actual[name].to_pylist(), expected[name].to_pylist()
        if a != e:
            i = next(i for i, (x, y) in enumerate(zip(a, e)) if x != y)
            key = {k: expected[k][i].as_py() for k in keys}
            return f"{key} column {name}: got {a[i]!r}, expected {e[i]!r}"
    return "tables differ"


def clean_employee(r: dict) -> dict:
    email, phone = r["email"], r["phone"]
    if email is None or not EMAIL_RE.search(email):
        email = f"invalid+{r['id']}@example.invalid"
    if phone is not None:
        stripped = re.sub("[ -]", "", phone)
        if PHONE_RE.search(stripped):
            phone = stripped
    return {**r, "email": email, "phone": phone}


def expected_employees(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist([clean_employee(r) for r in rows], schema=EMPLOYEE_SCHEMA)


class SyncReplay:
    """Expected tasks and bridge after a seed feed and a run of deltas.

    Rows of the seed that no delta touched are carried as the seed
    table itself; every delta row is replayed one at a time."""

    def __init__(self, dim: dict[str, int], seed: pa.Table | None = None,
                 geocoded: bool = False):
        self.dim = dim
        self.seed = seed
        self.geocoded = geocoded
        self.rows: dict[int, dict] = {}  # touched ids -> latest task row
        self.delta_rows = 0

    def _seed_rows(self, ids: list[int]) -> dict[int, dict]:
        if self.seed is None:
            return {}
        n = self.seed.num_rows
        want = [i for i in ids if i not in self.rows and 1 <= i <= n]
        if not want:
            return {}
        out = {}
        for r in self.seed.take(pa.array(np.array(want) - 1)).to_pylist():
            geo = geocode(r["id"]) if self.geocoded else \
                {"latitude": None, "longitude": None,
                 "geocoding_attempts": 0, "geocoding_error": None}
            out[r["id"]] = {**_task_row(r), **geo}
        return out

    def apply(self, delta: pa.Table) -> None:
        rows = delta.to_pylist()
        self.delta_rows += len(rows)
        seeded = self._seed_rows([r["id"] for r in rows])
        for r in rows:
            prior = self.rows.get(r["id"]) or seeded.get(r["id"])
            row = _task_row(r)
            old_address = prior["address"] if prior else None
            if old_address != row["address"]:
                geo = {"latitude": None, "longitude": None,
                       "geocoding_attempts": 0, "geocoding_error": None}
            else:
                geo = {c: prior[c] for c in GEO_COLS} if prior else \
                    {c: None for c in GEO_COLS}
            self.rows[r["id"]] = {**row, **geo}

    def _final_seed(self) -> pa.Table | None:
        if self.seed is None:
            return None
        keep = pc.invert(pc.is_in(self.seed["id"], pa.array(list(self.rows), pa.int64())))
        return self.seed.filter(keep)

    def expected_tasks(self) -> pa.Table:
        parts = [pa.Table.from_pylist(
            [{c: r[c] for c in TASK_SCHEMA.names} for r in self.rows.values()],
            schema=TASK_SCHEMA)]
        seed = self._final_seed()
        if seed is not None and seed.num_rows:
            ids = seed["id"].to_numpy()
            if self.geocoded:
                geo = [geocode(int(i)) for i in ids]
                geo_cols = {c: [g[c] for g in geo] for c in GEO_COLS}
            else:
                geo_cols = {"latitude": [None] * len(ids), "longitude": [None] * len(ids),
                            "geocoding_attempts": [0] * len(ids),
                            "geocoding_error": [None] * len(ids)}
            cols = {c: seed[c] for c in TASK_COLS}
            cols["created_at"] = _micros(seed["created_at"].combine_chunks())
            cols["closed_at"] = _micros(seed["closed_at"].combine_chunks())
            cols.update(geo_cols)
            parts.append(conform(pa.table(cols), TASK_SCHEMA))
        return pa.concat_tables(parts)

    def expected_bridge(self) -> pa.Table:
        ids = list(self.rows)
        execs = [self.rows[i]["executors"] for i in ids]
        table = pa.table({"id": pa.array(ids, pa.int64()),
                          "executors": pa.array(execs, pa.list_(pa.string()))})
        seed = self._final_seed()
        if seed is not None and seed.num_rows:
            table = pa.concat_tables([table, conform(
                seed.select(["id", "executors"]), table.schema)])
        flat = table["executors"].combine_chunks()
        members = pa.table({
            "task_id": table["id"].combine_chunks().take(pc.list_parent_indices(flat)),
            "member": pc.list_flatten(flat),
        }).group_by(["task_id", "member"]).aggregate([])
        dim = pa.table({"member": pa.array(list(self.dim), pa.string()),
                        "member_id": pa.array(list(self.dim.values()), pa.int64())})
        joined = members.join(dim, "member", join_type="left outer")
        return conform(joined, BRIDGE_SCHEMA)


def _task_row(r: dict) -> dict:
    """Feed-schema row (timestamps as datetimes) -> stored task row."""
    out = {c: r[c] for c in TASK_COLS}
    for c in ("created_at", "closed_at"):
        v = r[c]
        out[c] = None if v is None else _epoch_micros(v)
    out["executors"] = list(r["executors"] or [])
    return out


def _epoch_micros(v: datetime.datetime) -> int:
    delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def watermark(path: str) -> datetime.date | None:
    t = pq.read_table(path).to_pylist()
    if not t:
        return None
    return max(t, key=lambda r: r["updated_at"])["last_processed_date"]
