"""Seeded upstream feed generator for the sync benchmark.

Everything the sync pipelines consume is made here from one integer
seed, so the same seed gives byte-identical feeds:

- the employee snapshot (a list of protobuf ``Employee`` messages,
  re-issued in full on every poll like the upstream service does);
- the resident task store's seed feed (one parquet file in the task
  feed directory, the shape ``FeedPoller`` lands);
- one day's task delta per tick or backfill day (protobuf ``Task``
  messages served over loopback gRPC).

Shares that decide the workload's behaviour are fixed in ``Shares``
and stated in perfbench/README.md. Executor ids and employee
shortnames are built so that ``bridge.resolve_ratio`` is a known
quantity: an executor resolves iff it names an existing employee whose
shortname is ``str(id)``.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from hephaestus_spark.sources import protodecode

EPOCH_DAY = datetime.date(2024, 1, 1)
_T0 = 1_672_531_200  # 2023-01-01T00:00:00Z, earliest task creation

TYPES = ["install", "repair", "connect", "disconnect", "inspect", "upgrade",
         "relocate", "survey"]
WORDS = [
    "cable", "router", "fiber", "modem", "signal", "outage", "port", "switch",
    "antenna", "splitter", "socket", "line", "billing", "speed", "latency",
    "noise", "power", "tower", "node", "patch", "panel", "jack", "drop", "link",
    "client", "urgent", "repeat", "check", "replace", "tune", "reset", "move",
]
STREETS = [
    "Khreshchatyk", "Sahaidachnoho", "Bandery", "Shevchenka", "Franka",
    "Lesi Ukrainky", "Hrushevskoho", "Mazepy", "Velyka Vasylkivska",
    "Antonovycha", "Zhylianska", "Saksahanskoho", "Dniprovska", "Peremohy",
    "Naberezhna", "Sadova",
]
FIRST = ["Olena", "Taras", "Iryna", "Andrii", "Oksana", "Dmytro", "Yulia",
         "Bohdan", "Natalia", "Serhii", "Mariia", "Petro"]
LAST = ["Koval", "Bondar", "Melnyk", "Shevchuk", "Tkachenko", "Kravets",
        "Lysenko", "Moroz", "Savchenko", "Rudenko"]
POSITIONS = ["installer", "technician", "senior technician", "dispatcher",
             "foreman", "engineer"]
COMMENTS = ["called client", "no answer", "rescheduled", "parts ordered",
            "done", "waiting for access", "escalated", "photo attached"]
BAD_EMAILS = ["", "no-at-sign", "a@b", "two@@at.com", "space in@mail.com"]
BAD_PHONES = ["", "12ab", "+", "phone", "++380501234567"]


@dataclass(frozen=True)
class Shares:
    """Fixed composition of the generated feeds."""

    new: float = 0.3  # delta rows that are new task ids
    address_change: float = 0.3  # updated rows whose address changes
    empty_executors: float = 0.05  # delta rows with an empty executor set
    unknown_executor: float = 0.1  # executor ids beyond the employee range
    numeric_shortname: float = 0.8  # employees with shortname == str(id)
    invalid_email: float = 0.1
    invalid_phone: float = 0.1
    employee_change: float = 0.02  # employees edited on a change tick


SHARES = Shares()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, *stream])))


def _pick(vocab: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(vocab, pa.string()).take(pa.array(idx))


def _address(ids: np.ndarray, ver: np.ndarray) -> pa.Array:
    """Deterministic address of (task id, address version)."""
    num = (ids * 2654435761 + ver * 97) % 9999 + 1
    street = (ids * 31 + ver * 7) % len(STREETS)
    return pc.binary_join_element_wise(
        pc.cast(pa.array(num), pa.string()), _pick(STREETS, street), "st", " "
    )


def _string_lists(lengths: np.ndarray, values: pa.Array) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


@dataclass
class FeedGenerator:
    """Deterministic feeds for one benchmark run.

    ``store_tasks`` ids (1..store_tasks) form the seed feed; each delta
    draws updated ids from every id issued so far and new ids above
    them. Address versions of updated ids are tracked so an update
    keeps or changes its address by the fixed share."""

    seed: int
    employees: int
    store_tasks: int
    next_id: int = field(init=False)
    employee_version: int = field(init=False, default=0)
    _addr_ver: dict = field(init=False, default_factory=dict)  # task id -> address version
    _emp_edits: dict = field(init=False, default_factory=dict)  # employee id -> edit count

    def __post_init__(self) -> None:
        self.next_id = self.store_tasks + 1

    # ---------------------------------------------------------------- tasks
    def _task_columns(self, rng, ids: np.ndarray, ver: np.ndarray) -> dict:
        """Column arrays for task rows ``ids`` (feed schema, wire values)."""
        n = len(ids)
        s = SHARES
        created = _T0 + rng.integers(0, 365 * 86400, n)
        closed = rng.random(n) < 0.6
        closed_at = np.where(closed, created + rng.integers(3600, 30 * 86400, n), 0)
        desc = pc.binary_join_element_wise(
            *(_pick(WORDS, rng.integers(0, len(WORDS), n)) for _ in range(4)), " "
        )
        n_comments = rng.integers(0, 3, n)
        comments = _string_lists(
            n_comments, _pick(COMMENTS, rng.integers(0, len(COMMENTS), int(n_comments.sum())))
        )
        n_exec = np.where(rng.random(n) < s.empty_executors, 0, rng.integers(1, 4, n))
        total = int(n_exec.sum())
        unknown = rng.random(total) < s.unknown_executor
        exec_ids = np.where(
            unknown,
            self.employees + 1 + rng.integers(0, self.employees, total),
            rng.integers(1, self.employees + 1, total),
        )
        executors = _string_lists(n_exec, pc.cast(pa.array(exec_ids), pa.string()))
        return {
            "id": pa.array(ids, pa.int64()),
            "type": _pick(TYPES, rng.integers(0, len(TYPES), n)),
            "created_at": pa.array(created * 1_000_000, pa.timestamp("us", tz="UTC")),
            "closed_at": pa.array(closed_at * 1_000_000, pa.timestamp("us", tz="UTC")),
            "description": desc,
            "address": _address(ids, ver),
            "customer_name": pc.binary_join_element_wise(
                _pick(FIRST, rng.integers(0, len(FIRST), n)),
                _pick(LAST, rng.integers(0, len(LAST), n)), " ",
            ),
            "customer_login": pc.binary_join_element_wise(
                "c", pc.cast(pa.array((ids * 7919) % 100_000), pa.string()), ""
            ),
            "comments": comments,
            "executors": executors,
            "is_closed": pa.array(closed),
        }

    def seed_table(self) -> pa.Table:
        """The resident store's seed feed: ids 1..store_tasks, dated EPOCH_DAY."""
        ids = np.arange(1, self.store_tasks + 1, dtype=np.int64)
        cols = self._task_columns(_rng(self.seed, 1, 0), ids, np.zeros_like(ids))
        cols["feed_date"] = pa.array([EPOCH_DAY] * len(ids), pa.date32())
        return pa.table(cols)

    def delta_table(self, day_index: int, rows: int) -> pa.Table:
        """One day's task delta: new ids and updates. An update redraws
        every field but the address, which changes by the fixed share.
        Advances the generator state."""
        rng = _rng(self.seed, 2, day_index)
        issued = self.next_id - 1
        n_upd = min(int(round(rows * (1 - SHARES.new))), issued)
        n_new = rows - n_upd
        upd = np.sort(rng.choice(issued, n_upd, replace=False) + 1) if n_upd else \
            np.empty(0, np.int64)
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        ids = np.concatenate([upd, new]).astype(np.int64)
        change = rng.random(len(ids)) < SHARES.address_change
        ver = np.empty(len(ids), np.int64)
        for i, (tid, ch) in enumerate(zip(ids.tolist(), change.tolist())):
            v = self._addr_ver.get(tid, 0) + (1 if ch and tid <= issued else 0)
            if v:
                self._addr_ver[tid] = v
            ver[i] = v
        return pa.table(self._task_columns(rng, ids, ver))

    # ------------------------------------------------------------ employees
    def employee_rows(self) -> list[dict]:
        """Current upstream employee snapshot as wire-level dicts."""
        n = self.employees
        rng = _rng(self.seed, 3, 0)
        numeric = rng.random(n) < SHARES.numeric_shortname
        bad_email = rng.random(n) < SHARES.invalid_email
        bad_phone = rng.random(n) < SHARES.invalid_phone
        first = rng.integers(0, len(FIRST), n)
        last = rng.integers(0, len(LAST), n)
        pos = rng.integers(0, len(POSITIONS), n)
        phone_num = rng.integers(0, 10**9, n)
        rows = []
        for i in range(n):
            eid = i + 1
            edit = self._emp_edits.get(eid, 0)
            login = f"{FIRST[first[i]].lower()}.{LAST[last[i]].lower()}{eid}"
            rows.append({
                "id": eid,
                "fullname": f"{FIRST[first[i]]} {LAST[last[i]]}",
                "shortname": str(eid) if numeric[i] else f"emp{eid}",
                "position": POSITIONS[(pos[i] + edit) % len(POSITIONS)],
                "email": BAD_EMAILS[(eid + edit) % len(BAD_EMAILS)] if bad_email[i]
                else f"{login}.v{edit}@corp.example.com",
                "phone": BAD_PHONES[(eid + edit) % len(BAD_PHONES)] if bad_phone[i]
                else f"+380 {phone_num[i] // 10**7 % 100:02d}-{phone_num[i] % 10**7:07d}",
            })
        return rows

    def change_employees(self) -> None:
        """Edit a fixed share of employees (position, email, phone); the
        next snapshot hashes differently, so the poll is not skipped."""
        self.employee_version += 1
        rng = _rng(self.seed, 4, self.employee_version)
        k = max(1, int(self.employees * SHARES.employee_change))
        for eid in (rng.choice(self.employees, k, replace=False) + 1).tolist():
            self._emp_edits[eid] = self._emp_edits.get(eid, 0) + 1


# -------------------------------------------------------------- wire encode
def encode_employees(rows: list[dict]) -> list[bytes]:
    return [protodecode.encode_message(r, protodecode.EMPLOYEE_FIELDS) for r in rows]


def encode_tasks(table: pa.Table) -> list[bytes]:
    """Feed-schema rows -> Task messages (epoch seconds, integer executor ids)."""
    return [
        protodecode.encode_message({
            **{c: r[c] for c in ("id", "type", "description", "address",
                                 "customer_name", "customer_login", "comments",
                                 "is_closed")},
            "creation_date": int(r["created_at"].timestamp()),
            "closing_date": int(r["closed_at"].timestamp()),
            "executors": [int(x) for x in r["executors"]],
        }, protodecode.TASK_FIELDS)
        for r in table.to_pylist()
    ]
