"""Fast checks of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

from perfbench import feedgen, oracle, run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _feeds(seed: int) -> list[bytes]:
    gen = feedgen.FeedGenerator(seed, employees=200, store_tasks=500)
    out = feedgen.encode_employees(gen.employee_rows())
    for day in range(1, 4):
        out += feedgen.encode_tasks(gen.delta_table(day, 300))
    gen.change_employees()
    out += feedgen.encode_employees(gen.employee_rows())
    return out


def test_generator_is_byte_identical_per_seed():
    assert _feeds(7) == _feeds(7)
    assert _feeds(7) != _feeds(8)
    a = feedgen.FeedGenerator(7, 200, 500).seed_table()
    assert a.equals(feedgen.FeedGenerator(7, 200, 500).seed_table())


def test_generator_shares():
    gen = feedgen.FeedGenerator(3, employees=1000, store_tasks=10_000)
    delta = gen.delta_table(1, 4000)
    ids = delta["id"].to_pylist()
    assert len(set(ids)) == len(ids)
    new = sum(i > 10_000 for i in ids) / len(ids)
    assert abs(new - feedgen.SHARES.new) < 0.01
    execs = delta["executors"].to_pylist()
    assert abs(sum(not e for e in execs) / len(execs) - feedgen.SHARES.empty_executors) < 0.02
    emps = gen.employee_rows()
    numeric = sum(e["shortname"] == str(e["id"]) for e in emps) / len(emps)
    assert abs(numeric - feedgen.SHARES.numeric_shortname) < 0.05


def _replay_case():
    gen = feedgen.FeedGenerator(5, employees=50, store_tasks=200)
    emps = gen.employee_rows()
    dim = {e["shortname"]: e["id"] for e in emps}
    replay = oracle.SyncReplay(dim, gen.seed_table(), geocoded=True)
    deltas = [gen.delta_table(d, 80) for d in (1, 2)]
    for d in deltas:
        replay.apply(d)
    return replay, deltas


def test_replay_geocode_rule():
    replay, deltas = _replay_case()
    tasks = {r["id"]: r for r in replay.expected_tasks().to_pylist()}
    seed = {r["id"]: r for r in replay.seed.to_pylist()}
    last = {}
    for d in deltas:
        last.update({r["id"]: r for r in d.to_pylist()})
    kept = reset = 0
    for tid, r in last.items():
        row = tasks[tid]
        if tid in seed and seed[tid]["address"] == r["address"] and \
                all(x["address"] == r["address"] for d in deltas for x in d.to_pylist()
                    if x["id"] == tid):
            assert row["geocoding_attempts"] == oracle.geocode(tid)["geocoding_attempts"]
            kept += 1
        elif tid in seed:
            assert row["geocoding_attempts"] == 0 and row["latitude"] is None
            reset += 1
    assert kept and reset
    untouched = next(i for i in seed if i not in last)
    assert tasks[untouched]["latitude"] == oracle.geocode(untouched)["latitude"]


def _plant(table: pa.Table, column: str, value) -> pa.Table:
    col = table[column].to_pylist()
    col[len(col) // 2] = value
    return table.set_column(table.schema.get_field_index(column), column,
                            pa.array(col, table.schema.field(column).type))


def test_oracle_rejects_a_planted_wrong_row():
    replay, _ = _replay_case()
    tasks, bridge = replay.expected_tasks(), replay.expected_bridge()
    assert oracle.compare_tables(tasks, tasks, ["id"]) is None
    assert oracle.compare_tables(bridge, bridge, ["task_id", "member"]) is None
    assert oracle.compare_tables(_plant(tasks, "address", "1 Wrong st"), tasks, ["id"])
    assert oracle.compare_tables(_plant(tasks, "latitude", 1.5), tasks, ["id"])
    assert oracle.compare_tables(_plant(bridge, "member_id", 999_999), bridge,
                                 ["task_id", "member"])
    assert oracle.compare_tables(tasks.slice(1), tasks, ["id"])
    assert bridge["member_id"].null_count > 0  # unknown executors stay NULL


def test_employee_cleaning_oracle():
    r = {"id": 4, "fullname": "A", "shortname": "4", "position": "p",
         "email": "no-at-sign", "phone": "+380 50-1234567"}
    out = oracle.clean_employee(r)
    assert out["email"] == "invalid+4@example.invalid"
    assert out["phone"] == "+380501234567"
    assert oracle.clean_employee({**r, "phone": "12ab"})["phone"] == "12ab"


def test_end_to_end_figures():
    ops = [workloads.Op("quiet", s, 1.0) for s in (1.0, 2.0, 3.0, 4.0)]
    res = workloads.Result(shares={"quiet": 0.9, "change": 0.1},
                           ops=ops + [workloads.Op("change", 10.0, 5.0)])
    e2e = run.end_to_end(res)
    assert e2e["cycle_s"] == 0.9 * 2.5 + 0.1 * 10.0
    assert e2e["cpu_per_cycle_s"] == 0.9 * 1.0 + 0.1 * 5.0
    one = workloads.Result(shares={"day": 1.0}, ops=[workloads.Op("day", 7.0, 2.0)])
    assert run.end_to_end(one) == {"cycle_s": 7.0, "cpu_per_cycle_s": 2.0}


def test_tracing_a_missing_attribute_fails():
    class Owner:
        def merge(self):
            return 1

    tracer = tracing.Tracer.__new__(tracing.Tracer)
    with pytest.raises(AttributeError, match="no 'merge_batch'"):
        tracer.wrap(Owner, "merge_batch", "sink.merge")


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: u for k, (u, _) in run.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: u for k, (u, _) in run.PER_LAYER.items()}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    res = workloads.Result(shares={"quiet": 0.9, "change": 0.1}, setup_s=1.0,
                           ops=[workloads.Op("quiet", 2.0, 3.0),
                                workloads.Op("change", 4.0, 9.0)])
    e2e = set(run.end_to_end(res)) | {"setup_s"}
    assert e2e == set(run.END_TO_END)
    layers = set(workloads._layers(_StubTracer(), {1}, {
        "polls": 2, "skipped": 1, "feed_bytes": 1, "landed_rows": 1}, 1))
    layers |= {"bridge.resolve_ratio", "setup.session_s", "mem.peak_rss_mb", "host.steal_frac",
               "host.busy_other_frac", "trace.cycle_s", "trace.cpu_per_cycle_s"}
    assert layers == set(run.PER_LAYER)


class _StubTracer:
    def span_s(self, name, ops):
        return 0.0

    def triggers_in(self, ops, names):
        return []

    def spark_totals(self, ops, names=None):
        return {k: 0 for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                               "output_bytes", "output_records", "task_p50_s",
                               "task_max_s")}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync_tick", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
