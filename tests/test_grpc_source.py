"""gRPC feed adapter: envelope codec, hash handshake, retry, and the
full transport → decode → pipeline path (A1/A2 with a real transport
seam instead of pre-dropped files).

grpcio is absent from this image, so the in-process transport carries
the tests; the GrpcTransport shares the exact same envelope codec,
which IS what these tests pin down (plus the import gate itself).
"""

from __future__ import annotations

import datetime

import pytest

from hephaestus_spark.sources import protodecode as pc
from hephaestus_spark.sources.grpc_source import (
    EMPLOYEES_REQUEST_FIELDS,
    FEED_RESPONSE_FIELDS,
    HAS_GRPC,
    FeedPoller,
    InProcessTransport,
)


def _emp(i, name, email="a@b.co", phone="+380961234567"):
    return pc.encode_message(
        {
            "id": i,
            "fullname": name,
            "shortname": name.split()[0],
            "position": "eng",
            "email": email,
            "phone": phone,
        },
        pc.EMPLOYEE_FIELDS,
    )


def test_envelope_roundtrip():
    req = pc.encode_message({"known_hash": "abc"}, EMPLOYEES_REQUEST_FIELDS)
    assert pc.decode_message(req, EMPLOYEES_REQUEST_FIELDS) == {"known_hash": "abc"}
    payloads = [_emp(1, "Ann A"), _emp(2, "Bob B")]
    resp = pc.encode_message(
        {"payloads": payloads, "new_hash": "h1"}, FEED_RESPONSE_FIELDS
    )
    d = pc.decode_message(resp, FEED_RESPONSE_FIELDS)
    assert d["new_hash"] == "h1"
    assert d["payloads"] == payloads  # opaque bytes preserved exactly


def test_hash_handshake_skips_unchanged():
    t = InProcessTransport(employee_payloads=[_emp(1, "Ann A")])
    first = t.get_employees(None)
    assert len(first.payloads) == 1
    again = t.get_employees(first.new_hash)
    assert again.payloads == [] and again.new_hash == first.new_hash


def test_retry_schedule_recovers_from_unavailable(spark, tmp_path):
    t = InProcessTransport(
        employee_payloads=[_emp(1, "Ann A")], failures_before_success=2
    )
    poller = FeedPoller(transport=t, employee_feed_dir=str(tmp_path / "feed"))
    n = poller.poll_employees_once(spark, feed_date=datetime.date(2024, 1, 1))
    assert n == 1
    assert t.calls == 3  # 2 failures + 1 success, inside the 4-attempt budget


def test_retry_gives_up_after_four_attempts(spark, tmp_path):
    t = InProcessTransport(
        employee_payloads=[_emp(1, "Ann A")], failures_before_success=4
    )
    poller = FeedPoller(transport=t, employee_feed_dir=str(tmp_path / "feed"))
    with pytest.raises(ConnectionError):
        poller.poll_employees_once(spark)
    assert t.calls == 4  # client.go:12-23 attempt budget


def test_poll_to_pipeline_end_to_end(spark, tmp_path):
    """Two polls (second with one changed row) through the real
    EmployeeSyncPipeline: transport bytes → driver-side Arrow decode → feed
    file → streaming merge — the complete A1 ingestion story."""
    from hephaestus_spark.streaming.pipeline import EmployeeSyncPipeline

    feed = str(tmp_path / "feed")
    t = InProcessTransport(
        employee_payloads=[_emp(1, "Ann A"), _emp(2, "Bob B", email="bad")]
    )
    poller = FeedPoller(transport=t, employee_feed_dir=feed)
    assert poller.poll_employees_once(spark, datetime.date(2024, 1, 1)) == 2
    # unchanged upstream -> hash skip, no new file, no decode
    assert poller.poll_employees_once(spark, datetime.date(2024, 1, 2)) == 0

    pipe = EmployeeSyncPipeline(
        feed_dir=feed,
        snapshot_path=str(tmp_path / "snap"),
        watermark_path=str(tmp_path / "wm"),
    )
    pipe.run_available_now(spark)
    snap = {r["id"]: r for r in spark.read.parquet(str(tmp_path / "snap")).collect()}
    assert snap[1]["fullname"] == "Ann A"
    # A5: the invalid email was repaired deterministically
    assert snap[2]["email"] == "invalid+2@example.invalid"

    # poll 3: Bob's position changes upstream -> new hash -> new file
    t.employee_payloads = [_emp(1, "Ann A"), _emp(2, "Bob B", email="b@b.co")]
    assert poller.poll_employees_once(spark, datetime.date(2024, 1, 3)) == 2
    pipe.run_available_now(spark)
    snap = {r["id"]: r for r in spark.read.parquet(str(tmp_path / "snap")).collect()}
    assert snap[2]["email"] == "b@b.co"


def test_task_poll_lands_day_file(spark, tmp_path):
    task = pc.encode_message(
        {
            "id": 101,
            "type": "install",
            "creation_date": 1704067200,  # 2024-01-01T00:00Z
            "closing_date": 0,
            "description": "Test Description",
            "address": "a st",
            "customer_name": "C",
            "customer_login": "c1",
            "comments": ["first"],
            "executors": [1, 2],
            "is_closed": False,
        },
        pc.TASK_FIELDS,
    )
    t = InProcessTransport(task_payloads_by_date={"2024-01-01": [task]})
    poller = FeedPoller(transport=t, task_feed_dir=str(tmp_path / "tfeed"))
    assert poller.poll_tasks_for_date(spark, datetime.date(2024, 1, 1)) == 1
    landed = spark.read.parquet(str(tmp_path / "tfeed")).collect()
    assert len(landed) == 1
    row = landed[0]
    assert row["id"] == 101 and row["created_at"].year == 2024
    assert row["executors"] == ["1", "2"]  # wire ids stringified for the feed
    # empty next day: nothing landed, hash committed
    assert poller.poll_tasks_for_date(spark, datetime.date(2024, 1, 2)) == 0


def test_grpc_gate_is_honest():
    """The import gate reflects reality: in this image grpcio is absent,
    and constructing GrpcTransport must raise ImportError (not crash at
    import time)."""
    from hephaestus_spark.sources.grpc_source import GrpcTransport

    if HAS_GRPC:
        pytest.skip("grpcio present in this environment")
    with pytest.raises(ImportError):
        GrpcTransport("localhost:50051")


def test_task_types_dimension(spark):
    t = InProcessTransport(task_types=["install", "repair"])
    poller = FeedPoller(transport=t)
    dim = poller.load_task_types(spark)
    assert [r["type_name"] for r in dim.orderBy("type_name").collect()] == [
        "install",
        "repair",
    ]


def test_task_poll_to_pipeline_end_to_end(spark, tmp_path):
    """A2/A13-A20 through the transport seam: two polled days (one with
    data, one empty) drive TaskSyncPipeline - merge, bridge rewrite, and
    the watermark advancing past the EMPTY day too (tasks.go:164-169)."""
    import datetime as dt

    from hephaestus_spark.streaming.pipeline import TaskSyncPipeline

    def task_bytes(i, desc, executors):
        return pc.encode_message(
            {
                "id": i,
                "type": "install",
                "creation_date": 1704067200 + i,
                "closing_date": 0,
                "description": desc,
                "address": f"{i} st",
                "customer_name": "C",
                "customer_login": "c1",
                "comments": [],
                "executors": executors,
                "is_closed": False,
            },
            pc.TASK_FIELDS,
        )

    t = InProcessTransport(
        task_payloads_by_date={
            "2024-01-01": [task_bytes(1, "day1 task", [11, 12])],
            # 2024-01-02 absent -> empty day
            "2024-01-03": [task_bytes(2, "day3 task", [13])],
        }
    )
    feed = str(tmp_path / "tfeed")
    poller = FeedPoller(transport=t, task_feed_dir=feed)
    assert poller.poll_tasks_for_date(spark, dt.date(2024, 1, 1)) == 1
    assert poller.poll_tasks_for_date(spark, dt.date(2024, 1, 2)) == 0
    assert poller.poll_tasks_for_date(spark, dt.date(2024, 1, 3)) == 1

    pipe = TaskSyncPipeline(
        feed_dir=feed,
        tasks_path=str(tmp_path / "tasks"),
        bridge_path=str(tmp_path / "bridge"),
        watermark_path=str(tmp_path / "wm"),
    )
    pipe.run_available_now(spark)

    tasks = {r["id"]: r for r in spark.read.parquet(str(tmp_path / "tasks")).collect()}
    assert set(tasks) == {1, 2}
    assert tasks[1]["description"] == "day1 task"
    bridge = spark.read.parquet(str(tmp_path / "bridge")).collect()
    assert {(r["task_id"], r["member"]) for r in bridge} == {
        (1, "11"), (1, "12"), (2, "13"),
    }
    # watermark advanced past the last polled day with data
    assert pipe.last_processed_date(spark) == dt.date(2024, 1, 4)
