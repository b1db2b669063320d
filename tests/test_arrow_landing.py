"""Driver-side Arrow landing of polled feeds and of the watermark row.

The poller decodes each poll's payloads on the driver
(``protodecode.feed_table``) and writes one parquet file; the
watermark table writes its single row with pyarrow. These tests pin:

- the Arrow-landed file, read back through Spark with the pipeline's
  feed schema, equals the rows the ``mapInPandas`` decode produces, for
  Hypothesis-generated messages (unicode, absent fields, empty repeated
  fields, zero timestamps, ids up to 2**63-1);
- one visible ``part-*.parquet`` per poll and no leftover temp file;
- a malformed payload fails the poll before any file appears, leaving
  the feed hash uncommitted;
- neither a poll nor a watermark write submits a Spark job.
"""

from __future__ import annotations

import datetime
import os
import tempfile
import uuid

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hephaestus_spark.sources import protodecode as pc
from hephaestus_spark.sources.grpc_source import FeedPoller, InProcessTransport
from hephaestus_spark.streaming.pipeline import EMPLOYEE_FEED_SCHEMA, TASK_FEED_SCHEMA
from hephaestus_spark.streaming.sinks import WatermarkTable
from tests.test_protodecode_fuzz import EMPLOYEE_FIELD_VALUES, TASK_FIELD_VALUES

DAY = datetime.date(2024, 3, 1)
MAX_ID = 2**63 - 1

# every field optional: an absent field must land as its proto3 default
SOME_TASKS = st.lists(
    st.fixed_dictionaries({}, optional=TASK_FIELD_VALUES), min_size=1, max_size=12
)
SOME_EMPLOYEES = st.lists(
    st.fixed_dictionaries({}, optional=EMPLOYEE_FIELD_VALUES), min_size=1, max_size=12
)
EDGE_TASKS = [
    {},
    {"id": MAX_ID, "creation_date": 0, "closing_date": 0, "comments": [],
     "executors": [], "is_closed": False},
    {"id": 7, "type": "ремонт", "description": "naïve ☃ 𝄞 \x00 end",
     "comments": ["", "коментар"], "executors": [MAX_ID, 0, 1],
     "creation_date": 2**40, "is_closed": True},
]
EDGE_EMPLOYEES = [
    {},
    {"id": MAX_ID, "fullname": "Олена Коваль", "shortname": "", "email": "é@ü.ua"},
]


def _rows(df, ts_cols=()):
    """Rows as sortable tuples; timestamps as epoch micros (years past
    9999 do not fit a Python datetime)."""
    df = df.select(*[F.unix_micros(c).alias(c) if c in ts_cols else c for c in df.columns])
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _mapinpandas_feed(spark, payloads, fields):
    """The Spark-side decode of the same payloads, shaped like a feed file."""
    df = spark.createDataFrame([(p,) for p in payloads], "payload binary")
    if fields is pc.TASK_FIELDS:
        out = (
            pc.decode_tasks(df)
            .withColumnRenamed("creation_date", "created_at")
            .withColumnRenamed("closing_date", "closed_at")
            .withColumn("executors", F.expr("transform(executors, x -> CAST(x AS STRING))"))
        )
    else:
        out = pc.decode_employees(df)
    return out.withColumn("feed_date", F.lit(DAY).cast("date"))


def _arrow_feed(spark, payloads, fields, feed_dir):
    if fields is pc.TASK_FIELDS:
        poller = FeedPoller(InProcessTransport(task_payloads_by_date={DAY.isoformat(): payloads}),
                            task_feed_dir=feed_dir)
        assert poller.poll_tasks_for_date(spark, DAY) == len(payloads)
        schema = TASK_FEED_SCHEMA
    else:
        poller = FeedPoller(InProcessTransport(employee_payloads=payloads),
                            employee_feed_dir=feed_dir)
        assert poller.poll_employees_once(spark, DAY) == len(payloads)
        schema = EMPLOYEE_FEED_SCHEMA
    return spark.read.schema(schema).parquet(feed_dir)


def _assert_same_rows(spark, messages, fields, ts_cols=()):
    payloads = [pc.encode_message(m, fields) for m in messages]
    with tempfile.TemporaryDirectory() as d:
        landed = _arrow_feed(spark, payloads, fields, os.path.join(d, "feed"))
        expected = _mapinpandas_feed(spark, payloads, fields)
        assert landed.columns == expected.columns
        assert _rows(landed, ts_cols) == _rows(expected, ts_cols)


@settings(max_examples=10, deadline=None)
@given(SOME_TASKS)
@example(EDGE_TASKS)
def test_task_landing_matches_mapinpandas_decode(spark, messages):
    _assert_same_rows(spark, messages, pc.TASK_FIELDS, ("created_at", "closed_at"))


@settings(max_examples=10, deadline=None)
@given(SOME_EMPLOYEES)
@example(EDGE_EMPLOYEES)
def test_employee_landing_matches_mapinpandas_decode(spark, messages):
    _assert_same_rows(spark, messages, pc.EMPLOYEE_FIELDS)


def test_landed_file_carries_the_feed_schema(spark, tmp_path):
    """Read with inference (no schema given), the file IS the feed schema."""
    for fields, schema in ((pc.TASK_FIELDS, TASK_FEED_SCHEMA),
                           (pc.EMPLOYEE_FIELDS, EMPLOYEE_FEED_SCHEMA)):
        feed = str(tmp_path / uuid.uuid4().hex)
        _arrow_feed(spark, [pc.encode_message({"id": 1}, fields)], fields, feed)
        assert spark.read.parquet(feed).schema == schema


def test_poll_leaves_one_part_file_and_no_temp_file(spark, tmp_path):
    feed = tmp_path / "feed"
    t = InProcessTransport(
        employee_payloads=[pc.encode_message({"id": 1, "fullname": "A"}, pc.EMPLOYEE_FIELDS)]
    )
    poller = FeedPoller(t, employee_feed_dir=str(feed))
    assert poller.poll_employees_once(spark, DAY) == 1
    names = os.listdir(feed)
    assert len(names) == 1
    assert names[0].startswith("part-") and names[0].endswith(".parquet")
    t.employee_payloads = [pc.encode_message({"id": 2}, pc.EMPLOYEE_FIELDS)]
    assert poller.poll_employees_once(spark, DAY) == 1
    names = os.listdir(feed)
    assert len(names) == 2 and not [n for n in names if n.startswith(".")]


def test_malformed_payload_lands_nothing_and_keeps_hash(spark, tmp_path):
    feed = tmp_path / "tfeed"
    good = pc.encode_message({"id": 1}, pc.TASK_FIELDS)
    truncated = b"\x08\x80"  # field 1 varint whose continuation byte is missing
    t = InProcessTransport(task_payloads_by_date={DAY.isoformat(): [good, truncated]})
    poller = FeedPoller(t, task_feed_dir=str(feed))
    with pytest.raises(IndexError):
        poller.poll_tasks_for_date(spark, DAY)
    assert not feed.exists() or os.listdir(feed) == []
    assert poller.task_hash is None
    # upstream repaired: the same day is fetched in full and lands
    t.task_payloads_by_date[DAY.isoformat()] = [good]
    assert poller.poll_tasks_for_date(spark, DAY) == 1
    assert poller.task_hash is not None and len(os.listdir(feed)) == 1


def test_poll_and_watermark_write_submit_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    tag = f"arrow-landing-{uuid.uuid4().hex}"
    tagged = lambda: list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))  # noqa: E731
    t = InProcessTransport(
        employee_payloads=[pc.encode_message({"id": 1}, pc.EMPLOYEE_FIELDS)],
        task_payloads_by_date={DAY.isoformat(): [pc.encode_message({"id": 1}, pc.TASK_FIELDS)]},
    )
    poller = FeedPoller(t, str(tmp_path / "efeed"), str(tmp_path / "tfeed"))
    wm = WatermarkTable(str(tmp_path / "wm"))
    sc.addJobTag(tag)
    try:
        spark.range(1).collect()  # the probe itself sees tagged jobs
        probe = tagged()
        assert probe
        assert poller.poll_employees_once(spark, DAY) == 1
        assert poller.poll_tasks_for_date(spark, DAY) == 1
        wm.write(spark, DAY, 0)
        wm.write(spark, DAY + datetime.timedelta(days=1), 1)
        assert tagged() == probe
    finally:
        sc.removeJobTag(tag)
    assert wm.read(spark) == DAY + datetime.timedelta(days=1)


def test_watermark_row_schema(spark, tmp_path):
    wm = WatermarkTable(str(tmp_path / "wm"))
    wm.write(spark, DAY, 3)
    df = spark.read.parquet(wm.path)
    assert df.dtypes == [("id", "int"), ("last_processed_date", "date"),
                         ("batch_id", "bigint"), ("updated_at", "timestamp")]
    (row,) = df.collect()
    assert (row["id"], row["last_processed_date"], row["batch_id"]) == (1, DAY, 3)
    assert os.listdir(tmp_path) == ["wm"]  # the swap left no temp directory
