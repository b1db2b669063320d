"""JDBC merge-sink integration test against a real SQL engine.

SURVEY.md §5 carry-over (iv) calls for a real-database merge test
(Testcontainers-Postgres analogue). Postgres isn't in this image, but
DuckDB is a DBAPI engine with `INSERT … ON CONFLICT DO UPDATE` and
`IS DISTINCT FROM` — enough to execute the reference's A11/A12/A14
statement text verbatim-semantically and prove the executor-side
foreachPartition write path end-to-end.

DuckDB is single-writer across processes, so the staged frame is
coalesced to one partition; with Postgres the same code runs one
connection per partition (sinks.py P3/P4 notes).
"""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from hephaestus_spark.streaming.sinks import (
    GEOCODE_RESET_RULE,
    JdbcMergeTarget,
    upsert_sql,
)


def test_upsert_sql_text_matches_reference_shape():
    sql = upsert_sql("employees", "id", ["fullname", "email"])
    assert sql == (
        "INSERT INTO employees (id, fullname, email) VALUES (%s, %s, %s) "
        "ON CONFLICT (id) DO UPDATE SET fullname = EXCLUDED.fullname, "
        "email = EXCLUDED.email, updated_at = now()"
    )
    with_reset = upsert_sql(
        "tasks", "task_id", ["address"],
        reset_rule=GEOCODE_RESET_RULE.format(t="tasks"), placeholder="?",
    )
    assert "VALUES (?, ?)" in with_reset
    assert "tasks.address IS DISTINCT FROM EXCLUDED.address" in with_reset


def test_merge_batch_against_duckdb(spark, tmp_path):
    db = str(tmp_path / "sink.duckdb")
    con = duckdb.connect(db)
    con.execute(
        """CREATE TABLE tasks (
             task_id BIGINT PRIMARY KEY, address VARCHAR, description VARCHAR,
             latitude DOUBLE, longitude DOUBLE,
             geocoding_attempts INTEGER DEFAULT 0, geocoding_error VARCHAR,
             updated_at TIMESTAMP)"""
    )
    # pre-existing row with geocoder-owned values filled in
    con.execute(
        "INSERT INTO tasks VALUES (101, 'a st', 'old', 50.45, 30.52, 2, NULL, now())"
    )
    con.close()

    target = JdbcMergeTarget(
        table="tasks",
        key="task_id",
        cols=["address", "description"],
        connection_factory=lambda: duckdb.connect(db),
        reset_rule=GEOCODE_RESET_RULE.format(t="tasks"),
        placeholder="?",
        # geocoder-owned columns: written as initial state on insert,
        # only the reset_rule touches them on conflict (DuckDB's binder
        # also requires them in the INSERT list — sinks.py note)
        insert_only_cols=["latitude", "longitude", "geocoding_attempts", "geocoding_error"],
    )

    # batch: 101 address UNCHANGED (geocode must survive),
    #        102 brand new (insert path)
    staged = spark.createDataFrame(
        [(101, "a st", "new desc", 0), (102, "b st", "fresh", 0)],
        "task_id long, address string, description string, geocoding_attempts int",
    ).coalesce(1)
    target.merge_batch(spark, staged)

    con = duckdb.connect(db)
    rows = {
        r[0]: r
        for r in con.execute(
            "SELECT task_id, address, description, latitude, geocoding_attempts"
            " FROM tasks ORDER BY task_id"
        ).fetchall()
    }
    assert rows[101][2] == "new desc"  # updated
    assert rows[101][3] == 50.45 and rows[101][4] == 2  # geocode preserved (A14)
    assert rows[102][1] == "b st"  # inserted
    con.close()

    # batch 2: 101 address CHANGES -> conditional reset fires
    staged2 = spark.createDataFrame(
        [(101, "moved st", "new desc", 0)],
        "task_id long, address string, description string, geocoding_attempts int",
    ).coalesce(1)
    target.merge_batch(spark, staged2)
    con = duckdb.connect(db)
    lat, lon, attempts = con.execute(
        "SELECT latitude, longitude, geocoding_attempts FROM tasks WHERE task_id=101"
    ).fetchone()
    assert lat is None and lon is None and attempts == 0  # A14 reset
    con.close()


def test_merge_batch_is_idempotent_per_batch(spark, tmp_path):
    """Replaying the same batch (streaming retry) must not duplicate or
    corrupt rows — the upsert makes retries safe."""
    db = str(tmp_path / "sink2.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE emp (id BIGINT PRIMARY KEY, fullname VARCHAR, updated_at TIMESTAMP)"
    )
    con.close()
    target = JdbcMergeTarget(
        table="emp", key="id", cols=["fullname"],
        connection_factory=lambda: duckdb.connect(db), placeholder="?",
    )
    batch = spark.createDataFrame(
        [(1, "Ann"), (2, "Bob")], "id long, fullname string"
    ).coalesce(1)
    target.merge_batch(spark, batch)
    target.merge_batch(spark, batch)  # retry
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*), count(DISTINCT id) FROM emp").fetchone() == (2, 2)
    con.close()


class _CountingConn:
    """DBAPI passthrough counting execute/executemany round trips — the
    proxy for network round trips on a real JDBC link. foreachPartition
    runs in an executor worker process, so counts are persisted into the
    target DB itself (a `_stmt_stats` table) to be visible driver-side."""

    def __init__(self, real):
        self._real = real
        real.execute(
            "CREATE TABLE IF NOT EXISTS _stmt_stats (kind VARCHAR, n INTEGER)"
        )

    def cursor(self):
        return _CountingCursor(self._real, self._real.cursor())

    def commit(self):
        self._real.commit()

    def close(self):
        self._real.close()


class _CountingCursor:
    def __init__(self, conn, real):
        self._conn, self._real = conn, real

    def _bump(self, kind):
        self._conn.execute("INSERT INTO _stmt_stats VALUES (?, 1)", [kind])

    def execute(self, sql, params=None):
        self._bump("execute")
        return self._real.execute(sql, params or [])

    def executemany(self, sql, argsets):
        self._bump("executemany")
        return self._real.executemany(sql, argsets)


def test_merge_batch_statement_count_is_batched(spark, tmp_path):
    """SURVEY §4 P3 / VERDICT r2 item 5: the sink must issue
    O(rows/batch_size) statements per partition, never O(rows)."""
    db = str(tmp_path / "sink4.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE emp (id BIGINT PRIMARY KEY, fullname VARCHAR, updated_at TIMESTAMP)"
    )
    con.close()
    target = JdbcMergeTarget(
        table="emp", key="id", cols=["fullname"],
        connection_factory=lambda: _CountingConn(duckdb.connect(db)),
        placeholder="?", batch_size=100,
    )
    n = 750
    batch = spark.createDataFrame(
        [(i, f"name {i}") for i in range(n)], "id long, fullname string"
    ).coalesce(1)
    target.merge_batch(spark, batch)
    con = duckdb.connect(db)
    stats = dict(
        con.execute(
            "SELECT kind, sum(n) FROM _stmt_stats GROUP BY kind"
        ).fetchall()
    )
    # ceil(750/100) = 8 executemany calls, zero per-row execute calls
    assert stats.get("execute") is None
    assert stats["executemany"] == 8
    assert con.execute("SELECT count(*) FROM emp").fetchone()[0] == n
    con.close()


def test_delete_insert_keeps_all_rows_of_multirow_key(spark, tmp_path):
    """A15 bridge rewrite: a task staged with several executor rows must
    keep EVERY row — all deletes run before all inserts within a chunk
    (the old per-row interleave deleted earlier inserts of the same key)."""
    db = str(tmp_path / "sink5.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE bridge (task_id BIGINT, executor VARCHAR)")
    con.execute("INSERT INTO bridge VALUES (7, 'stale'), (8, 'keepme')")
    con.close()
    target = JdbcMergeTarget(
        table="bridge", key="task_id", cols=["executor"],
        connection_factory=lambda: duckdb.connect(db), placeholder="?",
        mode="delete_insert",
    )
    staged = spark.createDataFrame(
        [(7, "alice"), (7, "bob"), (7, "carol")], "task_id long, executor string"
    ).coalesce(1)
    target.merge_batch(spark, staged)
    con = duckdb.connect(db)
    rows = con.execute(
        "SELECT task_id, executor FROM bridge ORDER BY task_id, executor"
    ).fetchall()
    con.close()
    assert rows == [(7, "alice"), (7, "bob"), (7, "carol"), (8, "keepme")]


def test_merge_batch_maps_string_array_column(spark, tmp_path):
    """SURVEY §7 risk 6: the reference's tasks.comments is Postgres
    text[] (internal/repository/task.go:114-117). A Spark array<string>
    column must survive the DBAPI round-trip — inserted as a SQL array,
    replaced (not appended) on re-merge, NULL-safe.

    Runs in delete_insert mode (reference A15, task.go:125-151): DuckDB's
    ON CONFLICT binder refuses list-column updates ("List Update is not
    supported"), while Postgres handles text[] in the upsert SET — whose
    statement text is covered by the SQL-shape unit test above."""
    db = str(tmp_path / "sink3.duckdb")
    con = duckdb.connect(db)
    con.execute(
        """CREATE TABLE tasks (
             task_id BIGINT PRIMARY KEY, description VARCHAR,
             comments VARCHAR[], updated_at TIMESTAMP)"""
    )
    con.close()
    target = JdbcMergeTarget(
        table="tasks", key="task_id", cols=["description", "comments"],
        connection_factory=lambda: duckdb.connect(db), placeholder="?",
        mode="delete_insert",
    )
    staged = spark.createDataFrame(
        [(1, "t1", ["first", "second"]), (2, "t2", []), (3, "t3", None)],
        "task_id long, description string, comments array<string>",
    ).coalesce(1)
    target.merge_batch(spark, staged)
    con = duckdb.connect(db)
    rows = dict(con.execute("SELECT task_id, comments FROM tasks").fetchall())
    assert rows[1] == ["first", "second"]
    assert rows[2] == []
    assert rows[3] is None
    con.close()

    # conflict path: the array is REPLACED wholesale (SCD-1), not merged
    staged2 = spark.createDataFrame(
        [(1, "t1", ["rewritten"])],
        "task_id long, description string, comments array<string>",
    ).coalesce(1)
    target.merge_batch(spark, staged2)
    con = duckdb.connect(db)
    assert con.execute(
        "SELECT comments FROM tasks WHERE task_id = 1"
    ).fetchone()[0] == ["rewritten"]
    con.close()


def test_task_watermark_advances_monotonically_on_duckdb(tmp_path):
    """``JdbcTaskSyncPipeline.advance_watermark`` runs on DuckDB (no
    Postgres needed): two forward advances move the watermark, a
    backwards one leaves it where GREATEST keeps it."""
    import datetime as dt

    from hephaestus_spark.streaming.pipeline import BACKFILL_EPOCH, JdbcTaskSyncPipeline

    db = str(tmp_path / "wm.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE scraper_status (id int PRIMARY KEY, last_processed_date date,"
        " updated_at timestamp DEFAULT now())"
    )
    con.close()
    pipe = JdbcTaskSyncPipeline(
        feed_dir=str(tmp_path / "feed"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        connection_factory=lambda: duckdb.connect(db),
        placeholder="?",
    )
    assert pipe.last_processed_date() == BACKFILL_EPOCH
    d1, d2 = dt.date(2024, 1, 2), dt.date(2024, 1, 5)
    pipe.advance_watermark(d1)
    assert pipe.last_processed_date() == d1
    pipe.advance_watermark(d2)
    assert pipe.last_processed_date() == d2
    pipe.advance_watermark(d1)  # an older feed file surfaces late
    assert pipe.last_processed_date() == d2
    con = duckdb.connect(db)
    assert con.execute(
        "SELECT count(*), count(updated_at) FROM scraper_status"
    ).fetchone() == (1, 1)
    con.close()
