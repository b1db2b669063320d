"""Per-operator unit tests on tiny inline DataFrames — the analogue of
the reference's pgxmock SQL-exactness tests (SURVEY.md §5), reusing the
reference's own fixture values
(internal/services/employees/employees_internal_test.go,
internal/repository/task_test.go).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hephaestus_spark.operators import bridge, cleaning, dimension, merge


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------------------------
# A5–A8 cleaning (employees.go:160-241)
# --------------------------------------------------------------------------
def test_cleaning_reference_fixtures(spark):
    # (1,'New Employee','new@example.com','0961234567') — valid/valid
    # '12345' — invalid email (employees_internal_test.go:108)
    # '096 123-4567' — valid E.164 after stripping [ -]
    df = spark.createDataFrame(
        [
            (1, "new@example.com", "0961234567"),
            (2, "12345", "096 123-4567"),
            (3, "", "not-a-phone"),
            (4, None, None),
        ],
        "id long, email string, phone string",
    )
    out = df.select(
        "id",
        cleaning.email_valid(F.col("email")).alias("ev"),
        cleaning.phone_valid(F.col("phone")).alias("pv"),
        cleaning.repaired_email(F.col("id"), F.col("email")).alias("re"),
        cleaning.cleaned_phone(F.col("phone")).alias("cp"),
    )
    assert _rows(out) == [
        (1, True, True, "new@example.com", "0961234567"),
        (2, False, True, "invalid+2@example.invalid", "0961234567"),
        (3, False, False, "invalid+3@example.invalid", None),
        (4, False, False, "invalid+4@example.invalid", None),
    ]


# --------------------------------------------------------------------------
# A10–A12 SCD-1 merge branches (employees.go:108-133)
# --------------------------------------------------------------------------
def test_scd1_merge_branches(spark):
    snapshot = spark.createDataFrame(
        [(2, "Old Name", "old@example.com"), (3, "Same Name", "same@example.com"),
         (9, "Keeper", None)],
        "id long, fullname string, email string",
    )
    staged = spark.createDataFrame(
        [(1, "New Employee", "new@example.com"),      # insert
         (2, "Updated Name", "updated@example.com"),  # update
         (3, "Same Name", "same@example.com")],       # identical -> skip
        "id long, fullname string, email string",
    )
    out = merge.scd1_merge(snapshot, staged, "id", ["fullname", "email"])
    assert _rows(out) == [
        (1, "New Employee", "new@example.com", "insert"),
        (2, "Updated Name", "updated@example.com", "update"),
        (3, "Same Name", "same@example.com", "skip"),
        (9, "Keeper", None, "keep"),
    ]


def test_scd1_null_safe_identical(spark):
    # NULL == NULL must be 'identical' (IS DISTINCT FROM semantics, A14).
    snapshot = spark.createDataFrame([(1, None)], "id long, email string")
    staged = spark.createDataFrame([(1, None)], "id long, email string")
    out = merge.scd1_merge(snapshot, staged, "id", ["email"])
    assert _rows(out) == [(1, None, "skip")]


# --------------------------------------------------------------------------
# A14 conditional geocode reset (task.go:97-112)
# --------------------------------------------------------------------------
def test_conditional_reset(spark):
    # stored (address, lat) vs incoming address; lat survives only when
    # the address is NOT DISTINCT FROM the incoming one (incl. NULLs).
    df = spark.createDataFrame(
        [("a st", "a st", 1.0), ("a st", "b st", 2.0),
         (None, None, 3.0), (None, "c st", 4.0)],
        "old_addr string, new_addr string, lat double",
    )
    changed = ~F.col("old_addr").eqNullSafe(F.col("new_addr"))
    out = df.select(
        "lat", merge.conditional_reset(F.col("lat"), changed).alias("lat_out")
    )
    assert _rows(out) == [
        (1.0, 1.0),   # same address -> kept
        (2.0, None),  # changed -> reset
        (3.0, 3.0),   # NULL == NULL -> kept
        (4.0, None),  # NULL -> value -> reset
    ]


# --------------------------------------------------------------------------
# A13 dimension get-or-create (task_test.go:29-55)
# --------------------------------------------------------------------------
def test_dimension_dense_ids(spark):
    df = spark.createDataFrame(
        [("Existing Type",), ("New Type",), ("Existing Type",)], "type_name string"
    )
    dim = dimension.dense_surrogate_ids(df, "type_name")
    assert _rows(dim) == [("Existing Type", 1), ("New Type", 2)]
    resolved = dimension.attach_surrogate_ids(df, "type_name")
    assert _rows(resolved.select("type_name", "type_id")) == [
        ("Existing Type", 1),
        ("Existing Type", 1),
        ("New Type", 2),
    ]


# --------------------------------------------------------------------------
# A15/A16 bridge rewrite (task_test.go:207-208; FIXTURES.md B6)
# --------------------------------------------------------------------------
def test_bridge_rebuild_with_unmatched(spark):
    tasks = spark.createDataFrame(
        [(101, ["Executor1", "Executor2"]), (102, ["Ghost"])],
        "task_id long, executors array<string>",
    )
    employees = spark.createDataFrame(
        [("Executor1", 11), ("Executor2", 22)], "shortname string, emp_id long"
    )
    out = bridge.rebuild_bridge(
        tasks, "task_id", "executors", employees, "shortname", "emp_id"
    )
    assert _rows(out) == [
        (101, "Executor1", 11),
        (101, "Executor2", 22),
        (102, "Ghost", None),  # unmatched -> NULL id, preserved
    ]


def test_bridge_dimension_sharing_the_task_key_name(spark):
    """A dimension with its own ``id`` column (an employee snapshot)
    joined to tasks keyed by ``id``: no ambiguous reference, and the
    task key in the output is the task's."""
    tasks = spark.createDataFrame(
        [(101, ["ann", "bob"]), (102, ["ghost"])], "id long, executors array<string>"
    )
    employees = spark.createDataFrame(
        [(1, "ann", 11), (2, "bob", 22)], "id long, shortname string, emp_id long"
    )
    out = bridge.rebuild_bridge(tasks, "id", "executors", employees, "shortname", "emp_id")
    assert out.columns == ["id", "member", "member_id"]
    assert _rows(out) == [(101, "ann", 11), (101, "bob", 22), (102, "ghost", None)]


def test_bridge_shrinking_set(spark):
    # Delete semantics: the rebuilt bridge reflects ONLY the current set.
    tasks_v2 = spark.createDataFrame(
        [(101, ["Executor1"])], "task_id long, executors array<string>"
    )
    out = bridge.rebuild_bridge(tasks_v2, "task_id", "executors")
    assert _rows(out) == [(101, "Executor1")]


def test_position_attribution_credit_conservation(spark):
    """x_attribution_position's integer credit split must conserve the
    order's cents exactly for EVERY touch count — the property that
    makes the per-type rollup auditable (queries/extras.py)."""
    import random

    rng = random.Random(3)
    rows = []
    for okey in range(200):
        cents = rng.randint(1, 10_000_000)
        m = rng.randint(1, 9)
        for pos in range(1, m + 1):
            rows.append((okey, cents, pos, m))
    df = spark.createDataFrame(rows, "okey long, ocents long, pos int, m int")
    from pyspark.sql import functions as F

    end_credit = F.expr("(ocents * 2) div 5")
    mid_total = F.col("ocents") - 2 * end_credit
    mid_each = F.expr("(ocents - 2 * ((ocents * 2) div 5)) div (m - 2)")
    credit = (
        F.when(F.col("m") == 1, F.col("ocents"))
        .when((F.col("m") == 2) & (F.col("pos") == 1), F.expr("ocents div 2"))
        .when(F.col("m") == 2, F.col("ocents") - F.expr("ocents div 2"))
        .when(F.col("pos") == 1, end_credit)
        .when(F.col("pos") == F.col("m"), end_credit)
        .when(F.col("pos") == F.col("m") - 1, mid_total - (F.col("m") - 3) * mid_each)
        .otherwise(mid_each)
    )
    per_order = (
        df.withColumn("credit", credit)
        .groupBy("okey", "ocents")
        .agg(F.sum("credit").alias("total"), F.min("credit").alias("mn"))
        .collect()
    )
    assert len(per_order) == 200
    for r in per_order:
        assert r["total"] == r["ocents"], (r["okey"], r["total"], r["ocents"])
        assert r["mn"] >= 0
