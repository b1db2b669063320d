"""Bridge-table rewrite (reference operators A15/A16).

The reference rewrites a task's executor set with DELETE + per-row
INSERT, resolving each executor shortname to an employee id with a
scalar subquery (/root/reference/internal/repository/task.go:125-151).
Set-wise: explode the array column, broadcast-join the (small) entity
dimension on the natural key, and the distinct result IS the
post-delete+insert state of the bridge. Unmatched names keep a NULL id
(the reference's subquery inserts NULL — preserved via left join,
FIXTURES.md B6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rebuild_bridge(
    tasks: DataFrame,
    task_key: str,
    members_col: str,
    dim: DataFrame | None = None,
    dim_natural_key: str | None = None,
    dim_id: str | None = None,
) -> DataFrame:
    """(task_key, member[, resolved id]) — the delete+insert end state."""
    exploded = tasks.select(
        F.col(task_key), F.explode(F.col(members_col)).alias("member")
    ).dropDuplicates([task_key, "member"])
    if dim is None:
        return exploded
    # private names: the dimension may carry columns named like the
    # task key (e.g. ``id``), which would make the join ambiguous
    keyed = dim.select(
        F.col(dim_natural_key).alias("_dim_key"), F.col(dim_id).alias("_dim_id")
    )
    return exploded.join(
        F.broadcast(keyed), F.col("member") == F.col("_dim_key"), "left"
    ).select(task_key, "member", F.col("_dim_id").alias("member_id"))
