"""Ordered-funnel conversion analysis over an event stream.

The product-analytics staple the reference's SQL surface cannot express
in one query (its NL2SQL answers single-table aggregates;
readme_en.md's query examples stop at grouped counts): how many users
performed step_1, then step_2 AFTER it, then step_3 after that —
order-sensitive, per-user, across arbitrarily many rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strictly-ordered funnel → (step_idx, step, n_users).

    A user reaches step k iff their events contain the subsequence
    steps[0..k] at strictly increasing timestamps. Computed greedily:
    the frontier after step k is each user's EARLIEST valid step-k
    time, and step k+1 matches only events strictly later — the
    exchange argument makes greedy equivalent to subsequence-exists
    (taking the earliest valid time never eliminates a later match).

    Scale shape: one filtered aggregation per step, each keyed on the
    user — the per-step event slice (type pushdown to the scan) joins
    the previous frontier (one row per surviving user, monotonically
    shrinking) and partial-aggregates map-side before the user-keyed
    exchange. k steps → k bounded shuffles; no windows over the full
    event stream, no per-user collect.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    frontier = None
    counts = []
    for i, s in enumerate(steps):
        ev = events.where(F.col(type_col) == s).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if frontier is None:
            cur = ev.groupBy("_u").agg(F.min("_ts").alias("_t"))
        else:
            cur = (
                ev.join(frontier.hint("shuffle_hash"), "_u")  # user-scale, stats-less
                .where(F.col("_ts") > F.col("_t"))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_t"))
            )
        frontier = cur.localCheckpoint(eager=False)  # next step + count
        counts.append(
            frontier.agg(F.count("*").alias("n_users")).select(
                F.lit(i).cast("int").alias("step_idx"),
                F.lit(s).alias("step"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def funnel_user_depths(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel table → (user_id, depth, reached_ts): the row
    form behind funnel_counts (same greedy frontier chain). Users
    with no step-0 event do not appear (depth ≥ 1); reached_ts is the
    frontier time of the deepest step reached. Same scale shape as
    funnel_counts: k bounded user-keyed aggregations, no full-stream
    window."""
    if not steps:
        raise ValueError("steps must be non-empty")
    frontier = None
    frontiers = []
    for i, s in enumerate(steps):
        ev = events.where(F.col(type_col) == s).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if frontier is None:
            cur = ev.groupBy("_u").agg(F.min("_ts").alias(f"_t{i}"))
        else:
            cur = (
                ev.join(frontier.hint("shuffle_hash"), "_u")  # user-scale, stats-less
                .where(F.col("_ts") > F.col(f"_t{i - 1}"))
                .groupBy("_u")
                .agg(F.min("_ts").alias(f"_t{i}"))
            )
        frontier = cur.localCheckpoint(eager=False)
        frontiers.append(frontier)
    out = frontiers[0]
    for i in range(1, len(steps)):
        out = out.join(frontiers[i].hint("shuffle_hash"), "_u", "left")
    depth = None
    reached = None
    for i in reversed(range(len(steps))):
        c = F.col(f"_t{i}").isNotNull()
        depth = (
            F.when(c, F.lit(i + 1)) if depth is None else depth.when(c, i + 1)
        )
        reached = (
            F.when(c, F.col(f"_t{i}"))
            if reached is None
            else reached.when(c, F.col(f"_t{i}"))
        )
    return out.select(
        F.col("_u").alias(user_col),
        depth.cast("int").alias("depth"),
        reached.alias("reached_ts"),
    )
