"""Product-analytics operators: conversion funnels, retention cohorts,
co-occurrence graphs, triangle counting.

Scale design
------------
- Funnel: one conditional-min aggregate per stage, each keyed on the user —
  every stage reuses the user-hash partitioning, so the chain costs one
  logical shuffle amortized across stages. No sessions are materialized.
- Cohort retention: two aggregates (first-touch, then cohort×offset) —
  the classic two-pass; distinct-user counting shuffles once on the
  (cohort, offset) key.
- Co-occurrence: the self-join fans out quadratically in BASKET size, not
  corpus size — baskets (order line counts) are bounded, so the join is
  linear in rows. For unbounded baskets, cap items per basket first (the
  same hot-key discipline as the shingle df cap in dedup).
- Triangles: three-way equi-join over the (a<b)-oriented edge list — the
  standard distributed triangle enumeration; orientation means each
  triangle is produced exactly once and the join fan-out is bounded by the
  max out-degree, which the edge-weight threshold caps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered conversion funnel: users counted at stage k iff they did
    stage k strictly after their qualifying stage k-1 event.

    Returns (stage, n_users) with stage prefixed by its ordinal so the
    output sorts in funnel order. Each step is a conditional min-timestamp
    aggregate joined back on the user key.
    """
    reached = events.filter(F.col(type_col) == stages[0]).groupBy(user_col).agg(
        F.min(ts_col).alias("_t")
    )
    out_rows = [(f"1_{stages[0]}", reached)]
    for i, stage in enumerate(stages[1:], start=2):
        nxt = (
            events.filter(F.col(type_col) == stage)
            .join(reached.select(user_col, "_t"), on=user_col)
            .filter(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        out_rows.append((f"{i}_{stage}", nxt))
        reached = nxt
    frames = [
        df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), F.col("n_users")
        )
        for name, df in out_rows
    ]
    result = frames[0]
    for f in frames[1:]:
        result = result.union(f)
    return result


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-touch week, counted
    as active per week offset. Returns (cohort_week, week_offset, n_users)
    with cohort_week formatted as the ISO Monday date string."""
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("_cw")
    )
    active = (
        events.join(first, on=user_col)
        .select(
            user_col,
            "_cw",
            F.date_trunc("week", F.col(ts_col)).alias("_aw"),
        )
        .select(
            user_col,
            F.date_format("_cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("_aw"), F.col("_cw")) / 7).cast("long").alias("week_offset"),
        )
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct(user_col).alias("n_users")
    )


def cooccurrence_edges(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Item co-occurrence edges: (item_a < item_b, n_baskets) for items
    sharing a basket at least ``min_count`` times. Distinct-reduce the
    (basket, item) pairs first — multiplicity within a basket must not
    inflate the count."""
    p = baskets.select(basket_col, item_col).distinct()
    a = p.select(F.col(basket_col).alias("_bk"), F.col(item_col).alias("item_a"))
    b = p.select(F.col(basket_col).alias("_bk"), F.col(item_col).alias("item_b"))
    return (
        a.join(b, on="_bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )


def triangle_count(edges: DataFrame, a_col: str = "item_a", b_col: str = "item_b") -> DataFrame:
    """Count triangles in an (a < b)-oriented edge list.

    e1=(x,y), e2=(y,z), e3=(x,z) with the orientation guaranteeing each
    triangle counted once. Two equi-joins; fan-out bounded by max degree."""
    e1 = edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    e2 = edges.select(F.col(a_col).alias("y"), F.col(b_col).alias("z"))
    e3 = edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("z"))
    tri = e1.join(e2, on="y").join(e3, on=["x", "z"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
