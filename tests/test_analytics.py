"""Funnel / cohort / co-occurrence / triangle semantics on golden frames."""

from __future__ import annotations

import datetime as dt

import pytest

from pyrecount_spark.operators.analytics import (
    cohort_retention,
    cooccurrence_edges,
    funnel_stages,
    triangle_count,
)


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


@pytest.fixture(scope="module")
def events(spark):
    # u1 full funnel in order; u2 view BEFORE click (must not count past
    # stage 1); u3 click only
    rows = [
        (1, "click", _ts(1)), (1, "view", _ts(2)), (1, "purchase", _ts(3)),
        (2, "view", _ts(1)), (2, "click", _ts(2)),
        (3, "click", _ts(5)),
    ]
    return spark.createDataFrame(rows, ["user_id", "event_type", "ts"])


def test_funnel_strict_ordering(spark, events):
    out = {r.stage: r.n_users for r in
           funnel_stages(events, ["click", "view", "purchase"]).collect()}
    assert out == {"1_click": 3, "2_view": 1, "3_purchase": 1}


def test_cohort_retention_offsets(spark):
    rows = [
        (1, "click", _ts(1)),   # Mon 2024-01-01 -> cohort week 01-01
        (1, "click", _ts(10)),  # week offset 1
        (2, "click", _ts(9)),   # cohort week 01-08
        (2, "click", _ts(9, 5)),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in cohort_retention(e).collect()}
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_cooccurrence_and_triangles(spark):
    # baskets: {a,b,c} twice -> all three edges at n=2; {a,d} once
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "d"), (3, "d"),  # dup item must not inflate counts
    ]
    b = spark.createDataFrame(rows, ["basket", "item"])
    edges = {(r.item_a, r.item_b): r.n_baskets
             for r in cooccurrence_edges(b, "basket", "item").collect()}
    assert edges[("a", "b")] == 2 and edges[("b", "c")] == 2
    assert edges[("a", "d")] == 1  # deduped within basket 3
    strong = cooccurrence_edges(b, "basket", "item", min_count=2)
    assert triangle_count(strong).collect()[0].n_triangles == 1
    weak = cooccurrence_edges(b, "basket", "item")
    assert triangle_count(weak).collect()[0].n_triangles == 1  # d has no 2nd edge


def test_table_fingerprint_detects_divergence(spark):
    from pyspark.sql import functions as F
    from pyrecount_spark.operators.relational import table_fingerprint

    a = spark.createDataFrame(
        [(1, "x", None), (2, "y", "v"), (3, "y", "w")], ["id", "g", "s"]
    )
    canon = [
        F.col("id").cast("string"),
        F.col("g"),
        F.coalesce(F.col("s"), F.lit("<NULL>")),
    ]
    fp = {r.g: (r.n_rows, r.fingerprint)
          for r in table_fingerprint(a, canon, group_col="g").collect()}
    # identical replica, rows shuffled -> identical fingerprints
    b = a.orderBy(F.desc("id"))
    fp2 = {r.g: (r.n_rows, r.fingerprint)
           for r in table_fingerprint(b, canon, group_col="g").collect()}
    assert fp == fp2
    # one mutated cell -> that group's fingerprint flips, count unchanged
    c = a.withColumn("s", F.when(F.col("id") == 3, "CORRUPT").otherwise(F.col("s")))
    fp3 = {r.g: (r.n_rows, r.fingerprint)
           for r in table_fingerprint(c, canon, group_col="g").collect()}
    assert fp3["x"] == fp["x"]
    assert fp3["y"][0] == fp["y"][0] and fp3["y"][1] != fp["y"][1]
    # NULL vs sentinel-string must not collide
    d = a.withColumn("s", F.when(F.col("id") == 1, "<NULL>").otherwise(F.col("s")))
    fp4 = {r.g: r.fingerprint
           for r in table_fingerprint(d, canon, group_col="g").collect()}
    assert fp4["x"] == fp["x"][1]  # sentinel collision is the caller's contract


def test_label_propagation_two_communities(spark):
    """Two dense triangles joined by one bridge edge: after convergence each
    triangle keeps its own min-id label (the bridge can't outvote two
    in-triangle neighbors)."""
    from pyrecount_spark.operators.graph import label_propagation_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        ["id_a", "id_b"],
    )
    labels = {
        r.node: r.label
        for r in label_propagation_fixed(edges, iterations=4).collect()
    }
    assert len(labels) == 6
    left = {labels[n] for n in (1, 2)}
    right = {labels[n] for n in (11, 12)}
    assert left != right, labels
    assert len(left) == 1 and len(right) == 1


def test_pagerank_empty_edge_frame(spark):
    """No edges means no nodes: an empty (node, rank) frame with the same
    schema as a non-empty result, not a division by zero."""
    from pyrecount_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    ranks = pagerank_fixed(edges.limit(0))
    assert ranks.collect() == []
    assert ranks.schema == pagerank_fixed(edges).schema


def test_pagerank_dup_graph_matches_oracle_without_near_duplicates(spark, tmp_path):
    """A uniform-flavor corpus has no near-duplicate pairs, so the
    verified edge graph is empty: the query returns the oracle's 0 rows."""
    import sys
    from pathlib import Path

    import duckdb
    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from gen_corpus import gen_documents_uniform

    from pyrecount_spark import plans

    plans.load_all()
    pq.write_table(gen_documents_uniform(300, seed=7), tmp_path / "documents.parquet")
    got = plans.QUERIES["pagerank_dup_graph"](spark, str(tmp_path))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = con.sql(plans.ORACLES["pagerank_dup_graph"]).fetchall()
    assert want == []
    assert got.columns == ["doc_id", "rank"]
    assert got.collect() == []


def test_hits_directed_star(spark):
    """Star graph 1->{2,3,4}: node 1 is the pure hub, leaves split the
    authority mass; one round of mutual reinforcement reproduces the
    textbook scores under L1 normalization."""
    from pyrecount_spark.operators.graph import hits_fixed

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {r.node: (r.hub, r.auth) for r in hits_fixed(edges, iterations=2).collect()}
    assert len(out) == 4
    # node 1: all hub, no authority
    assert out[1][0] == 1.0 and out[1][1] == 0.0
    # leaves: no hub, equal authority thirds
    for n in (2, 3, 4):
        assert out[n][0] == 0.0
        assert abs(out[n][1] - 1 / 3) < 1e-6


def test_hits_rejects_zero_iterations(spark):
    """iterations=0 would return unnormalized hubs and unbound auths —
    the contract is explicit instead."""
    import pytest

    from pyrecount_spark.operators.graph import hits_fixed

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="iterations >= 1"):
        hits_fixed(edges, iterations=0)
