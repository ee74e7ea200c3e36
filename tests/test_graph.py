"""ops/graph.pagerank: fixed-iteration power-method PageRank."""

from __future__ import annotations

import pytest

from structured_data_entity_extraction_spark.ops import graph


def _pr_ref(edges, iters=5, d=0.85):
    """Pure-Python reference power iteration (independent mechanism:
    dict fan-out, not join+agg)."""
    eset = sorted(set(edges))
    nodes = sorted({x for e in eset for x in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    for s, t in eset:
        out.setdefault(s, []).append(t)
    r = {v: 1.0 / n for v in nodes}
    base = (1.0 - d) / n
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if v not in out)
        new = {v: base + d * dm / n for v in nodes}
        for s, ts in out.items():
            for t in ts:
                new[t] += d * r[s] / len(ts)
        r = new
    return r


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {row["node"]: row["rank"] for row in graph.pagerank(df, **kw).collect()}


def test_cycle_graph_stays_uniform(spark):
    got = _run(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert set(got) == {"a", "b", "c"}
    for v in got.values():
        assert v == pytest.approx(1.0 / 3, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_matches_reference_with_dangling_node(spark):
    # d is dangling (no out-edges); duplicate edge must collapse
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("c", "d")]
    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    got = _run(spark, edges)
    # the per-iteration checkpoints are released: at most the result's
    # own stays persisted
    assert spark.sparkContext._jsc.getPersistentRDDs().size() - n0 <= 1
    want = _pr_ref(edges)
    assert set(got) == set(want)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_star_hub_ranks_highest(spark):
    leaves = [f"l{i}" for i in range(6)]
    edges = [(leaf, "hub") for leaf in leaves] + [("hub", leaf) for leaf in leaves]
    got = _run(spark, edges)
    assert max(got, key=got.get) == "hub"
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string")
    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert graph.pagerank(df).count() == 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= n0


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["node"]: r["n_triangles"] for r in graph.triangle_count(df).collect()
    }


def test_triangle_count_k4_star_pendant(spark):
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    got = _tri(spark, k4)
    assert got == {v: 3 for v in "abcd"}  # each K4 node is in 3 triangles
    star = [("hub", f"l{i}") for i in range(5)]
    assert _tri(spark, star) == {**{"hub": 0}, **{f"l{i}": 0 for i in range(5)}}
    pendant = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    assert _tri(spark, pendant) == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_triangle_count_canonicalizes_input(spark):
    # reversed duplicates + self-loop must collapse to the clean graph
    messy = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a")]
    assert _tri(spark, messy) == {"a": 1, "b": 1, "c": 1}


def test_triangle_count_plan_has_no_nested_loop(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    p = graph.triangle_count(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "NestedLoopJoin" not in p, p
