"""Graph analytics unit tests on small explicit graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.iterate import ROUND, expand
from graphdb_wikidata_spark.operators.graph import (
    bfs_distances,
    connected_components,
    pagerank,
)


@pytest.fixture(scope="module")
def tri_plus_pair(spark):
    # triangle 1-2-3 (directed cycle) + disjoint edge 10->11
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], "src long, dst long"
    )


def test_pagerank_redistribute_sums_to_one(tri_plus_pair):
    r = pagerank(tri_plus_pair, iterations=15)
    total = r.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-6
    ranks = {row["node"]: row["rank"] for row in r.collect()}
    # cycle nodes are symmetric
    assert abs(ranks[1] - ranks[2]) < 1e-6 and abs(ranks[2] - ranks[3]) < 1e-6
    # 11 receives from 10, so it outranks 10
    assert ranks[11] > ranks[10]


def test_connected_components_two_islands(tri_plus_pair):
    comp = {r["node"]: r["comp"] for r in connected_components(tri_plus_pair).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_bfs_distances_cycle(tri_plus_pair):
    d = {r["node"]: r["dist"] for r in bfs_distances(tri_plus_pair, source=1).collect()}
    assert d == {1: 0, 2: 1, 3: 2}


def test_bfs_distances_deep_chain(spark):
    # 60 hops: no depth cap may cut the answer short
    edges = spark.range(60).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    d = {r["node"]: r["dist"] for r in bfs_distances(edges, source=0).collect()}
    assert d == {i: i for i in range(61)}


@pytest.fixture(scope="module")
def chain10(spark):
    # 0 -> 1 -> ... -> 10
    return spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")


def _seed(spark, *nodes):
    return spark.createDataFrame([(n,) for n in nodes], "dst long")


def test_expand_depth_bounded_keeps_rows_within_bound(spark, chain10):
    out = expand(_seed(spark, 0), chain10, "src", "dst", max_rounds=3, bounded=True)
    assert {(r["dst"], r[ROUND]) for r in out.collect()} == {(i, i) for i in range(4)}


def test_expand_to_fixpoint_raises_at_bound(spark, chain10):
    with pytest.raises(RuntimeError, match="did not converge within 3 rounds"):
        expand(_seed(spark, 0), chain10, "src", "dst", max_rounds=3)


def test_expand_seed_outside_graph(spark, chain10):
    out = expand(_seed(spark, 99), chain10, "src", "dst")
    assert [(r["dst"], r[ROUND]) for r in out.collect()] == [(99, 0)]


def test_expand_grouped_keys(spark):
    # graph key g must match on every hop (GRAPH ?g); source key s
    # rides along on the frontier only (multi-source BFS)
    edges = spark.createDataFrame(
        [(1, 2, "a"), (2, 3, "a"), (2, 3, "b"), (3, 4, "b")],
        "src long, dst long, g string",
    )
    seed = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (1, 1, "b")], "dst long, s long, g string"
    )
    out = expand(seed, edges, "src", "dst", keys=("s", "g"))
    got = {(r["g"], r["s"], r["dst"], r[ROUND]) for r in out.collect()}
    assert got == {
        ("a", 1, 1, 0), ("a", 1, 2, 1), ("a", 1, 3, 2),
        ("b", 2, 2, 0), ("b", 2, 3, 1), ("b", 2, 4, 2),
        ("b", 1, 1, 0),
    }


def test_path_loops_take_one_action_per_round(spark, chain10, monkeypatch):
    """The round's checkpoint is its only Spark action: convergence is
    observed inside it, never asked for with count() or collect()."""
    from graphdb_wikidata_spark.engine.paths import _reachable_from, _transitive_closure

    calls = {"count": 0, "collect": 0, "localCheckpoint": 0}
    cls = type(chain10)
    for name in calls:
        def counted(self, *a, _name=name, _orig=getattr(cls, name), **k):
            calls[_name] += 1
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, counted)

    reached = _reachable_from(chain10, "src", "dst", F.lit(0))
    # seed {1}, then 10 rounds: nine reach nodes 2..10, the tenth nothing
    assert calls == {"count": 0, "collect": 0, "localCheckpoint": 11}
    calls.update(localCheckpoint=0)
    closure = _transitive_closure(chain10, "src", "dst", mode="doubling")
    # deduped step, seed, then paths of <= 2, 4, 8, 16 hops and a round
    # that adds nothing
    assert calls == {"count": 0, "collect": 0, "localCheckpoint": 7}
    monkeypatch.undo()
    assert sorted(r["dst"] for r in reached.collect()) == list(range(1, 11))
    assert closure.count() == 55


def test_connected_components_deep_chain_log_rounds(spark):
    """Diameter independence: a 301-node path graph must converge
    within max_iters=12 — O(log n) hooking rounds. Label propagation
    (O(diameter)) would need ~100+ rounds and now RAISES instead of
    silently returning partial labels, so this pins both the round
    complexity and the loud-failure contract."""
    from graphdb_wikidata_spark.operators.graph import connected_components

    edges = spark.range(300).select(
        (F.col("id") + 1000).alias("src"), (F.col("id") + 1001).alias("dst")
    )
    comp = connected_components(edges, max_iters=12)
    rows = comp.collect()
    assert len(rows) == 301
    assert {r["comp"] for r in rows} == {1000}


def test_connected_components_nonconvergence_raises(spark):
    from graphdb_wikidata_spark.operators.graph import connected_components

    edges = spark.range(60).select(
        (F.col("id") + 1).alias("src"), (F.col("id") + 2).alias("dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=1)


def test_triangle_count_invariants(spark):
    from graphdb_wikidata_spark.operators.dedup import _shingled, minhash_candidates
    from graphdb_wikidata_spark.operators.graph import QUERIES as GQ

    sf = "/root/testdata/sf0.001"
    rows = GQ["graph_triangle_count"](spark, sf).collect()
    assert rows
    total = sum(r.n_triangles for r in rows)
    # every triangle contributes exactly 3 node participations
    assert total % 3 == 0 and total > 0
    # triangle members are candidate-graph nodes
    cand = minhash_candidates(_shingled(spark, sf)).collect()
    nodes = {r.doc_a for r in cand} | {r.doc_b for r in cand}
    assert {r.doc_id for r in rows} <= nodes
