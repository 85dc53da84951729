"""Operator-level checks for graph analytics (projection, triangles,
clustering coefficients)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from es_ch_sync_spark.operators.graph import (
    clustering_coefficients,
    degrees,
    project_bipartite,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame([(a, b) for a, b in pairs], "src long, dst long")


def test_triangles_known_graph(spark):
    """K4 plus a pendant: K4 has 4 triangles, each K4-node is in 3, the
    pendant in 0 (absent from output)."""
    k4 = list(combinations(range(4), 2)) + [(3, 9)]
    got = {r["node"]: r["tri_cnt"] for r in triangle_counts(_edges(spark, k4)).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_match_bruteforce(spark, sf_dir):
    """Degree-ordered orientation equals brute-force triple enumeration on
    the co-activity graph."""
    from es_ch_sync_spark.io.sources import read_parquet_table

    ev = read_parquet_table(spark, sf_dir, "events")
    inc = ev.select("user_id", F.date_trunc("hour", F.col("ts")).alias("hb"))
    edges = project_bipartite(inc, "user_id", "hb", min_shared=2)
    e = {(r["src"], r["dst"]) for r in edges.collect()}
    adj: dict[int, set[int]] = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # Count triangles exactly: for each edge (a,b) with a<b, common
    # neighbors c with b<c — each triangle counted once at its smallest edge.
    tri_nodes: dict[int, int] = {}
    for a, b in e:
        for c in adj[a] & adj[b]:
            if c > b:
                for n in (a, b, c):
                    tri_nodes[n] = tri_nodes.get(n, 0) + 1
    got = {r["node"]: r["tri_cnt"] for r in triangle_counts(edges).collect()}
    assert got == tri_nodes


def test_clustering_coefficient_bounds(spark):
    """Coefficient is 1.0 inside a clique, 0 for a star center."""
    k3 = [(0, 1), (0, 2), (1, 2)]
    star = [(10, 11), (10, 12), (10, 13)]
    rows = clustering_coefficients(_edges(spark, k3 + star)).collect()
    got = {r["node"]: r for r in rows}
    assert got[0]["clustering"] == 1.0
    assert got[10]["clustering"] == 0.0
    assert got[10]["deg"] == 3


def test_bucket_cap_excludes_hot_buckets(spark):
    """A bucket above the cap contributes no edges."""
    rows = [(i, "hot") for i in range(10)] + [(0, "a"), (1, "a"), (0, "b"), (1, "b")]
    inc = spark.createDataFrame(rows, "e long, b string")
    capped = project_bipartite(inc, "e", "b", min_shared=1, bucket_cap=5)
    assert [(r["src"], r["dst"]) for r in capped.collect()] == [(0, 1)]
    # Without the cap the hot bucket alone contributes all 45 pairs ((0,1)
    # is one of them, with shared=3).
    assert project_bipartite(inc, "e", "b", min_shared=1).count() == 45


def test_degrees(spark):
    got = {r["node"]: r["deg"] for r in degrees(_edges(spark, [(0, 1), (1, 2)])).collect()}
    assert got == {0: 1, 1: 2, 2: 1}


def test_bfs_depths_chain_and_min_depth(spark):
    """A path graph 0-1-2-...-8 from seed 0: depth = node index, capped
    at max_depth; a shortcut edge (0,5) must pull node 5 (and its tail)
    to the SHORTER depth — min-depth semantics, not last-write."""
    from es_ch_sync_spark.operators.graph import bfs_depths

    chain = [(i, i + 1) for i in range(8)]
    edges = spark.createDataFrame(chain + [(0, 5)], "id_a long, id_b long")
    got = {r["id"]: r["depth"] for r in bfs_depths(edges, max_depth=3).collect()}
    assert got[0] == 0 and got[1] == 1 and got[2] == 2 and got[3] == 3
    assert got[5] == 1 and got[6] == 2 and got[7] == 3  # via the shortcut
    assert 8 not in got  # beyond max_depth
    # early termination: a 2-node graph stops after one round
    tiny = spark.createDataFrame([(10, 11)], "id_a long, id_b long")
    assert {r["id"]: r["depth"] for r in bfs_depths(tiny).collect()} == {10: 0, 11: 1}


def test_pagerank_fixed_integer_exact(spark):
    """Hand-computed one-iteration check on the path graph 1—2—3
    (symmetric edges), unit=1000: r0 = 333 each, base = 50;
    r1(2) = 50 + 85·(333+333)//100 = 616, r1(1) = r1(3) =
    50 + 85·(333//2)//100 = 191.  Pure integer ops — the exact values
    the oracle's unrolled CTE must reproduce."""
    from es_ch_sync_spark.operators.graph import pagerank_fixed

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["rank_m"]
        for r in pagerank_fixed(
            edges, iterations=1, unit=1000, damping_num=85, damping_den=100
        ).collect()
    }
    assert got == {1: 191, 2: 616, 3: 191}

    # empty graph: empty result, right schema
    none = spark.createDataFrame([], "src long, dst long")
    out = pagerank_fixed(none, iterations=2)
    assert out.count() == 0 and set(out.columns) == {"id", "rank_m"}


def test_hits_fixed_matches_integer_reference(spark):
    """hits_fixed equals a straightforward Python reference running the
    SAME quantized-integer half-steps (h0 = unit div N, L1-normalize to
    unit via (x*unit)//total) on a hand graph; sink/source nodes score
    0 on the side they lack."""
    from es_ch_sync_spark.operators.graph import hits_fixed

    E = [("a", "c"), ("b", "c"), ("c", "d")]
    unit, iters = 1_000_000_000, 2
    nodes = sorted({x for e in E for x in e})
    h = {v: unit // len(nodes) for v in nodes}
    a = {}
    for _ in range(iters):
        raw_a = {v: 0 for v in nodes}
        for s, d in E:
            raw_a[d] += h[s]
        ta = sum(raw_a.values())
        a = {v: (raw_a[v] * unit) // ta if ta else 0 for v in nodes}
        raw_h = {v: 0 for v in nodes}
        for s, d in E:
            raw_h[s] += a[d]
        th = sum(raw_h.values())
        h = {v: (raw_h[v] * unit) // th if th else 0 for v in nodes}

    edges = spark.createDataFrame(E, "src string, dst string")
    got = {r["id"]: r for r in hits_fixed(edges, iterations=iters).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v]["auth_m"] == a[v], (v, got[v]["auth_m"], a[v])
        assert got[v]["hub_m"] == h[v], (v, got[v]["hub_m"], h[v])
    # structural zeros: a/b have no in-edges, d has no out-edges
    assert got["a"]["auth_m"] == 0 and got["b"]["auth_m"] == 0
    assert got["d"]["hub_m"] == 0
    # c is the sole authority-heavy node
    assert got["c"]["auth_m"] > got["d"]["auth_m"] > 0


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: after 2 synchronous
    min-label rounds each triangle converges to its own minimum label —
    LPA splits what connected components would merge; determinism is a
    re-run equality check."""
    from es_ch_sync_spark.operators.graph import label_propagation_fixed

    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    und = tri1 + tri2 + bridge
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    got = {r["id"]: r["label"] for r in label_propagation_fixed(edges, 2).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"]
    assert got["x"] != got["a"]  # the bridge did not merge the cliques
    again = {r["id"]: r["label"] for r in label_propagation_fixed(edges, 2).collect()}
    assert again == got


def test_hits_fixed_guards_iterations_and_unit(spark):
    """r10 advice #1/#5: iterations=0 has no authority frame to return
    and an over-large unit would overflow DECIMAL(38,0) into silent
    NULL→0 scores — both fail loudly instead."""
    import pytest

    from es_ch_sync_spark.operators.graph import hits_fixed

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iterations"):
        hits_fixed(edges, iterations=0)
    with pytest.raises(ValueError, match="unit"):
        hits_fixed(edges, iterations=1, unit=10**15)


def test_k_core_fixed_peels_pendants_keeps_clique(spark):
    """Triangle + pendant path: the 2-core is exactly the triangle (all
    core degrees 2); pendant chain peels over successive rounds.  k=3 on
    the same graph is empty; a 4-clique survives k=3 with degree 3."""
    from es_ch_sync_spark.operators.graph import k_core_fixed

    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    path = [("c", "d"), ("d", "e"), ("e", "f")]
    edges = spark.createDataFrame(tri + path, "src string, dst string")
    core = {r["id"]: r["core_degree"]
            for r in k_core_fixed(edges, k=2, rounds=8).collect()}
    assert core == {"a": 2, "b": 2, "c": 2}
    assert k_core_fixed(edges, k=3, rounds=8).count() == 0
    k4 = [(x, y) for x in "pqrs" for y in "pqrs" if x < y]
    e4 = spark.createDataFrame(k4, "src string, dst string")
    core4 = {r["id"]: r["core_degree"]
             for r in k_core_fixed(e4, k=3, rounds=4).collect()}
    assert core4 == {c: 3 for c in "pqrs"}


def test_graph_small_fast_paths_match_distributed(spark):
    """r16 optimization pin: the bounded driver fast paths in hits_fixed
    and pagerank_fixed return exactly the distributed loops' rows —
    forced both ways via the small_graph_edges cap (0 = always
    distributed)."""
    from es_ch_sync_spark.operators.graph import hits_fixed, pagerank_fixed

    E = [("a", "c"), ("b", "c"), ("c", "d"), ("d", "a"), ("c", "a"),
         ("e", "e"), ("b", "d")]
    edges = spark.createDataFrame(E, "src string, dst string")
    fast_h = sorted(map(tuple, hits_fixed(edges, iterations=2).collect()))
    slow_h = sorted(
        map(tuple, hits_fixed(edges, iterations=2, small_graph_edges=0).collect())
    )
    assert fast_h == slow_h
    fast_p = sorted(map(tuple, pagerank_fixed(edges, iterations=3).collect()))
    slow_p = sorted(
        map(
            tuple,
            pagerank_fixed(edges, iterations=3, small_graph_edges=0).collect(),
        )
    )
    assert fast_p == slow_p
    # long node ids keep their type through the fast path
    el = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert sorted(map(tuple, pagerank_fixed(el, iterations=1).collect())) == sorted(
        map(tuple, pagerank_fixed(el, iterations=1, small_graph_edges=0).collect())
    )


def test_graph_over_cap_paths_release_their_caches(spark):
    """With small_graph_edges below the edge count, pagerank_fixed,
    hits_fixed and connected_components take their distributed paths over
    the persisted probe frame: rows equal the small paths', and nothing
    is left in the CacheManager once they return."""
    from es_ch_sync_spark.operators.dedup import connected_components
    from es_ch_sync_spark.operators.graph import hits_fixed, pagerank_fixed

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    E = [("a", "c"), ("b", "c"), ("c", "d"), ("d", "a"), ("c", "a"),
         ("e", "e"), ("b", "d"), ("f", "g")]
    edges = spark.createDataFrame(E, "src string, dst string")
    pairs = spark.createDataFrame(
        [(3, 9), (9, 5), (5, 7), (10, 12), (12, 11), (20, 21)],
        "id_a long, id_b long",
    )
    runs = [
        (lambda cap: pagerank_fixed(edges, iterations=3, small_graph_edges=cap)),
        (lambda cap: hits_fixed(edges, iterations=2, small_graph_edges=cap)),
        (lambda cap: connected_components(pairs, small_graph_edges=cap)),
    ]
    for run in runs:
        small = sorted(map(tuple, run(1000).collect()))
        assert cache.isEmpty()
        over = run(3)  # 3 < edge count: the distributed path
        assert cache.isEmpty()
        assert sorted(map(tuple, over.collect())) == small
