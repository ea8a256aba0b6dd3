"""Graph operator tests: known-answer graphs for triangles/degree/
diff, property tests for PageRank (mass conservation, hub dominance),
and the basket-size cap bounding pair volume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from php_etl_spark.llm import dedup as D
from php_etl_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["a", "b"])


def test_triangle_count_known_graph(spark):
    # K4 has exactly 4 triangles; the pendant edge (4,5) adds none.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    out = G.triangle_count(_edges(spark, k4), "a", "b").collect()
    assert out[0]["n_triangles"] == 4


def test_triangle_count_orientation_invariant(spark):
    # duplicate + reversed edges must not change the count
    tri = [(1, 2), (2, 3), (3, 1), (2, 1), (1, 2), (3, 2)]
    out = G.triangle_count(_edges(spark, tri), "a", "b").collect()
    assert out[0]["n_triangles"] == 1


def test_degree_distribution(spark):
    e = _edges(spark, [(1, 10), (1, 11), (1, 10), (2, 10), (3, 10), (3, 11)])
    rows = {
        r["degree"]: r["n_nodes"]
        for r in G.degree_distribution(e, "a", "b").collect()
    }
    # node 1 → {10,11} deg 2; node 2 → deg 1; node 3 → deg 2
    assert rows == {2: 2, 1: 1}


def test_cooccurrence_cap_bounds_pairs(spark):
    # one basket of 50 items is dropped by max_basket=10; the small
    # basket's single pair survives
    big = [(1, i) for i in range(50)]
    small = [(2, 100), (2, 101)]
    df = spark.createDataFrame(big + small, ["basket", "item"])
    pairs = G.cooccurrence_pairs(df, "basket", "item", max_basket=10).collect()
    assert len(pairs) == 1
    assert (pairs[0]["item_a"], pairs[0]["item_b"]) == (100, 101)


def test_cooccurrence_guard_truncates_before_collect(spark):
    """r14 bounded-buffer guard: the pre-collect dense_rank cap must
    reproduce the r13 drop semantics exactly — a mega-basket (the
    degenerate hot bucket) is dropped, a basket at EXACTLY the cap is
    kept in full, duplicate rows never eat the distinct-item budget,
    and null items are ignored (collect_set always excluded them)."""
    mega = [(1, i) for i in range(40)] * 3          # 40 distinct, 120 rows
    exact = [(2, i) for i in range(10)] * 2         # 10 distinct == cap
    nullish = [(3, 100), (3, 101), (3, None)]       # null ignored
    df = spark.createDataFrame(
        mega + exact + nullish, "basket: long, item: long"
    )
    pairs = G.cooccurrence_pairs(df, "basket", "item", max_basket=10)
    got = {(r["item_a"], r["item_b"]): r["n_cooc"] for r in pairs.collect()}
    # basket 1 dropped (40 > 10); basket 2 contributes C(10,2) pairs;
    # basket 3 contributes the single non-null pair
    expect = {(a, b): 1 for a in range(10) for b in range(a + 1, 10)}
    expect[(100, 101)] = 1
    assert got == expect


def test_capped_item_sets_drops_over_cap_groups(spark):
    """The shared group build drops a group with more than ``cap``
    distinct items whole, never keeping its first ``cap``; a group at
    exactly the cap comes back sorted and distinct with nulls ignored;
    ``cap=None`` keeps every group."""
    rows = [(1, i) for i in range(20, 0, -1)] + [(1, 5), (1, 7)]
    rows += [(2, i) for i in (9, 3, 5, 3, 1, 7)] + [(2, None)]
    df = spark.createDataFrame(rows, "basket: long, item: long")
    out = G.capped_item_sets(df, "basket", "item", cap=5)
    assert {r["basket"]: r["ms"] for r in out.collect()} == {2: [1, 3, 5, 7, 9]}
    whole = G.capped_item_sets(df, "basket", "item", cap=None)
    assert {r["basket"]: r["ms"] for r in whole.collect()} == {
        1: list(range(1, 21)),
        2: [1, 3, 5, 7, 9],
    }


def _cooccurrence_gen(spark, hot, cap):
    rows = [(1, i) for i in hot] + [(2, 100), (2, 101)]
    df = spark.createDataFrame(rows, "basket: long, item: long")
    out = G.cooccurrence_pairs(df, "basket", "item", max_basket=cap)
    return {(r["item_a"], r["item_b"]) for r in out.collect()}


def _shingle_index_gen(spark, hot, cap):
    # the hot group is the shingle "alpha beta gamma"; every other
    # shingle of a doc is its own
    rows = [(i, f"alpha beta gamma only{i} x{i}") for i in hot]
    rows += [(i, f"delta epsilon zeta only{i} x{i}") for i in (100, 101)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = D.jaccard_pairs(df, n=3, threshold=0.0, max_doc_freq=cap)
    return {(r["doc_a"], r["doc_b"]) for r in out.collect()}


def _lsh_gen(spark, hot, cap):
    # identical signatures share one bucket in each of the 2 bands
    rows = [(i, *range(8)) for i in hot]
    rows += [(i, *range(100, 108)) for i in (100, 101)]
    schema = "doc: long, " + ", ".join(f"mh_{j}: long" for j in range(8))
    df = spark.createDataFrame(rows, schema)
    out = D.lsh_candidates(df, n_hashes=8, bands=2, max_bucket_size=cap)
    return {(r["doc_a"], r["doc_b"]) for r in out.collect()}


def _hamming_gen(spark, hot, cap):
    # identical fingerprints share one bucket in each of the 4 bands
    rows = [(i, 0) for i in hot] + [(100, -1), (101, -1)]
    df = spark.createDataFrame(rows, "doc: long, simhash: long")
    out = D.hamming_near_pairs(df, max_distance=3, max_bucket_size=cap)
    return {(r["doc_a"], r["doc_b"]) for r in out.collect()}


@pytest.mark.parametrize(
    "gen",
    [_cooccurrence_gen, _shingle_index_gen, _lsh_gen, _hamming_gen],
    ids=["cooccurrence_pairs", "jaccard_pairs", "lsh_candidates",
         "hamming_near_pairs"],
)
def test_pair_generators_drop_over_cap_groups(spark, gen):
    """Every pair generator on ``capped_item_sets`` shares one cap
    contract: a group with exactly ``cap`` distinct items yields all
    C(cap, 2) pairs, one with ``cap + 1`` yields none, duplicate rows
    do not use up the cap and null items are ignored. The control
    group (100, 101) pairs in every case."""
    cap = 4
    full = {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}
    control = {(100, 101)}
    assert gen(spark, [1, 2, 3, 4], cap) == full | control
    assert gen(spark, [1, 2, 3, 4, 5], cap) == control
    assert gen(spark, [4, 3, 2, 1] * 3, cap) == full | control
    assert gen(spark, [1, None, 2, 3, None, 4], cap) == full | control


def test_mst_drops_over_cap_order(spark, tmp_path):
    """graph_mst_boruvka drops an order with more than 1000 distinct
    parts instead of keeping its first 1000: order 1 holds parts
    1..1001, so truncating it would raise (1,2) and (3,4) to three
    co-occurrences and add a (5,6) edge."""
    from php_etl_spark.queries import QUERIES

    rows = [(1, p) for p in range(1, 1002)]
    rows += [(2, 1), (2, 2), (3, 1), (3, 2), (4, 3), (4, 4), (5, 3), (5, 4)]
    rows += [(6, 5), (6, 6)]
    spark.createDataFrame(rows, "l_orderkey: long, l_partkey: long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        (r["u"], r["v"], r["w"])
        for r in QUERIES["graph_mst_boruvka"](spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2, 500000), (3, 4, 500000)}


def test_table_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["k", "v"]
    )
    rows = {
        r["k"]: r["diff_status"]
        for r in G.table_diff(old, new, ["k"]).collect()
    }
    assert rows == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_table_diff_null_safe(spark):
    old = spark.createDataFrame([(1, None), (2, None)], "k int, v string")
    new = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    rows = {
        r["k"]: r["diff_status"]
        for r in G.table_diff(old, new, ["k"]).collect()
    }
    assert rows == {1: "unchanged", 2: "changed"}


@pytest.fixture(scope="module")
def pagerank_ranks(spark):
    # star: everyone links to node 1, plus a 2↔3 cycle edge back
    e = _edges(spark, [(2, 1), (3, 1), (4, 1), (5, 1), (2, 3), (1, 2)])
    return G.pagerank(e, "a", "b", iterations=12).collect()


def test_pagerank_mass_conserved(pagerank_ranks):
    total = sum(r["rank"] for r in pagerank_ranks)
    assert total == pytest.approx(len(pagerank_ranks), rel=1e-6)


def test_pagerank_positive_and_hub_wins(pagerank_ranks):
    ranks = {r["node"]: r["rank"] for r in pagerank_ranks}
    assert all(v > 0 for v in ranks.values())
    # the hub everyone points at must outrank every leaf
    assert ranks[1] == max(ranks.values())
    assert ranks[1] > ranks[4]


def test_pagerank_exact_matches_reference_fixpoint(spark):
    """Fixed-point integer PageRank must equal a driver-side replay of
    the same integer recurrence exactly (no tolerance), and agree with
    float PageRank on ordering."""
    edge_list = [(2, 1), (3, 1), (4, 1), (5, 1), (2, 3), (1, 2)]
    e = _edges(spark, edge_list)
    scale = 10**9
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank_exact(e, "a", "b", iterations=12).collect()
    }

    nodes = sorted({n for ed in edge_list for n in ed})
    out = {}
    for s, _ in edge_list:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    rank = {v: scale for v in nodes}
    for _ in range(12):
        dang = sum(rank[v] for v in nodes if v not in out)
        mass = {v: 0 for v in nodes}
        for s, d in edge_list:
            mass[d] += rank[s] // out[s]
        rank = {
            v: 15 * scale // 100 + (85 * (mass[v] + dang // n)) // 100
            for v in nodes
        }
    assert got == rank

    float_order = sorted(
        G.pagerank(e, "a", "b", iterations=12).collect(),
        key=lambda r: -r["rank"],
    )
    exact_order = sorted(got, key=lambda v: -got[v])
    assert [r["node"] for r in float_order] == exact_order


def test_tree_closure_forest_with_parent_only_roots(spark):
    """Pointer doubling must handle a forest whose roots appear only
    on the parent side (no self-edge row), resolve depth up to
    2^rounds, and stay functional (one row per node)."""
    from php_etl_spark.operators.graph import tree_closure

    #   100 -> 10 -> 1      (root 1 has no child row)
    #   200 -> 20 -> 2 -> 2 (root 2 is a self-edge)
    #   300 -> 30 -> 10 -> 1 (shares the chain into root 1)
    edges = spark.createDataFrame(
        [
            (100, 10), (10, 1),
            (200, 20), (20, 2), (2, 2),
            (300, 30), (30, 10),
        ],
        ["child", "parent"],
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in tree_closure(edges, rounds=3).collect()
    }
    assert got == {
        100: (1, 2), 10: (1, 1), 1: (1, 0),
        200: (2, 2), 20: (2, 1), 2: (2, 0),
        300: (1, 3), 30: (1, 2),
    }


def test_bfs_hops_exact_on_path_graph(spark):
    # path 1-2-3-4-5 plus isolated pair 8-9; seed {1}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], ["u", "v"]
    )
    und = edges.union(edges.select("v", "u"))
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.hops for r in G.bfs_hops(und, "u", "v", seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond max_hops; 8,9 unreachable


def test_bfs_hops_early_exit_on_empty_frontier(spark):
    edges = spark.createDataFrame([(1, 2)], ["u", "v"])
    und = edges.union(edges.select("v", "u"))
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.hops for r in G.bfs_hops(und, "u", "v", seeds, max_hops=10).collect()}
    assert got == {1: 0, 2: 1}


def test_label_propagation_two_cliques(spark):
    # two triangles joined by nothing: each converges to its min id
    tri = [(1, 2), (2, 3), (1, 3), (10, 20), (20, 30), (10, 30)]
    edges = spark.createDataFrame(tri, ["a", "b"])
    got = {r.node: r.label for r in G.label_propagation(edges, "a", "b", iterations=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10, 30: 10}


def test_k_core_matches_reference_peel(spark):
    # barbell-ish: a 4-clique (core-3), a triangle (core-2), a tail
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # 4-clique
        (4, 5), (5, 6), (6, 7),                           # tail
        (10, 11), (11, 12), (10, 12),                     # triangle
    ]
    df = spark.createDataFrame(edges, ["a", "b"])

    def ref_k_core(pairs, k):
        from collections import defaultdict
        adj = defaultdict(set)
        for u, v in pairs:
            adj[u].add(v)
            adj[v].add(u)
        alive = set(adj)
        changed = True
        while changed:
            changed = False
            for n in list(alive):
                if len(adj[n] & alive) < k:
                    alive.discard(n)
                    changed = True
        return alive

    for k in (2, 3):
        got = {r.node: r.degree for r in G.k_core(df, "a", "b", k).collect()}
        want = ref_k_core(edges, k)
        assert set(got) == want, (k, got, want)
        # in-core degree invariant: every survivor has >= k core peers
        assert all(d >= k for d in got.values()), (k, got)


def test_k_core_empty_when_graph_too_sparse(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    assert G.k_core(df, "a", "b", k=3).count() == 0


def test_clustering_coefficient_triangle_and_star(spark):
    # triangle {1,2,3} fused with star center 3 -> leaves 4,5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (3, 5)], ["a", "b"]
    )
    got = {
        r.node: (r.degree, r.triangles, r.cc_milli)
        for r in G.clustering_coefficient(edges, "a", "b").collect()
    }
    # nodes 1,2: degree 2, one closed pair -> cc = 1
    assert got[1] == (2, 1, 1000)
    assert got[2] == (2, 1, 1000)
    # center 3: degree 4, only (1,2) closed of 6 pairs -> 2*1/(4*3)=1/6
    assert got[3] == (4, 1, 167)
    # leaves 4,5 have degree 1 -> excluded
    assert 4 not in got and 5 not in got
