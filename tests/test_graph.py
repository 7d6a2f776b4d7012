"""Connected components (operators/graph.py): correctness on known graphs,
chain-diameter robustness, id-type genericity, and the transitive keep
policy vs the pairwise one."""

import pytest
from pyspark.sql import functions as F

from pandas_db_spark.operators import graph as G
from pandas_db_spark.operators import dedup as D


def _both_paths(monkeypatch, fn):
    """``[fn() on the driver path, fn() on the distributed path]`` for
    the operators that switch at ``graph._DRIVER_EDGES``."""
    out = [fn()]
    with monkeypatch.context() as m:
        m.setattr(G, "_DRIVER_EDGES", 0)
        out.append(fn())
    return out


def _error(fn) -> str:
    """The message of the ValueError ``fn()`` raises."""
    with pytest.raises(ValueError) as err:
        fn()
    return str(err.value)


def _cc(spark, edges, **kw):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = G.connected_components(pairs, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def test_two_components_and_transitivity(spark):
    # {1,2,3,9} chained + {5,7}; (1,9) never emitted as a pair.
    got = _cc(spark, [(1, 2), (2, 3), (3, 9), (5, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_long_chain_converges_logarithmically(spark):
    # Diameter-200 path: naive min-label propagation needs ~200 rounds;
    # large/small-star must finish well inside the max_iter=25 valve.
    got = _cc(spark, [(i, i + 1) for i in range(200)], driver_threshold=0)
    assert set(got.values()) == {0} and len(got) == 201


def test_duplicate_reversed_and_self_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (3, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = G.connected_components(pairs)
    assert out.columns == ["id", "component"] and out.count() == 0


def test_string_ids(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string")
    rows = {r["id"]: r["component"]
            for r in G.connected_components(pairs).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_star_graph_hub(spark):
    # High-degree hub (the skew case): one component labeled by the min.
    got = _cc(spark, [(100, i) for i in range(50)], driver_threshold=0)
    assert set(got.values()) == {0} and len(got) == 51


def test_keep_components_transitive_vs_pairwise(spark):
    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    # Chain 0~1~2 plus pair 4~5: transitive keep = {0, 3, 4}.
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"]
                  for r in G.keep_components(df, pairs, "doc_id").collect())
    assert kept == [0, 3, 4]
    # Pairwise keep_first drops only ids seen as id_b — same here, but if
    # the generator emits the chain as (1,0),(1,2) the pairwise kept set
    # would differ; keep_components is invariant to pair orientation.
    flipped = spark.createDataFrame(
        [(1, 0), (1, 2), (4, 5)], "id_a long, id_b long")
    kept_flipped = sorted(
        r["doc_id"] for r in G.keep_components(df, flipped, "doc_id").collect())
    assert kept_flipped == kept
    pairwise_flipped = sorted(
        r["doc_id"] for r in D.keep_first(df, flipped, "doc_id").collect())
    assert pairwise_flipped != kept  # documents why the closure exists


def test_unconverged_raises(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(pairs, max_iter=1, driver_threshold=0)


def test_matches_recursive_closure_on_real_pairs(spark, db, duck):
    """End-to-end on sf0.001 documents: CC over MinHash pairs equals the
    DuckDB recursive transitive closure over exact all-pairs Jaccard."""
    pairs = D.minhash_pairs(db.documents.df, "text", "doc_id", threshold=0.8)
    got = {(r["id"], r["component"])
           for r in G.connected_components(pairs, "id_a", "id_b").collect()}
    want = {tuple(r) for r in duck.execute(
        """
        WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws
                   FROM documents),
        s AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN
              [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, len(ws)-1)]
              ELSE [array_to_string(ws, ' ')] END) AS sh FROM w),
        p AS (SELECT a.doc_id AS u, b.doc_id AS v FROM s a JOIN s b
              ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        sym AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        reach(u, v) AS (SELECT u, v FROM sym UNION
                        SELECT r.u, s2.v FROM reach r JOIN sym s2
                        ON r.v = s2.u)
        SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u
        """).fetchall()}
    assert got == want


def test_driver_and_distributed_paths_agree(spark):
    edges = [(i, i + 1) for i in range(0, 60, 2)] + [(5, 90), (91, 3)]
    assert _cc(spark, edges) == _cc(spark, edges, driver_threshold=0)


def test_keep_components_by_quality_rule(spark):
    """r7: keep the best-scoring member per component (tie: min id);
    singletons always survive; ascending flips the rule."""
    from pyspark.sql import functions as F
    from pandas_db_spark.operators.graph import keep_components_by

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "aaa"),     # cluster {1,2,3}
         (4, "bb"), (5, "bb"),                   # cluster {4,5} tie
         (9, "zzzzz")],                          # singleton
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")

    kept = {r["doc_id"] for r in
            keep_components_by(docs, pairs, "doc_id",
                               F.length("text")).collect()}
    assert kept == {2, 4, 9}   # longest of {1,2,3}; tie {4,5} -> min id

    kept_asc = {r["doc_id"] for r in
                keep_components_by(docs, pairs, "doc_id",
                                   F.length("text"),
                                   ascending=True).collect()}
    assert kept_asc == {1, 4, 9}  # shortest of {1,2,3} is id 1

    # string column name works too
    kept_s = {r["doc_id"] for r in
              keep_components_by(docs, pairs, "doc_id",
                                 "doc_id").collect()}
    assert kept_s == {3, 5, 9}   # max doc_id per cluster


def test_keep_components_by_string_ids(spark):
    """r8 (ADVICE): string ids must survive the tie-break — the old
    max(struct(score, -id)) negated the id, which NULLs strings under
    non-ANSI coercion and silently deleted whole clusters."""
    from pandas_db_spark.operators.graph import keep_components_by

    docs = spark.createDataFrame(
        [("a", "xx"), ("b", "xxxx"), ("c", "xxx"),   # cluster {a,b,c}
         ("d", "yy"), ("e", "yy"),                   # cluster {d,e} tie
         ("z", "zzzzz")],                            # singleton
        "doc_id string, text string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string")

    kept = {r["doc_id"] for r in
            keep_components_by(docs, pairs, "doc_id",
                               F.length("text")).collect()}
    assert kept == {"b", "d", "z"}  # longest of {a,b,c}; tie -> min id

    kept_asc = {r["doc_id"] for r in
                keep_components_by(docs, pairs, "doc_id",
                                   F.length("text"),
                                   ascending=True).collect()}
    assert kept_asc == {"a", "d", "z"}


def test_keep_components_by_id_col_named_id(spark):
    """r8 (ADVICE): id_col == "id" must not collide with cc's own "id"
    column (AMBIGUOUS_REFERENCE in the pre-fix join)."""
    from pandas_db_spark.operators.graph import keep_components_by

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (7, 5)], "id long, score long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = {r["id"] for r in
            keep_components_by(docs, pairs, "id", "score").collect()}
    assert kept == {2, 7}


def test_keep_components_by_null_scores(spark):
    """NULL scores lose to any non-NULL; an all-NULL component keeps its
    min id (eqNullSafe join-back) instead of being deleted wholesale."""
    from pandas_db_spark.operators.graph import keep_components_by

    docs = spark.createDataFrame(
        [(1, None), (2, 5), (3, 1),      # mixed: best non-NULL is id 2
         (4, None), (5, None),           # all-NULL cluster -> min id 4
         (9, None)],                     # NULL-scored singleton survives
        "doc_id long, score int")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in
            keep_components_by(docs, pairs, "doc_id", "score").collect()}
    assert kept == {2, 4, 9}


# ---------------------------------------------------------------------
# pagerank — fixed-point power iteration
# ---------------------------------------------------------------------

def _pagerank_py(edges, iterations, damping_pm=850, unit=10 ** 9):
    """Pure-Python replay of the documented integer recurrence — the
    arbiter for the Spark implementation on hand-sized graphs."""
    from collections import defaultdict
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = defaultdict(set)
    for u, v in edges:
        if u != v:
            out[u].add(v)
    n = len(nodes)
    tele = ((1000 - damping_pm) * unit) // 1000
    r = {x: unit for x in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for u in nodes:
            if out[u]:
                c = ((r[u] // len(out[u])) * damping_pm) // 1000
                for v in out[u]:
                    inflow[v] += c
        dang = sum(r[u] for u in nodes if not out[u])
        share = ((dang // n) * damping_pm) // 1000
        r = {x: tele + inflow[x] + share for x in nodes}
    return r


def test_pagerank_matches_python_replay_with_dangling(spark):
    """Directed graph WITH a dangling sink: 1->2, 1->3, 2->3, 3 emits
    nothing — the dangling-mass redistribution path is exercised
    numerically, not just structurally (the registry query's symmetric
    graph has no dangling nodes)."""
    from pandas_db_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=5).collect()}
    assert got == _pagerank_py(edges, 5)
    # sink 3 receives from both and must outrank everything
    assert got[3] > got[2] > 0


def test_pagerank_hub_dominates_and_mass_conserved(spark):
    """Star graph (all spokes -> hub, hub -> all spokes): the hub's rank
    dominates; total mass stays within floor leakage of n*unit."""
    from pandas_db_spark.operators.graph import pagerank

    spokes = list(range(1, 9))
    edges = [(s, 0) for s in spokes] + [(0, s) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=8).collect()}
    assert got == _pagerank_py(edges, 8)
    assert got[0] > max(got[s] for s in spokes) * 3
    n, unit = 9, 10 ** 9
    leak_bound = 8 * n * (max(len(spokes), 1) + 1000)  # iters*n*(deg+dpm)
    assert n * unit >= sum(got.values()) > n * unit - leak_bound


def test_pagerank_self_loops_dropped_duplicates_collapse(spark):
    from pandas_db_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2), (2, 1)], "src long, dst long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=3).collect()}
    assert got == _pagerank_py([(1, 2), (2, 1)], 3)
    # symmetric 2-cycle: ranks identical by symmetry
    assert got[1] == got[2]


def test_pagerank_empty_and_validation(spark):
    import pytest as _pt
    from pandas_db_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty, iterations=2).count() == 0
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pt.raises(ValueError, match="damping_pm"):
        pagerank(df, damping_pm=0)
    with _pt.raises(ValueError, match="iterations"):
        pagerank(df, iterations=-1)
    with _pt.raises(ValueError, match="unit"):
        pagerank(df, unit=10)
    with _pt.raises(ValueError, match="overflow"):
        pagerank(df, unit=2 ** 61)


def test_pagerank_iterations_zero_is_uniform(spark):
    from pandas_db_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=0).collect()}
    assert got == {1: 10 ** 9, 2: 10 ** 9, 3: 10 ** 9}


# ---------------------------------------------------------------------
# append_components — incremental label-store maintenance
# ---------------------------------------------------------------------

def _cc_full(spark, pairs):
    from pandas_db_spark.operators.graph import connected_components
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {r["id"]: r["component"]
            for r in connected_components(df).collect()}


def _cc_incremental(spark, batch1, batch2):
    from pandas_db_spark.operators.graph import (append_components,
                                                 connected_components)
    store = connected_components(
        spark.createDataFrame(batch1, "id_a long, id_b long"))
    out = append_components(
        store, spark.createDataFrame(batch2, "id_a long, id_b long"))
    return {r["id"]: r["component"] for r in out.collect()}


def test_append_components_bridge_merges_two_clusters(spark):
    """A single new pair bridging two existing components relabels EVERY
    member of the higher-labeled one."""
    b1 = [(1, 2), (2, 3), (10, 11), (11, 12)]
    b2 = [(3, 10)]
    assert _cc_incremental(spark, b1, b2) == _cc_full(spark, b1 + b2)


def test_append_components_untouched_survive_new_nodes_enter(spark):
    b1 = [(1, 2), (10, 11)]
    b2 = [(20, 21), (21, 22)]          # disjoint new cluster
    got = _cc_incremental(spark, b1, b2)
    assert got == _cc_full(spark, b1 + b2)
    assert got[10] == 10 and got[11] == 10    # untouched labels intact


def test_append_components_chain_spans_batches(spark):
    """B joins the store via one endpoint and drags a new chain in: the
    whole chain takes the OLD component's min label."""
    b1 = [(5, 6)]
    b2 = [(6, 7), (7, 8), (8, 9)]
    got = _cc_incremental(spark, b1, b2)
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 5}


def test_append_components_new_min_id_wins(spark):
    """A NEW node with a smaller id than the stored label becomes the
    component minimum — labels must move DOWN, not just merge."""
    b1 = [(10, 11)]
    b2 = [(1, 10)]
    got = _cc_incremental(spark, b1, b2)
    assert got == {1: 1, 10: 1, 11: 1}


def test_append_components_same_component_pair_is_noop(spark):
    b1 = [(1, 2), (2, 3)]
    b2 = [(1, 3)]                      # already connected
    assert _cc_incremental(spark, b1, b2) == _cc_full(spark, b1)


def test_append_components_empty_store_equals_cc(spark):
    from pandas_db_spark.operators.graph import (append_components,
                                                 connected_components)
    empty = connected_components(
        spark.createDataFrame([], "id_a long, id_b long"))
    out = append_components(
        empty, spark.createDataFrame([(4, 2), (2, 9)],
                                     "id_a long, id_b long"))
    assert ({r["id"]: r["component"] for r in out.collect()}
            == {2: 2, 4: 2, 9: 2})


def test_append_components_empty_batch_is_identity(spark):
    from pandas_db_spark.operators.graph import (append_components,
                                                 connected_components)
    store = connected_components(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"))
    out = append_components(
        store, spark.createDataFrame([], "id_a long, id_b long"))
    assert ({r["id"]: r["component"] for r in out.collect()}
            == {1: 1, 2: 1})


def test_append_components_randomized_equals_recompute(spark):
    """Deterministic pseudo-random multi-merge topology: 60 pairs over 40
    ids split into two batches — incremental == from-scratch, pair for
    pair."""
    import random
    rng = random.Random(12)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    cut = len(pairs) // 2
    assert (_cc_incremental(spark, pairs[:cut], pairs[cut:])
            == _cc_full(spark, pairs))


def _pagerank_py_seeded(edges, seeds, iterations, damping_pm=850,
                        unit=10 ** 9):
    """Python replay of the personalized recurrence."""
    from collections import defaultdict
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = defaultdict(set)
    for u, v in edges:
        if u != v:
            out[u].add(v)
    n = len(nodes)
    s = sorted(set(seeds) & set(nodes))
    tele = ((1000 - damping_pm) * n * unit) // (1000 * len(s))
    r = {x: unit for x in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for u in nodes:
            if out[u]:
                c = ((r[u] // len(out[u])) * damping_pm) // 1000
                for v in out[u]:
                    inflow[v] += c
        dang = sum(r[u] for u in nodes if not out[u])
        share = ((dang // len(s)) * damping_pm) // 1000
        r = {x: (tele if x in s else 0) + inflow[x]
             + (share if x in s else 0) for x in nodes}
    return r


def test_pagerank_seeded_matches_replay_and_concentrates(spark):
    """Personalized mode: seed {1} on a graph with a dangling sink —
    teleport AND dangling mass return to the seed, so the seed's
    neighborhood outranks the far side; exact match vs the Python
    replay of the documented recurrence."""
    from pandas_db_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5)]  # 5 is dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=6, seeds=sd).collect()}
    assert got == _pagerank_py_seeded(edges, [1], 6)
    # uniform mode differs (sanity that seeding changed the answer)
    uni = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=6).collect()}
    assert got != uni
    assert got[1] > uni[1]


def test_pagerank_seeded_all_nodes_equals_uniform_shape(spark):
    """Seeding EVERY node reproduces uniform PageRank up to the per-node
    floor difference: tele_all = ((150·n·unit) div (1000·n)) vs uniform
    ((150·unit) div 1000) differ by < 1 unit step, so ranks match within
    iterations ulps of the fixed-point grid."""
    from pandas_db_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    seeded = {r["id"]: r["rank_fp"]
              for r in pagerank(df, iterations=5, seeds=sd).collect()}
    uni = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=5).collect()}
    assert all(abs(seeded[k] - uni[k]) <= 10 for k in uni)


def test_pagerank_seeded_unknown_seed_raises(spark):
    import pytest as _pt
    from pandas_db_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    sd = spark.createDataFrame([(99,)], "id long")
    with _pt.raises(ValueError, match="no seed id appears"):
        pagerank(df, iterations=2, seeds=sd)


# ---------------------------------------------------------------------
# triangle_counts — degree-oriented wedge join
# ---------------------------------------------------------------------

def _triangles_py(edges):
    import itertools
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    cnt = {}
    for u, v, w in itertools.combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for x in (u, v, w):
                cnt[x] = cnt.get(x, 0) + 1
    return cnt


def test_triangle_counts_matches_brute_force(spark):
    import random
    from pandas_db_spark.operators.graph import triangle_counts

    rng = random.Random(5)
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in ((rng.randrange(25), rng.randrange(25))
                                 for _ in range(120)) if a != b})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == _triangles_py(edges)


def test_triangle_counts_normalizes_input(spark):
    """Self-loops dropped; duplicate and reversed pairs collapse — the
    count is a property of the simple graph, not the pair multiset."""
    from pandas_db_spark.operators.graph import triangle_counts

    clean = [(1, 2), (2, 3), (1, 3)]
    noisy = clean + [(2, 1), (3, 2), (1, 1), (1, 2)]
    df = spark.createDataFrame(noisy, "id_a long, id_b long")
    got = {r["id"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_triangle_free_graphs(spark):
    """A bipartite (square) graph and a tree both return empty."""
    from pandas_db_spark.operators.graph import triangle_counts

    square = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "id_a long, id_b long")
    assert triangle_counts(square).count() == 0
    tree = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "id_a long, id_b long")
    assert triangle_counts(tree).count() == 0


def test_triangle_counts_k5_complete(spark):
    """K5: every node is in C(4,2) = 6 triangles."""
    import itertools
    from pandas_db_spark.operators.graph import triangle_counts

    edges = list(itertools.combinations(range(5), 2))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {i: 6 for i in range(5)}


def _pagerank_py_weighted(wedges, iterations, damping_pm=850,
                          unit=10 ** 9):
    """Python replay of the weighted recurrence (duplicate edges summed
    by the operator before it sees them — pass pre-summed here)."""
    from collections import defaultdict
    nodes = sorted({u for u, _, _ in wedges} | {v for _, v, _ in wedges})
    out = defaultdict(dict)
    for u, v, w in wedges:
        out[u][v] = out[u].get(v, 0) + w
    n = len(nodes)
    tele = ((1000 - damping_pm) * unit) // 1000
    r = {x: unit for x in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for u in nodes:
            ws = sum(out[u].values())
            for v, w in out[u].items():
                inflow[v] += (((r[u] * w) // ws) * damping_pm) // 1000
        dang = sum(r[u] for u in nodes if not out[u])
        share = ((dang // n) * damping_pm) // 1000
        r = {x: tele + inflow[x] + share for x in nodes}
    return r


def test_pagerank_weighted_matches_replay(spark):
    """Weighted mode: heavy edge 1->2 (w=9) vs light 1->3 (w=1) — node 2
    receives ~9x node 3's inflow from 1; exact match vs the Python
    replay, duplicate (src, dst) rows summed."""
    from pandas_db_spark.operators.graph import pagerank

    rows = [(1, 2, 4), (1, 2, 5), (1, 3, 1), (2, 1, 2), (3, 1, 2)]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r["id"]: r["rank_fp"]
           for r in pagerank(df, iterations=5,
                             weight_col="w").collect()}
    assert got == _pagerank_py_weighted(
        [(1, 2, 9), (1, 3, 1), (2, 1, 2), (3, 1, 2)], 5)
    assert got[2] > got[3]


def test_pagerank_weighted_uniform_weights_equal_unweighted(spark):
    """All weights 1 reproduce the unweighted recurrence exactly —
    (((r*1) div d) * dpm) div 1000 == ((r div d) * dpm) div 1000."""
    from pandas_db_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    wdf = spark.createDataFrame([(a, b, 1) for a, b in edges],
                                "src long, dst long, w long")
    assert ({r["id"]: r["rank_fp"] for r in
             pagerank(df, iterations=4).collect()}
            == {r["id"]: r["rank_fp"] for r in
                pagerank(wdf, iterations=4, weight_col="w").collect()})


def test_pagerank_weighted_validation(spark):
    import pytest as _pt
    from pandas_db_spark.operators.graph import pagerank

    bad = spark.createDataFrame([(1, 2, 0)],
                                "src long, dst long, w long")
    with _pt.raises(ValueError, match="weights must be >= 1"):
        pagerank(bad, iterations=2, weight_col="w")
    heavy = spark.createDataFrame([(1, 2, 2 ** 52)],
                                  "src long, dst long, w long")
    with _pt.raises(ValueError, match="overflow"):
        pagerank(heavy, iterations=2, weight_col="w")


def test_clustering_coefficients_hand_computed(spark):
    """Triangle 1-2-3 plus pendant 3-4: node 3 has deg 3 (3 wedges,
    1 triangle), nodes 1/2 have deg 2 (1 wedge, 1 triangle = coeff 1),
    node 4 (deg 1) is excluded."""
    from pandas_db_spark.operators.graph import clustering_coefficients

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long")
    got = {r["id"]: (r["n_tri"], r["n_wedges"])
           for r in clustering_coefficients(df).collect()}
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 3)}


# ---------------------------------------------------------------------
# bfs_distances (multi-source hop distances)
# ---------------------------------------------------------------------

def _bfs_py(edges, seeds, max_hops):
    """Reference BFS over an adjacency dict — the semantics oracle."""
    adj = {}
    nodes = set()
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            nodes.add(u)
            nodes.add(v)
    dist = {s: 0 for s in seeds if s in nodes}
    frontier = set(dist)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = h
        if not nxt:
            break
        frontier = nxt
    return dist


def test_bfs_matches_python_replay_on_random_graph(spark, monkeypatch):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    seeds = [0, 17, 99]  # 99 not in the graph -> ignored
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "id long")

    def run():
        out = G.bfs_distances(e, s, max_hops=5)
        return (out.schema.simpleString(),
                {r["id"]: r["dist"] for r in out.collect()})

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    assert driver[1] == _bfs_py(edges, seeds, 5)


def test_bfs_directed_chain_and_hop_cap(spark):
    """Directed path 1->2->3->4->5: distances follow direction only,
    and max_hops truncates the frontier expansion."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "id long")
    full = {r["id"]: r["dist"]
            for r in G.bfs_distances(e, s, max_hops=8).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    capped = {r["id"]: r["dist"]
              for r in G.bfs_distances(e, s, max_hops=2).collect()}
    assert capped == {1: 0, 2: 1, 3: 2}
    # reverse reachability: node 5 reaches nothing
    s5 = spark.createDataFrame([(5,)], "id long")
    assert ({r["id"]: r["dist"]
             for r in G.bfs_distances(e, s5, max_hops=8).collect()}
            == {5: 0})


def test_bfs_min_distance_wins_across_seeds(spark):
    """Two seeds at different distances from the same node: the minimum
    hop count is reported (3 is 2 hops from 1 but 1 hop from 10)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 3)], "src long, dst long")
    s = spark.createDataFrame([(1,), (10,)], "id long")
    got = {r["id"]: r["dist"]
           for r in G.bfs_distances(e, s, max_hops=4).collect()}
    assert got == {1: 0, 10: 0, 2: 1, 3: 1}


def test_bfs_validation(spark, monkeypatch):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    empty = spark.createDataFrame([], "src long, dst long")
    s_out = spark.createDataFrame([(9,)], "id long")
    s_null = spark.createDataFrame([(None,)], "id long")
    s = spark.createDataFrame([(1,)], "id long")
    s_with_null = spark.createDataFrame([(None,), (1,)], "id long")
    with pytest.raises(ValueError, match="max_hops"):
        G.bfs_distances(e, s, max_hops=-1)

    def run():
        return (
            [_error(lambda: G.bfs_distances(g, sd, max_hops=3))
             for g, sd in ((e, s_out), (e, s_null), (empty, s))],
            # max_hops=0: seeds only; a NULL seed id is dropped
            {r["id"]: r["dist"]
             for r in G.bfs_distances(e, s, max_hops=0).collect()},
            {r["id"]: r["dist"] for r in
             G.bfs_distances(e, s_with_null, max_hops=3).collect()})

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    assert all("no seed id appears" in msg for msg in driver[0])
    assert driver[1:] == ({1: 0}, {1: 0, 2: 1})


# ---------------------------------------------------------------------
# common_neighbor_counts (link prediction) — r12 part 4
# ---------------------------------------------------------------------

def _cn_py(edges, min_common):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    out = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            c = len(adj[x] & adj[y])
            if c >= min_common:
                out[(x, y)] = (c, len(adj[x]), len(adj[y]))
    return out


def test_common_neighbors_matches_brute_force(spark):
    import random

    rng = random.Random(13)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(25), rng.randrange(25))
                               for _ in range(90)) if a != b})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["deg_a"], r["deg_b"])
           for r in G.common_neighbor_counts(df, min_common=2).collect()}
    assert got == _cn_py(edges, 2)


def test_common_neighbors_square_and_normalization(spark):
    """4-cycle 1-2-3-4-1 (with duplicate/reversed/self edges thrown in):
    the two diagonals each share BOTH their neighbors, adjacent pairs
    share none."""
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 1), (1, 1), (3, 4)],
        "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["n_common"]
           for r in G.common_neighbor_counts(df, min_common=1).collect()}
    assert got == {(1, 3): 2, (2, 4): 2}


def test_common_neighbors_hub_cap_warns_and_undercounts(spark):
    """Star center 0 with leaves 1..5 plus edge 1-2: uncapped, every
    leaf pair shares the hub; capped at degree 2, only paths through
    low-degree centers survive (degrees stay exact)."""
    import warnings as W

    star = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(star, "id_a long, id_b long")
    full = {(r["id_a"], r["id_b"]): r["n_common"]
            for r in G.common_neighbor_counts(df, min_common=1).collect()}
    # C(5,2)=10 leaf pairs through the hub, plus (0,1)/(0,2) through
    # the degree-2 centers 2 and 1
    assert full[(1, 2)] == 1 and full[(3, 4)] == 1 and len(full) == 12
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        capped = G.common_neighbor_counts(
            df, min_common=1, max_center_degree=2).collect()
    assert any("excluded from pair generation" in str(w.message)
               for w in caught)
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["deg_a"], r["deg_b"])
           for r in capped}
    # only centers 1 and 2 (degree 2) generate pairs: (0,2) via 1, (0,1) via 2
    assert got == {(0, 1): (1, 5, 2), (0, 2): (1, 5, 2)}
    with pytest.raises(ValueError, match="min_common"):
        G.common_neighbor_counts(df, min_common=0)


# ---------------------------------------------------------------------
# hits (hubs & authorities)
# ---------------------------------------------------------------------

def _hits_py(edges, k, unit):
    nodes = sorted({x for e in edges for x in e if e[0] != e[1]})
    es = sorted({e for e in edges if e[0] != e[1]})
    h = {x: unit for x in nodes}
    a = {x: 0 for x in nodes}
    for _ in range(k):
        ar = {x: 0 for x in nodes}
        for u, v in es:
            ar[v] += h[u]
        m = max(max(ar.values(), default=0), 1)
        a = {x: (ar[x] * unit) // m for x in nodes}
        hr = {x: 0 for x in nodes}
        for u, v in es:
            hr[u] += a[v]
        m = max(max(hr.values(), default=0), 1)
        h = {x: (hr[x] * unit) // m for x in nodes}
    return {x: (h[x], a[x]) for x in nodes}


def test_hits_matches_python_replay(spark, monkeypatch):
    import random

    rng = random.Random(99)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    # authority 1000 with 120 in-edges: at unit=1e7 its normalization
    # numerator a_raw·unit reaches 1.2e16 > 2^53, past float64's exact
    # integers, while n·unit² stays under the overflow guard
    star = edges + [(100 + i, 1000) for i in range(120)]
    cases = [(edges, 3, 10 ** 6), (star, 3, 10 ** 7)]

    def run():
        outs = [G.hits(spark.createDataFrame(es, "src long, dst long"),
                       iterations=k, unit=unit) for es, k, unit in cases]
        return [(out.schema.simpleString(),
                 {r["id"]: (r["hub_fp"], r["auth_fp"])
                  for r in out.collect()}) for out in outs]

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    for (es, k, unit), (_, got) in zip(cases, driver):
        assert got == _hits_py(es, k, unit)


def test_hits_bipartite_structure(spark):
    """Hubs 1,2 -> authorities 10,11,12; hub 1 points at all three,
    hub 2 at one.  Hub 1 dominates, authorities covered by hub 1 beat
    the rest; pure hubs have auth 0, pure authorities hub 0."""
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "src long, dst long")
    got = {r["id"]: (r["hub_fp"], r["auth_fp"])
           for r in G.hits(df, iterations=4).collect()}
    unit = 10 ** 6
    assert got[1][0] == unit and got[1][1] == 0          # dominant hub
    assert got[2][0] < unit and got[2][1] == 0
    assert got[10][1] == unit                            # best authority
    assert got[10][0] == 0
    assert 0 < got[11][1] < unit and got[11][1] == got[12][1]


def test_hits_validation_and_empty(spark, monkeypatch):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        G.hits(df, iterations=-1)
    with pytest.raises(ValueError, match="unit must be"):
        G.hits(df, unit=10)
    empty = spark.createDataFrame([], "src long, dst long")

    def run():
        out = G.hits(empty, iterations=2)
        return (_error(lambda: G.hits(df, unit=2 ** 31)),
                out.schema.simpleString(), out.count(),
                # iterations=0: everything at unit
                {r["id"]: (r["hub_fp"], r["auth_fp"])
                 for r in G.hits(df, iterations=0).collect()})

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    assert "overflow" in driver[0] and driver[2] == 0
    assert driver[3] == {1: (10 ** 6, 10 ** 6), 2: (10 ** 6, 10 ** 6)}


# ---------------------------------------------------------------------
# cooccurrence_pairs + degree_moments — r12 part 4
# ---------------------------------------------------------------------

def test_cooccurrence_pairs_counts_and_cap(spark):
    """Orders {g1: a,b,c}, {g2: a,b}, {g3: a,b} (with a duplicate
    incidence row): (a,b) co-occurs 3x, (a,c)/(b,c) once; min_count=2
    keeps only (a,b); a giant group is excluded with a warning."""
    import warnings as W

    inc = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "b"),
         (3, "a"), (3, "b"), (4, "solo")],
        "g long, it string")
    got = {(r["id_a"], r["id_b"]): r["n_groups"]
           for r in G.cooccurrence_pairs(inc, "g", "it").collect()}
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    got2 = {(r["id_a"], r["id_b"]): r["n_groups"]
            for r in G.cooccurrence_pairs(inc, "g", "it",
                                          min_count=2).collect()}
    assert got2 == {("a", "b"): 3}
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        capped = {(r["id_a"], r["id_b"]): r["n_groups"]
                  for r in G.cooccurrence_pairs(
                      inc, "g", "it", max_group_size=2).collect()}
    assert any("excluded from projection" in str(w.message)
               for w in caught)
    assert capped == {("a", "b"): 2}  # g1 (3 items) dropped
    with pytest.raises(ValueError, match="min_count"):
        G.cooccurrence_pairs(inc, "g", "it", min_count=0)


def test_degree_moments_hand_computed_star_vs_clique(spark):
    """Star K1,3: edges (0,1),(0,2),(0,3), degrees 3/1/1/1 — each edge
    has (j,k)=(3,1): s_jk=9, s_sum=12, s_sq=30; assortativity is
    maximally negative.  Triangle K3: all degrees 2 — r degenerate,
    moments exact."""
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    r = G.degree_moments(star).collect()[0]
    assert (r["n_nodes"], r["m_edges"], r["s_jk"], r["s_sum"], r["s_sq"]) \
        == (4, 3, 9, 12, 30)
    # Newman r for a star = -1
    m, sjk, ss, ssq = r["m_edges"], r["s_jk"], r["s_sum"], r["s_sq"]
    assert (4 * m * sjk - ss * ss) / (2 * m * ssq - ss * ss) == -1.0
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 1)], "id_a long, id_b long")
    t = G.degree_moments(tri).collect()[0]
    assert (t["n_nodes"], t["m_edges"], t["s_jk"], t["s_sum"], t["s_sq"]) \
        == (3, 3, 12, 12, 24)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    z = G.degree_moments(empty).collect()[0]
    assert (z["n_nodes"], z["m_edges"], z["s_jk"], z["s_sum"], z["s_sq"]) \
        == (0, 0, 0, 0, 0)


# ---------------------------------------------------------------------
# core_numbers (k-core via H-index iteration) — r12 part 4
# ---------------------------------------------------------------------

def _core_py(edges):
    """Reference coreness by sequential peeling."""
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    core = {}
    alive = {v: len(ns) for v, ns in adj.items()}
    level = 0
    while alive:
        v = min(alive, key=lambda x: (alive[x], x))
        level = max(level, alive[v])
        core[v] = level
        for u in adj[v]:
            if u in alive and alive[u] > alive[v]:
                alive[u] -= 1
        del alive[v]
    return core


def test_core_numbers_matches_peeling_on_random_graph(spark):
    import random

    rng = random.Random(21)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(30), rng.randrange(30))
                               for _ in range(120)) if a != b})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["core"] for r in G.core_numbers(df).collect()}
    assert got == _core_py(edges)


def test_core_numbers_hand_computed(spark):
    """K5 is a 4-core; a star is a 1-core; triangle+pendant mixes."""
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(k5, "id_a long, id_b long")
    assert set({r["core"] for r in G.core_numbers(df).collect()}) == {4}
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "id_a long, id_b long")
    assert set({r["core"] for r in G.core_numbers(star).collect()}) == {1}
    tri_p = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "id_a long, id_b long")
    got = {r["id"]: r["core"] for r in G.core_numbers(tri_p).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 1}


def test_core_numbers_round_valve_on_deep_chain(spark):
    """A path converges one hop per round — the documented O(n) case:
    max_rounds must RAISE rather than return an unconverged labeling,
    and a deliberate higher valve converges to all-1s."""
    path = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                 "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        G.core_numbers(path, max_rounds=3)
    got = {r["core"] for r in G.core_numbers(path, max_rounds=20).collect()}
    assert got == {1}
    with pytest.raises(ValueError, match="max_rounds"):
        G.core_numbers(path, max_rounds=0)


# ---------------------------------------------------------------------
# label_propagation (fixed-round synchronous LPA) — r12 part 4
# ---------------------------------------------------------------------

def _lpa_py(edges, rounds):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, ns in adj.items():
            cnt = {}
            for u in ns:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lab = new
    return lab


def test_lpa_matches_python_replay(spark):
    import random

    rng = random.Random(44)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(80)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for rounds in (0, 1, 3):
        got = {r["id"]: r["label"]
               for r in G.label_propagation(df, rounds=rounds).collect()}
        assert got == _lpa_py(edges, rounds)


def test_lpa_splits_barbell_where_cc_cannot(spark):
    """Two K4 cliques joined by one bridge edge: CC sees ONE component,
    LPA after 3 rounds labels each clique by its own minimum."""
    left = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    right = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    bridge = [(3, 10)]
    df = spark.createDataFrame(left + right + bridge,
                               "id_a long, id_b long")
    cc = {r["component"]
          for r in G.connected_components(df).collect()}
    assert cc == {0}  # one component
    lpa = {r["id"]: r["label"]
           for r in G.label_propagation(df, rounds=3).collect()}
    assert {lpa[i] for i in range(4)} == {0}
    assert {lpa[i] for i in range(10, 14)} == {10}


def test_lpa_validation(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="rounds"):
        G.label_propagation(df, rounds=-1)
    # rounds=0: identity labeling
    assert ({r["id"]: r["label"]
             for r in G.label_propagation(df, rounds=0).collect()}
            == {1: 1, 2: 2})


# ---------------------------------------------------------------------
# shortest_paths (hop-bounded weighted Bellman-Ford)
# ---------------------------------------------------------------------

def _sssp_py(edges, seeds, max_hops):
    best = {}
    for u, v, w in edges:
        if u != v:
            best[(u, v)] = min(best.get((u, v), w), w)
    nodes = {x for u, v in best for x in (u, v)}
    dist = {s: 0 for s in seeds if s in nodes}
    for _ in range(max_hops):
        new = dict(dist)
        for (u, v), w in best.items():
            if u in dist and dist[u] + w < new.get(v, float("inf")):
                new[v] = dist[u] + w
        dist = new
    return dist


def test_sssp_matches_python_replay(spark, monkeypatch):
    import random

    rng = random.Random(77)
    edges = [(rng.randrange(20), rng.randrange(20), rng.randrange(1, 50))
             for _ in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(0,), (7,)], "id long")
    hops = (0, 1, 4)

    def run():
        outs = [G.shortest_paths(df, s, max_hops=h) for h in hops]
        return [(out.schema.simpleString(),
                 {r["id"]: r["cost"] for r in out.collect()})
                for out in outs]

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    for h, (_, got) in zip(hops, driver):
        assert got == _sssp_py(edges, [0, 7], h)


def test_sssp_cheap_long_path_beats_expensive_short_one(spark):
    """1->2->3 costs 2, direct 1->3 costs 10: within 2 hops the cheap
    path wins; within 1 hop only the expensive edge exists — the
    hop-bound semantics."""
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 10)], "src long, dst long, w long")
    s = spark.createDataFrame([(1,)], "id long")
    two = {r["id"]: r["cost"]
           for r in G.shortest_paths(df, s, max_hops=2).collect()}
    assert two == {1: 0, 2: 1, 3: 2}
    one = {r["id"]: r["cost"]
           for r in G.shortest_paths(df, s, max_hops=1).collect()}
    assert one == {1: 0, 2: 1, 3: 10}
    # parallel edges collapse to the min
    dup = spark.createDataFrame(
        [(1, 2, 5), (1, 2, 3)], "src long, dst long, w long")
    assert ({r["id"]: r["cost"] for r in
             G.shortest_paths(dup, s, max_hops=1).collect()}
            == {1: 0, 2: 3})


def test_sssp_validation(spark, monkeypatch):
    df = spark.createDataFrame([(1, 2, -1)], "src long, dst long, w long")
    s = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="weights must be >= 0"):
        G.shortest_paths(df, s, max_hops=2)
    ok = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    empty = spark.createDataFrame([], "src long, dst long, w long")
    out = spark.createDataFrame([(9,)], "id long")
    s_null = spark.createDataFrame([(None,)], "id long")
    with pytest.raises(ValueError, match="max_hops"):
        G.shortest_paths(ok, s, max_hops=-1)

    def run():
        return [_error(lambda: G.shortest_paths(g, sd, max_hops=2))
                for g, sd in ((ok, out), (ok, s_null), (empty, s))]

    driver, distributed = _both_paths(monkeypatch, run)
    assert driver == distributed
    assert all("no seed id" in msg for msg in driver)


# ---------------------------------------------------------------------------
# Reliable-checkpoint path: with a checkpoint dir set, every
# iterative operator must truncate through DataFrame.checkpoint (DFS-backed,
# survives executor loss) and produce bit-identical results to the
# localCheckpoint default.


def _signature(edges):
    """(row count, order-insensitive xxhash64 sum) of an edge set from
    its own aggregate job — the oracle for the observed signature of
    ``graph._truncate_signed``."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0)).cast("decimal(38,0)").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def test_reliable_checkpoint_reachable_and_bit_identical(spark, tmp_path,
                                                        monkeypatch):
    from pathlib import Path

    # hits, bfs_distances and shortest_paths checkpoint every round only
    # on the distributed path
    monkeypatch.setattr(G, "_DRIVER_EDGES", 0)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # the local[32] default

    edges = ([(i, (i * 3 + 1) % 40) for i in range(40)]
             + [(i, (i + 7) % 40) for i in range(40)])
    df = spark.createDataFrame(edges, "src long, dst long")
    wdf = spark.createDataFrame([(u, v, (u * 7 + v) % 5) for u, v in edges],
                                "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (13,)], "id long")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(a + 1, 8)]
        + [(100 + i, 101 + i) for i in range(5)], "id_a long, id_b long")

    def run():
        # the frontier loops and HITS branch on values observed on their
        # checkpoint jobs, so both flavors must observe the same values
        return {
            "pagerank": {r["id"]: r["rank_fp"]
                         for r in G.pagerank(df, iterations=4).collect()},
            "core": {r["id"]: r["core"]
                     for r in G.core_numbers(pairs).collect()},
            "hits": {r["id"]: (r["hub_fp"], r["auth_fp"])
                     for r in G.hits(df, iterations=3).collect()},
            "lpa": {r["id"]: r["label"] for r in
                    G.label_propagation(pairs, rounds=3).collect()},
            "bfs": {r["id"]: r["dist"] for r in
                    G.bfs_distances(df, seeds, max_hops=8).collect()},
            "sssp": {r["id"]: r["cost"] for r in
                     G.shortest_paths(wdf, seeds, max_hops=8).collect()},
        }

    local = run()
    assert all(local.values())
    e = spark.createDataFrame(edges, "u long, v long")
    assert G._truncate_signed(e)[1] == _signature(e)

    ckdir = tmp_path / "reliable_ck"
    sc.setCheckpointDir(str(ckdir))
    try:
        reliable = run()
        assert G._truncate_signed(e)[1] == _signature(e)
        # bit-identical across checkpoint flavors (integer fixed point)
        assert reliable == local
        # the reliable path actually wrote checkpoint files to the dir —
        # the property localCheckpoint can never provide
        ck_files = [p for p in Path(str(ckdir)).rglob("*") if p.is_file()]
        assert ck_files, "no reliable checkpoint files were written"
    finally:
        # restore the session default so later tests see local behavior
        # (SparkContext has no public unset; clear the underlying Option)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
