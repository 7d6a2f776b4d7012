"""Connected components over candidate-pair graphs.

Near-dup detection (``operators/dedup.py``, ``operators/similarity.py``)
emits PAIRS ``(id_a, id_b)``; real corpus dedup needs the transitive
closure of those pairs — if A~B and B~C, then {A, B, C} is ONE duplicate
cluster and exactly one representative should survive, even though (A, C)
was never emitted as a pair.  The pairwise keep policy
(``dedup.keep_first``) is deterministic but not transitive: in the chain
A~B~C it drops B and C yet keeps A even though A and C may be near-dups
through B.  This module supplies the closure.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — the same
scheme GraphFrames/GraphX use for their DataFrame CC).  Each round is two
keyed shuffles over the *edge* set only; the number of rounds is
O(log² n) in the worst case and 2-3 in practice for LSH dup graphs.  No
step ever materializes a component's member list on one machine, so a
100 TB corpus whose dup graph has a few billion edges runs with the same
per-task memory as a groupBy — component sizes never matter, only edge
counts.  Contrast with naive min-label propagation, whose round count is
the graph DIAMETER: a pathological chain of chained near-dups (common in
templated web text) makes that unbounded.

Lineage: each round's edge set is truncated through
:func:`pandas_db_spark.plans.checkpoint.truncate_lineage`, which picks
the checkpoint flavor from the session — without truncation the plan
doubles per iteration and the driver OOMs on plan serialization long
before data is a problem.  When the session has a RELIABLE
checkpoint directory (``spark.sparkContext.setCheckpointDir`` on
HDFS/S3A), every iterative operator in this module writes
``DataFrame.checkpoint`` files there, so an executor loss mid-iteration
recomputes from the DFS instead of failing the job; without one
it falls back to eager ``localCheckpoint``, the honest default for a
single machine.

Shared shape: every operator prepares its edges through one null /
self-loop filter (:func:`_edges`, :func:`_undirected`), runs fixed
rounds through :func:`_rounds` and convergence loops through
:func:`_fixpoint`, and reads every scalar it needs from a checkpointed
frame (node counts, weight ranges, emptiness, convergence signatures)
as an ``observe`` metric of that checkpoint's own job
(:func:`_checkpoint_observed`) instead of a second pass.

Driver path: at or below ``_DRIVER_EDGES`` distinct edges (10⁶, about
16 MB of int64 pairs), Spark's fixed cost per job outweighs the work, so
:func:`connected_components` (union-find), :func:`hits`,
:func:`bfs_distances` and :func:`shortest_paths` fetch the checkpointed
edge set once through Arrow (:func:`_driver_arrays`) and compute the
same result on the driver (numpy int64 kernels; a union-find for
components).  The edge count is the one
their edge checkpoint job already observes, and both paths are exact
integer arithmetic, so their outputs are identical.

Reference scope note: the reference engine (pandas-db) has no graph
operators — this is beyond-parity capability for the LLM-data-pipeline
layer, with semantics defined purely by the recursive-closure oracle in
``queries.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F

from pandas_db_spark.plans.checkpoint import truncate_lineage

# Distinct-edge count at or below which the driver path runs.  A fetched
# edge is two int64 ids on the driver, so the bound keeps the edge
# arrays at ~16 MB (plus the kernels' node-sized work arrays).
_DRIVER_EDGES = 1_000_000


def _checkpoint_observed(df: DataFrame, *aggs) -> tuple[DataFrame, dict]:
    """:func:`truncate_lineage` plus the aggregates ``aggs`` over ``df``
    in ONE job: they ride the checkpoint materialization as ``observe``
    metrics — the same fold-the-probe-into-the-write move as the BM25
    meta observe (exact under task retries, SPARK-29345) — instead of
    paying a second full pass.  Both eager checkpoint flavors run under
    ``withAction``, so the observation fires when the materialization
    job completes (verified on local and reliable checkpoints;
    ``tests/test_graph.py`` checks the observed values against a
    separate aggregate job)."""
    obs = Observation()
    out = truncate_lineage(df.observe(obs, *aggs))
    return out, obs.get


def _n():
    """The row count, as the observed metric ``n`` (built per call: a
    Column needs an active SparkContext)."""
    return F.count(F.lit(1)).alias("n")


def _truncate_signed(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """:func:`truncate_lineage` plus the edge set's convergence signature
    ``(row count, order-insensitive xxhash64 sum)``, observed on the
    checkpoint job.

    large/small-star is monotone (edge sets converge to the star
    forest), so signature equality ⇒ fixpoint for any practical purpose
    (a 64-bit sum collision that ALSO preserves the count is ~2⁻⁶⁴ per
    round).  The sum is decimal(38,0): exact and overflow-free under
    ANSI mode."""
    out, m = _checkpoint_observed(
        edges, _n(),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0)).cast("decimal(38,0)").alias("h"))
    return out, (int(m["n"]), int(m["h"]))


def _edges(df: DataFrame, u, v, *extra) -> DataFrame:
    """``df`` projected to the endpoint expressions ``u`` and ``v`` (plus
    the ``extra`` columns), without self-loops and without edges that
    have a NULL endpoint (the comparison is NULL there, which drops the
    row as well)."""
    return (df.select(u.alias("u"), v.alias("v"), *extra)
            .where(F.col("u") != F.col("v")))


def _undirected(pairs: DataFrame, id_a, id_b) -> DataFrame:
    """The distinct undirected edges ``(a, b)`` with ``a < b`` of the
    pair columns (names or Column expressions) ``id_a`` and ``id_b``."""
    return (_edges(pairs, F.least(id_a, id_b), F.greatest(id_a, id_b))
            .distinct()
            .select(F.col("u").alias("a"), F.col("v").alias("b")))


def _symmetric(e: DataFrame, a: str, b: str) -> DataFrame:
    """The edges ``(a, b)`` of ``e`` in both directions."""
    return e.union(e.select(F.col(b).alias(a), F.col(a).alias(b)))


def _nodes(e: DataFrame) -> DataFrame:
    """The distinct endpoints ``id`` of the edges ``(u, v)``."""
    return (e.select(F.col("u").alias("id"))
            .union(e.select(F.col("v").alias("id"))).distinct())


def _degrees(e: DataFrame) -> DataFrame:
    """``(id, d)``: the degree of every node of the undirected edges
    ``(a, b)``."""
    return (e.select(F.col("a").alias("id"))
            .union(e.select(F.col("b").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("d")))


def _dedup_edges(edges: DataFrame, src: str,
                 dst: str) -> tuple[DataFrame, int]:
    """The distinct directed edges ``(u, v)`` of the ``src``/``dst``
    columns cast to long, hash-partitioned on ``u`` and checkpointed,
    with their count observed on the checkpoint job."""
    e, m = _checkpoint_observed(
        _edges(edges, F.col(src).cast("long"), F.col(dst).cast("long"))
        .distinct().repartition("u"), _n())
    return e, m["n"]


def _driver_arrays(df: DataFrame) -> list[np.ndarray]:
    """The columns of ``df`` as numpy arrays, fetched in one Arrow
    ``toPandas()`` job (a long column comes back int64)."""
    pdf = df.toPandas()
    return [pdf[c].to_numpy() for c in df.columns]


def _index(u: np.ndarray, v: np.ndarray):
    """``(ids, fu, fv)``: the sorted distinct endpoints of the edges
    ``u → v`` and each endpoint's position in ``ids``."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    return ids, inv[:len(u)], inv[len(u):]


def _csr(frm: np.ndarray, n: int):
    """``(order, indptr)``: the edge positions sorted by source index
    ``frm`` and the start of each of the ``n`` sources' runs in it."""
    order = np.argsort(frm, kind="stable")
    return order, np.searchsorted(frm[order], np.arange(n + 1))


def _out_edges(order: np.ndarray, indptr: np.ndarray,
               f: np.ndarray) -> np.ndarray:
    """The positions of the edges leaving the source indices ``f``."""
    lo = indptr[f]
    cnt = indptr[f + 1] - lo
    start = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    return order[start + np.arange(cnt.sum())]


def _seed_frame(e: DataFrame, seeds: DataFrame, seed_col: str, col: str,
                name: str) -> DataFrame:
    """``(id, col = 0)`` for the distinct ``seed_col`` ids of ``seeds``
    that are endpoints of the edges ``e``, checkpointed.  Seeds the graph
    has never seen are ignored; raises when none is left."""
    # the semi-join keeps each (already distinct) node once, so the
    # seeds need no distinct of their own
    sd, m = _checkpoint_observed(
        _nodes(e).join(seeds.select(F.col(seed_col).cast("long")
                                    .alias("id")), "id", "left_semi")
                 .select("id", F.lit(0).cast("long").alias(col)), _n())
    if m["n"] == 0:
        raise ValueError(f"{name}: no seed id appears in the graph — "
                         f"no {col} would be defined")
    return sd


def _rounds(state: DataFrame, step, n: int) -> DataFrame:
    """``n`` rounds of ``state = step(state)``.  Lineage is truncated
    after every other round and after the last: plan growth between
    checkpoints is linear (one join + one aggregate per round), so
    this halves the materialization jobs while keeping the plan
    bounded, and the result always has a truncated lineage."""
    for i in range(n):
        state = step(state)
        if i % 2 == 1 or i == n - 1:
            state = truncate_lineage(state)
    return state


def _fixpoint(state: DataFrame, sig, step, checkpoint, max_iter: int,
              name: str, hint: str) -> DataFrame:
    """Iterate ``state, sig' = checkpoint(step(state))`` until the
    signature repeats, and return that state.  ``checkpoint`` truncates
    the lineage and observes the signature in the same job; ``sig`` is
    the signature of the initial ``state``.  Raises after ``max_iter``
    rounds without a repeat: an unconverged result would be wrong."""
    for _ in range(max_iter):
        state, nxt = checkpoint(step(state))
        if nxt == sig:
            return state
        sig = nxt
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds — {hint}")


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    m = min(Γ(u) ∪ {u}).  One groupBy + one join, both keyed on u."""
    sym = _symmetric(edges, "u", "v")
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, link u and all its ≤-neighbors to the minimum of
    that set.  Input edges are (u, v) with v < u after large-star."""
    sm = _symmetric(edges, "u", "v").where(F.col("v") < F.col("u"))
    mins = sm.groupBy("u").agg(F.min("v").alias("m"))
    relink = (sm.join(mins, "u")
              .where(F.col("v") != F.col("m"))
              .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.union(self_link).distinct()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact union-find on the driver-fetched edge list (path compression
    + union-by-min, near-linear), for edge sets at or below
    ``driver_threshold``."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    us, vs = _driver_arrays(edges)
    for u, v in zip(us.tolist(), vs.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union-by-min: the smaller id becomes the root, so every
            # root ends up its component's minimum.
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out_schema = edges.select(F.col("u").alias("id"),
                              F.col("v").alias("component")).schema
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": list(parent),
                      "component": [find(x) for x in parent]}),
        out_schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         driver_threshold: int = _DRIVER_EDGES) -> DataFrame:
    """Label every node appearing in ``pairs`` with its component's
    minimum id.

    Returns a DataFrame ``(id, component)`` — one row per distinct node,
    ``component`` = smallest id reachable through the undirected pair
    graph (component representatives map to themselves).  Ids only need
    to be orderable (long, string, …); no cast is imposed.

    Scale-adaptive: the deduplicated edge count is measured first (the
    same job that seeds the convergence signature).  At or below
    ``driver_threshold`` edges (default ``_DRIVER_EDGES``) an exact
    driver union-find answers — the common case for dup graphs,
    which are small even when the corpus is 100 TB.  Above it, the
    alternating-star distributed rounds run; they never co-locate a
    component's members, so billions of edges hold.  ``driver_threshold=0``
    forces the distributed path.

    ``max_iter`` is a safety valve far above the O(log² n) bound — 25
    alternating rounds cover graphs with ~2^5000 nodes; hitting it means
    a bug, so it raises rather than returning a wrong (unconverged)
    labeling.
    """
    edges, sig = _truncate_signed(
        _edges(pairs, F.col(id_a), F.col(id_b)).distinct())
    if sig[0] == 0:
        return edges.select(F.col("u").alias("id"),
                            F.col("v").alias("component"))
    if sig[0] <= driver_threshold:
        return _driver_union_find(edges)
    edges = _fixpoint(
        edges, sig, lambda e: _small_star(_large_star(e)),
        _truncate_signed, max_iter, "connected_components",
        "edge set is still changing; this exceeds the O(log² n) bound "
        "for any realizable graph and indicates a bug.")
    # Fixpoint: edges are (member, component_min) for every non-root
    # member.  Roots (component minima) have no outgoing edge — add their
    # self-mapping from the distinct target set.
    roots = edges.select(F.col("v").alias("id"),
                         F.col("v").alias("component")).distinct()
    members = edges.select(F.col("u").alias("id"),
                           F.col("v").alias("component"))
    return members.union(roots)


def keep_components(df: DataFrame, pairs: DataFrame, id_col: str,
                    id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Transitive dedup policy: keep exactly ONE row (the minimum id) per
    connected component of the pair graph, plus every row in no pair.

    Subsumes :func:`dedup.keep_first` when duplicate relations chain:
    A~B~C keeps only A here, and — unlike the pairwise rule — the kept
    set is invariant to which of the equivalent pairs the candidate
    generator happened to emit.  Cost: CC on the (tiny) edge set + one
    left-anti join against ``df``; the corpus itself never shuffles."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    drop = (cc.where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def keep_components_by(df: DataFrame, pairs: DataFrame, id_col: str,
                       score_col, ascending: bool = False,
                       id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Transitive dedup policy with a QUALITY rule: keep the best-scoring
    row per connected component (ties: minimum id), plus every row in no
    pair — the curation-grade sibling of :func:`keep_components`, which
    keeps the arbitrary minimum id.  In an LLM pipeline the survivor of
    a near-dup cluster should be the longest / cleanest / highest-
    quality variant, not whichever crawled first.

    ``score_col`` is a column name or Column expression evaluated
    against ``df`` (e.g. ``F.length("text")``); ``ascending=False``
    (default) keeps the highest score.

    Like :func:`connected_components`, ids only need to be ORDERABLE
    (long, string, …) — the tie-break never negates or casts the id, so
    string ids work, unlike a ``max(struct(score, -id))`` formulation
    whose unary minus NULLs string ids under non-ANSI coercion (and
    errors under ANSI).  NULL scores follow aggregate semantics: they
    lose to any non-NULL score; an all-NULL component keeps its min id.

    Scale shape: CC runs on the (tiny) edge set; scores are computed
    ONLY for component members (left-semi before the score projection —
    at 100 TB the corpus is probed, not scored); winner = best score
    per component (one keyed agg) → null-safe join-back to members →
    min id among the tied best (second keyed agg over the tied subset);
    survivors = corpus anti-join of (members − winners).  All three
    shuffles move only the member table; the corpus itself never
    shuffles."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    member_ids = cc.select(F.col("id").alias(id_col))
    # alias the scored side so the join is unambiguous even when
    # id_col == "id" (cc also carries an "id" column)
    scored = (df.join(member_ids, id_col, "left_semi")
                .select(F.col(id_col).alias("__sid"),
                        score.alias("__score")))
    members = (cc.join(scored, F.col("id") == F.col("__sid"))
                 .select("component", "id", "__score"))
    best_fn = F.min if ascending else F.max
    best = (members.groupBy("component")
            .agg(best_fn("__score").alias("__best"))
            .withColumnRenamed("component", "__bc"))
    # eqNullSafe: an all-NULL-score component has __best = NULL and
    # still matches all its members, so its min id survives instead of
    # the whole cluster being dropped.
    winners = (members.join(best,
                            (F.col("component") == F.col("__bc"))
                            & F.col("__score").eqNullSafe(F.col("__best")))
               .groupBy("component")
               .agg(F.min("id").alias("__keep_id")))
    drop = (members.join(winners, members["id"] == winners["__keep_id"],
                         "left_anti")
            .select(F.col("id").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


# =====================================================================
# Fixed-point PageRank (power iteration over exact 64-bit integers)
# =====================================================================

def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 6, damping_pm: int = 850,
             unit: int = 10 ** 9, max_iter_guard: int = 64,
             seeds: DataFrame | None = None,
             seed_col: str = "id",
             weight_col: str | None = None) -> DataFrame:
    """PageRank over a directed edge set, computed in EXACT 64-bit
    fixed-point arithmetic so the result is bit-identical across engines,
    runs, and partitionings.

    Returns ``(id, rank_fp)`` — one row per distinct node; ``rank_fp`` is
    the rank in units of ``1/unit`` (initial rank = ``unit`` per node,
    i.e. rank mass is expressed relative to the uniform vector, not
    normalized to sum 1 — divide by ``n * unit`` for probabilities).

    Float discipline (the corr_matrix rule applied to an ITERATIVE
    algorithm): double-precision power iteration accumulates per-node
    inflow sums whose value depends on partition order, so a float
    PageRank disagrees with any oracle — and with itself — in the low
    bits.  Here the algorithm is DEFINED over integers:

        teleport   = ((1000 - damping_pm) * unit) div 1000
        contrib(u) = ((rank(u) div outdeg(u)) * damping_pm) div 1000
        share      = (((Σ rank over outdeg-0 nodes) div n) * damping_pm)
                     div 1000
        rank'(v)   = teleport + Σ_{u→v} contrib(u) + share

    Every op is BIGINT multiply / floor-divide / sum — associative and
    engine-exact — so a SQL replay (DuckDB ``//``, Spark ``div``)
    reproduces ``rank_fp`` bit-for-bit.  The floor in ``contrib`` leaks
    ≤ outdeg/unit of mass per node per iteration; at the default
    ``unit = 1e9`` the relative rank error vs the real-valued iteration
    is ~1e-9 · iterations — far below anything a ranking consumer sees.

    Scale shape: the edge set is deduplicated, hash-partitioned by
    ``src`` and checkpointed ONCE (``truncate_lineage``); each iteration
    is a single job — join the (one-row-per-node) rank vector to the
    stationary edge table, one map-side-combined ``groupBy(dst)``, and
    the dangling mass folds in as a one-row broadcast (no driver collect
    inside the loop).  Per-iteration shuffle volume is O(nodes +
    edges-after-combine), never O(edges · iterations) of lineage: the
    rank vector is eagerly checkpointed every other round and after the
    last (:func:`_rounds`).  Dangling mass (outdeg-0 nodes) is
    redistributed uniformly — the standard stochastic-matrix completion —
    so rank mass is conserved up to floor leakage.

    Overflow: every intermediate is ≤ (n + 1) · unit (total mass is
    non-increasing), checked against 2⁶² at entry — at the default unit,
    graphs up to ~4.6e9 nodes fit; pass a smaller ``unit`` beyond that.

    **Personalized mode** (``seeds`` given — a DataFrame whose
    ``seed_col`` lists trusted node ids): ALL teleport mass and ALL
    dangling mass return to the seed set instead of spreading uniformly
    — authority flows outward from the seeds, the TrustRank /
    seed-domain-curation form.  Same integer recurrence with

        tele(v)  = [v ∈ S] · ((1000−damping_pm)·n·unit) div (1000·|S|)
        share(v) = [v ∈ S] · ((dangling div |S|) · damping_pm) div 1000

    Seeds not present in the graph are ignored (|S| counts the
    intersection); an empty intersection raises.  Total mass and the
    overflow bound are unchanged (teleport redistributes, it doesn't
    grow), so the same guard applies.

    **Weighted mode** (``weight_col`` given — positive integer edge
    weights; duplicate (src, dst) rows SUM):

        contrib(u→v) = (((rank(u) · w_uv) div wstrength(u))
                        · damping_pm) div 1000

    with ``wstrength`` the node's total outgoing weight — per-EDGE
    integer ops, still exact and engine-replayable.  The unweighted
    graph runs the same recurrence with every distinct edge at
    ``w = 1``: ``wstrength`` is then ``outdeg`` and
    ``(rank · 1) div outdeg`` is the unweighted ``contrib``.  The
    multiply tightens the overflow bound to ``(n + 1) · unit · max(w) <
    2⁶²``, checked at entry (lower ``unit`` for heavy-weight graphs);
    weights < 1 raise.

    Reference scope: the reference engine has no graph operators; this is
    beyond-parity capability (host/document authority scoring for
    web-curation quality weighting, the CommonCrawl host-rank use) with
    semantics pinned by the unrolled-SQL oracles in ``queries.py``
    (``graph_pagerank``, ``graph_pagerank_seeded``).
    """
    if not 0 < damping_pm < 1000:
        raise ValueError("damping_pm must be in (0, 1000), got "
                         f"{damping_pm}")
    if iterations < 0 or iterations > max_iter_guard:
        raise ValueError(f"iterations must be in [0, {max_iter_guard}], "
                         f"got {iterations}")
    if unit < 1000:
        raise ValueError(f"unit must be >= 1000, got {unit}")
    w = F.col(weight_col) if weight_col is not None else F.lit(1)
    e = _edges(edges, F.col(src).cast("long"), F.col(dst).cast("long"),
               w.cast("long").alias("w"))
    # duplicate weighted edges SUM; duplicate unweighted ones collapse
    e = (e.groupBy("u", "v").agg(F.sum("w").alias("w"))
         if weight_col is not None else e.distinct())
    e, wstats = _checkpoint_observed(
        e.repartition("u"), F.min("w").alias("lo"), F.max("w").alias("hi"))
    if wstats["lo"] is not None and wstats["lo"] < 1:
        raise ValueError(
            f"pagerank: edge weights must be >= 1, found {wstats['lo']}")
    w_max = wstats["hi"] or 1
    deg = e.groupBy("u").agg(F.sum("w").alias("outdeg"))
    nodes = _nodes(e)
    # (id, rank, outdeg[, is_seed]) — outdeg (and seed membership) ride
    # with the rank vector so the loop never re-joins them; NULL outdeg
    # marks a dangling node.  Whether any dangling node EXISTS is
    # topology, not rank state — observed once here, so the common
    # all-nodes-emit case (symmetric dup/host graphs) never pays the
    # per-iteration dangling-mass aggregate subtree.
    ranks = (nodes.join(deg, nodes["id"] == deg["u"], "left")
             .select("id", F.lit(unit).cast("long").alias("r"), "outdeg"))
    keep = ["outdeg"]
    probes = [_n(), F.count_if(F.col("outdeg").isNull()).alias("dangling")]
    if seeds is not None:
        sd = seeds.select(F.col(seed_col).cast("long").alias("sid")).distinct()
        ranks = (ranks.join(sd, ranks["id"] == sd["sid"], "left")
                 .select("id", "r", "outdeg",
                         F.col("sid").isNotNull().alias("is_seed")))
        keep.append("is_seed")
        probes.append(F.count_if("is_seed").alias("s"))
    ranks, m = _checkpoint_observed(ranks, *probes)
    n = m["n"]
    if n == 0:
        return ranks.select("id", F.lit(0).cast("long").alias("rank_fp"))
    if (n + 1) * unit * w_max >= 2 ** 62:
        raise ValueError(
            f"(n + 1) * unit * max_weight = {(n + 1) * unit * w_max} "
            "risks 64-bit overflow; pass unit <= "
            f"{2 ** 62 // ((n + 1) * w_max)} for this graph")
    if seeds is None:
        tele, n_share = ((1000 - damping_pm) * unit) // 1000, n
    elif m["s"] == 0:
        raise ValueError(
            "pagerank: no seed id appears in the graph — the "
            "personalized teleport has nowhere to land")
    else:
        tele = ((1000 - damping_pm) * n * unit) // (1000 * m["s"])
        n_share = m["s"]

    def to_seeds(c):
        # personalized mode: teleport and dangling mass land on seeds only
        if seeds is None:
            return c
        return F.when(F.col("is_seed"), c).otherwise(F.lit(0))

    def step(ranks: DataFrame) -> DataFrame:
        # `div` is SQL integer division — never `/`, which promotes to
        # double and loses exactness past 2^53
        rv = (ranks.where(F.col("outdeg").isNotNull())
              .select(F.col("id").alias("cu"), "r",
                      F.col("outdeg").alias("ws")))
        inflow = (e.join(rv, e["u"] == rv["cu"])
                  .select("v", F.expr(
                      f"(((r * w) div ws) * {damping_pm}) div 1000")
                      .alias("c"))
                  .groupBy("v").agg(F.sum("c").alias("inflow")))
        new_r = (to_seeds(F.lit(tele)).cast("long")
                 + F.coalesce(F.col("inflow"), F.lit(0)))
        ranks = ranks.join(inflow, ranks["id"] == inflow["v"], "left")
        if m["dangling"]:
            dang = (ranks.where(F.col("outdeg").isNull())
                    .agg(F.coalesce(F.sum("r"), F.lit(0))
                         .alias("__dang")))
            ranks = ranks.crossJoin(F.broadcast(dang))
            new_r = new_r + to_seeds(F.expr(
                f"((__dang div {n_share}) * {damping_pm}) div 1000"))
        return ranks.select("id", new_r.alias("r"), *keep)

    ranks = _rounds(ranks, step, iterations)
    return ranks.select("id", F.col("r").alias("rank_fp"))


# =====================================================================
# Label propagation (fixed-round synchronous LPA)
# =====================================================================

def label_propagation(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b", rounds: int = 4,
                      max_rounds_guard: int = 64) -> DataFrame:
    """Community detection by synchronous label propagation over an
    undirected simple graph — ``(id, label)``, where after ``rounds``
    synchronous updates each node carries the label that was most
    frequent among its neighbors, ties broken by the SMALLEST label:

        l₀(v)   = v
        l_{t+1}(v) = argmax_{c} |{u ∈ N(v) : l_t(u) = c}|
                     (tie → min c)

    Everything about the update is deterministic and integer-valued,
    so — unlike textbook LPA, whose random update order and random tie
    -breaks give a different clustering every run — this is
    bit-reproducible across engines, runs, and partitionings, and an
    unrolled SQL replay hash-checks it (the pagerank discipline).

    Fixed ``rounds`` is the semantics, not a convergence shortcut:
    synchronous LPA can oscillate forever on bipartite structures (a
    two-cycle of label swaps), so "the converged labeling" does not
    exist in general.  Community practice runs 3-7 sweeps; labels
    after round k reflect k-hop majority structure.  For connectivity
    (where a fixpoint DOES exist) use :func:`connected_components`;
    LPA's value is splitting a connected graph into dense regions.

    Plan per round: join the label vector to the stationary symmetrized
    edge table, ONE map-side-combined ``groupBy(node, label)`` count,
    then the argmax as ``max(struct(count, -label))`` — no window, no
    second shuffle beyond the keyed aggregate pair; lineage truncates
    every other round.  Ids are cast to long (the negation tie-break
    needs a numeric domain).
    """
    if rounds < 0 or rounds > max_rounds_guard:
        raise ValueError(f"rounds must be in [0, {max_rounds_guard}], "
                         f"got {rounds}")
    e = _undirected(pairs, F.col(id_a).cast("long"),
                    F.col(id_b).cast("long"))
    sym = (_symmetric(e, "a", "b").repartition("a")
           .transform(truncate_lineage))
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .select("id", F.col("id").alias("label"))
              .transform(truncate_lineage))

    def step(labels: DataFrame) -> DataFrame:
        nbl = (sym.join(labels.select(F.col("id").alias("b"),
                                      F.col("label").alias("lab")), "b")
               .groupBy("a", "lab")
               .agg(F.count(F.lit(1)).alias("c")))
        return (nbl.groupBy("a")
                .agg(F.max(F.struct(F.col("c"),
                                    (-F.col("lab")).alias("nl")))
                     .alias("m"))
                .select(F.col("a").alias("id"),
                        (-F.col("m.nl")).alias("label")))

    return _rounds(labels, step, rounds)


# =====================================================================
# HITS (hubs & authorities, integer fixed point)
# =====================================================================

def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iterations: int = 4, unit: int = 10 ** 6,
         max_iter_guard: int = 64) -> DataFrame:
    """Kleinberg HITS over a directed edge set, computed — like
    :func:`pagerank` — in EXACT 64-bit fixed-point arithmetic so hub and
    authority scores are bit-identical across engines, runs, and
    partitionings.  Returns ``(id, hub_fp, auth_fp)`` for every node;
    scores are scaled so each iteration's MAXIMUM is exactly ``unit``
    (max-normalization, see below).

    The mutual-reinforcement recurrence, defined over integers:

        a_raw(v) = Σ_{u→v} h(u)                 (authority from hubs)
        a(v)     = (a_raw(v) · unit) div max_v a_raw(v)
        h_raw(u) = Σ_{u→v} a(v)                 (hub from authorities)
        h(u)     = (h_raw(u) · unit) div max_u h_raw(u)

    Textbook HITS normalizes by the L² (or L¹) norm — a square root (or
    a sum whose division can't floor-cancel), neither of which stays in
    exact integers.  Max-normalization preserves the fixed point's
    RANKING and relative structure (normalization constants cancel in
    the power iteration's direction) while keeping every step a BIGINT
    multiply / floor-divide — associative, engine-exact, and therefore
    SQL-replayable, which is what puts HITS in the hash-checked gate
    next to pagerank instead of the rows-only tier.

    Overflow: after each normalization every score is ≤ ``unit``, so
    the next raw sum is ≤ n·unit and the normalization numerator is
    ≤ n·unit² — checked against 2⁶² at entry (at the default
    ``unit = 1e6`` graphs to ~4.6e6 nodes fit; pass a smaller unit
    beyond that, the bound scales as 1/unit²).

    Scale shape: the deduplicated edge set is hash-partitioned and
    checkpointed once, with its size observed on that job.  At or below
    ``_DRIVER_EDGES`` edges it is fetched to the driver and the
    recurrence runs there in numpy int64 (:func:`_hits_driver`).  Above
    it, each iteration is two keyed joins against the edge set with
    map-side-combined sums, each checkpointed with its maximum (the
    normalizer) observed on that same job, so it enters the next plan
    as a literal; the score vector's lineage truncates every other
    round.  Nodes with no in-edges (pure hubs) report ``auth_fp = 0``,
    sinks report ``hub_fp = 0``.

    The curation use: bipartite host→document or supplier→part graphs
    where "good hubs point at good authorities" separates aggregator
    quality from content quality — pagerank's single score conflates
    the two directions.
    """
    if iterations < 0 or iterations > max_iter_guard:
        raise ValueError(f"iterations must be in [0, {max_iter_guard}], "
                         f"got {iterations}")
    if unit < 1000:
        raise ValueError(f"unit must be >= 1000, got {unit}")
    e, n_edges = _dedup_edges(edges, src, dst)
    if n_edges <= _DRIVER_EDGES:
        return _hits_driver(e, iterations, unit)
    state, m = _checkpoint_observed(
        _nodes(e).select("id", F.lit(unit).cast("long").alias("h"),
                         F.lit(unit).cast("long").alias("a")), _n())
    n = m["n"]
    if n == 0:
        return state.select("id",
                            F.lit(0).cast("long").alias("hub_fp"),
                            F.lit(0).cast("long").alias("auth_fp"))
    _hits_guard(n, unit)

    def half(state: DataFrame, frm: str, to: str, x: str,
             y: str) -> DataFrame:
        """``state`` with score ``y`` recomputed from the ``x`` scores
        flowing along the edges ``frm → to``.  The node-sized raw sums
        are checkpointed and their maximum, the normalizer, is observed
        on that job; nodes nothing flows into score 0."""
        raw, mx = _checkpoint_observed(
            e.join(state.select(F.col("id").alias(frm), x), frm)
             .groupBy(F.col(to).alias("__id"))
             .agg(F.sum(x).alias("__raw")),
            F.max("__raw").alias("mx"))
        norm = max(mx["mx"] or 1, 1)
        new = F.coalesce(F.expr(f"(__raw * {unit}) div {norm}"),
                         F.lit(0)).alias(y)
        return (state.join(raw, state["id"] == raw["__id"], "left")
                .select("id", *(new if c == y else c for c in ("h", "a"))))

    state = _rounds(
        state, lambda s: half(half(s, "u", "v", "h", "a"), "v", "u", "a", "h"),
        iterations)
    return state.select("id", F.col("h").alias("hub_fp"),
                        F.col("a").alias("auth_fp"))


def _hits_guard(n: int, unit: int) -> None:
    """Raise when the normalization numerator ``n·unit²`` of an
    ``n``-node graph could overflow int64."""
    if n * unit * unit >= 2 ** 62:
        raise ValueError(
            f"n * unit^2 = {n * unit * unit} risks 64-bit overflow; "
            f"pass unit <= {int((2 ** 62 // n) ** 0.5)} for this graph")


def _hits_driver(e: DataFrame, iterations: int, unit: int) -> DataFrame:
    """:func:`hits` on the driver over the fetched edges ``(u, v)``.
    Sums are int64 scatter-adds (``np.add.at``), never a float64
    ``bincount``: the normalization numerators pass 2⁵³."""
    u, v = _driver_arrays(e)
    ids, fu, fv = _index(u, v)
    n = len(ids)
    if n:
        _hits_guard(n, unit)
    h = np.full(n, unit, np.int64)
    a = h.copy()

    def half(x, frm, to):
        raw = np.zeros(n, np.int64)
        np.add.at(raw, to, x[frm])
        return (raw * unit) // max(int(raw.max(initial=0)), 1)

    for _ in range(iterations):
        a = half(h, fu, fv)
        h = half(a, fv, fu)
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "hub_fp": h, "auth_fp": a}),
        "id long, hub_fp long, auth_fp long")


# =====================================================================
# Multi-source BFS (hop distances from a seed set)
# =====================================================================

def bfs_distances(edges: DataFrame, seeds: DataFrame, src: str = "src",
                  dst: str = "dst", seed_col: str = "id",
                  max_hops: int = 8) -> DataFrame:
    """Unweighted shortest-path hop distance from a SEED SET over a
    directed edge set — ``(id, dist)`` for every node reachable within
    ``max_hops``, ``dist`` = the minimum number of edges from any seed
    (seeds themselves report 0).  Exact integers, so the result
    hash-compares against a recursive-CTE SQL replay bit-for-bit.

    The curation use: "within k hops of a trusted domain" (seed-set
    expansion for web-corpus allowlists) and its dual "within k hops of
    a spam seed" — the reachability companion to the personalized
    :func:`pagerank`, which weights by proximity but never answers
    "how far".

    Algorithm: frontier BFS.  The edge set is deduplicated,
    hash-partitioned on ``src`` and checkpointed once, with its size
    observed on that job.  At or below ``_DRIVER_EDGES`` edges the
    edges and seeds are fetched to the driver and the hops run there
    over a numpy CSR adjacency (:func:`_bfs_driver`).  Above it, each
    hop is one join of the CURRENT FRONTIER (never the visited set)
    against the stationary edge table, an anti-join against the
    visited set, and a distinct — per-hop shuffle volume is
    O(frontier-adjacent edges).  On both paths the loop exits as soon
    as a frontier comes back empty, so bounded-diameter graphs never
    pay for ``max_hops``.

    Unlike the alternating-star CC (round count O(log² n)), BFS rounds
    ARE the graph diameter — that is inherent to computing distances,
    which is why ``max_hops`` is a required bound rather than a
    convergence guard: at 100 TB you ask for the k-hop neighborhood,
    not the transitive closure (use :func:`connected_components` for
    reachability-without-distance).

    Seeds not present in the graph are ignored (the distance field of a
    node the graph has never seen is undefined); an empty intersection
    raises, mirroring :func:`pagerank`'s personalized mode.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e, n_edges = _dedup_edges(edges, src, dst)
    visited = _seed_frame(e, seeds, seed_col, "dist", "bfs_distances")
    if n_edges <= _DRIVER_EDGES:
        return _bfs_driver(e, visited, max_hops)
    frontier = visited.select("id")
    for hop in range(1, max_hops + 1):
        nxt, m = _checkpoint_observed(
            e.join(frontier.withColumnRenamed("id", "u"), "u")
             .select(F.col("v").alias("id")).distinct()
             .join(visited, "id", "left_anti"), _n())
        if m["n"] == 0:
            break
        visited = truncate_lineage(visited.union(
            nxt.select("id", F.lit(hop).cast("long").alias("dist"))))
        frontier = nxt
    return visited


def _bfs_driver(e: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """:func:`bfs_distances` on the driver over the fetched edges
    ``(u, v)`` and the checkpointed seed frame ``seeds``."""
    u, v = _driver_arrays(e)
    ids, fu, fv = _index(u, v)
    order, indptr = _csr(fu, len(ids))
    dist = np.full(len(ids), -1, np.int64)
    f = np.searchsorted(ids, _driver_arrays(seeds.select("id"))[0])
    dist[f] = 0
    for hop in range(1, max_hops + 1):
        nxt = np.unique(fv[_out_edges(order, indptr, f)])
        f = nxt[dist[nxt] < 0]
        if not len(f):
            break
        dist[f] = hop
    hit = dist >= 0
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids[hit], "dist": dist[hit]}),
        "id long, dist long")


def _sssp_driver(e: DataFrame, seeds: DataFrame,
                 max_hops: int) -> DataFrame:
    """:func:`shortest_paths` on the driver over the fetched edges
    ``(u, v, w)`` and the checkpointed seed frame ``seeds``: the same
    frontier rounds, relaxing only the edges that leave the nodes
    improved last round."""
    u, v, w = _driver_arrays(e)
    ids, fu, fv = _index(u, v)
    n = len(ids)
    order, indptr = _csr(fu, n)
    cost = np.zeros(n, np.int64)
    reached = np.zeros(n, bool)
    f = np.searchsorted(ids, _driver_arrays(seeds.select("id"))[0])
    reached[f] = True
    for _ in range(max_hops):
        pos = _out_edges(order, indptr, f)
        to = fv[pos]
        best = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(best, to, cost[fu[pos]] + w[pos])
        cand = np.unique(to)
        f = cand[~reached[cand] | (best[cand] < cost[cand])]
        if not len(f):
            break
        cost[f] = best[f]
        reached[f] = True
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids[reached], "cost": cost[reached]}),
        "id long, cost long")


def shortest_paths(edges: DataFrame, seeds: DataFrame, src: str = "src",
                   dst: str = "dst", weight_col: str = "w",
                   seed_col: str = "id", max_hops: int = 8) -> DataFrame:
    """Hop-bounded single/multi-source WEIGHTED shortest paths —
    ``(id, cost)`` = the minimum total edge weight over any path of at
    most ``max_hops`` edges from the seed set (seeds cost 0; nodes
    unreachable within the bound are absent).  The weighted sibling of
    :func:`bfs_distances`: "how strongly connected to a trusted core",
    not just "how many hops".

    Exactness: integer weights (≥ 0 enforced — a negative weight under
    a HOP bound would reward path padding, which is never the distance
    question), integer adds and mins — bit-identical across engines,
    so the hop-unrolled SQL replay hash-checks it.  Overflow guard:
    ``max_hops · max_w < 2⁶²`` checked at entry.

    Algorithm: label-correcting Bellman–Ford with FRONTIER relaxation
    — each round relaxes only edges leaving nodes whose cost improved
    last round (provably equal to full per-round relaxation: a path
    improves its prefix nodes in hop order, so every useful relaxation
    source is in some round's frontier).  Parallel (u, v) edges
    collapse to their minimum weight up front, in the job that
    checkpoints the edge set and observes its size.  At or below
    ``_DRIVER_EDGES`` edges the rounds run on the driver in numpy
    (:func:`_sssp_driver`).  Above it, each round is one join of the
    frontier against the stationary edge table, one map-side-combined
    ``groupBy(dst).min``, one anti/semi split against the running
    distance vector.  Both paths exit early when a round improves
    nothing.  Round count is ``max_hops`` by definition — the bound IS
    the semantics (see :func:`bfs_distances` on why distance-style
    operators take an explicit bound instead of iterating to a
    diameter-dependent fixpoint).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e, wstats = _checkpoint_observed(
        _edges(edges, F.col(src).cast("long"), F.col(dst).cast("long"),
               F.col(weight_col).cast("long").alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("u", "v").agg(F.min("w").alias("w"))
        .repartition("u"),
        _n(), F.min("w").alias("lo"), F.max("w").alias("hi"))
    w_min, w_max = wstats["lo"] or 0, wstats["hi"] or 0
    if w_min < 0:
        raise ValueError(
            f"shortest_paths: weights must be >= 0, found {w_min}")
    if max_hops * w_max >= 2 ** 62:
        raise ValueError(
            f"max_hops * max_weight = {max_hops * w_max} risks 64-bit "
            "overflow; lower max_hops or rescale weights")
    dist = _seed_frame(e, seeds, seed_col, "cost", "shortest_paths")
    if wstats["n"] <= _DRIVER_EDGES:
        return _sssp_driver(e, dist, max_hops)
    frontier = dist
    for _ in range(max_hops):
        cand = (e.join(frontier.select(F.col("id").alias("u"),
                                       F.col("cost").alias("fc")), "u")
                .groupBy("v")
                .agg(F.min(F.col("fc") + F.col("w")).alias("nc"))
                .select(F.col("v").alias("id"), F.col("nc")))
        improved, m = _checkpoint_observed(
            cand.join(dist, "id", "left")
                .where(F.col("cost").isNull()
                       | (F.col("nc") < F.col("cost")))
                .select("id", F.col("nc").alias("cost")), _n())
        if m["n"] == 0:
            break
        dist = truncate_lineage(
            dist.join(improved.select(F.col("id").alias("iid")),
                      dist["id"] == F.col("iid"), "left_anti")
                .union(improved))
        frontier = improved
    return dist


# =====================================================================
# Incremental connected components (label-store maintenance)
# =====================================================================

def append_components(labels: DataFrame, new_pairs: DataFrame,
                      id_a: str = "id_a", id_b: str = "id_b",
                      max_iter: int = 25,
                      driver_threshold: int = _DRIVER_EDGES) -> DataFrame:
    """Fold a batch of new duplicate pairs into an existing component
    labeling WITHOUT re-running connected components over the corpus.

    ``labels`` is a prior :func:`connected_components` output
    ``(id, component)`` — component = the min id reachable.  Returns the
    same shape for the UNION graph (all pairs ever seen plus
    ``new_pairs``), exactly what a from-scratch recompute over the full
    pair history would produce — pinned by the closure oracle in
    ``queries.py`` and the recompute-equality pytest.

    Why it's exact: contracting each existing component to its label
    preserves connectivity (a path through a component enters and leaves
    through labeled members), so CC over the QUOTIENT graph — new pairs
    with endpoints mapped to their current labels — yields precisely the
    merged components; and since every existing label is its component's
    minimum id and a new node's quotient id is itself, the min over
    merged labels IS the min over all member ids.

    Scale shape (the reason this exists): the quotient edge set is
    bounded by the BATCH size, never the corpus — CC runs over at most
    2·|new_pairs| nodes (the driver union-find fast path in practice).
    The only corpus-wide work is ONE narrow broadcast-join scan of the
    label store to apply the (tiny, batch-bounded) old-label→new-label
    remap; untouched components pass through the join unchanged and
    nothing about the store ever shuffles.  At 100 TB the store lives as
    a parquet table and this is a map-only rewrite — or, with a
    merge-on-read consumer, the remap itself is the delta to publish.
    """
    np_ = (_edges(new_pairs, F.col(id_a), F.col(id_b)).distinct()
           .transform(truncate_lineage))
    store = labels.select(F.col("id").alias("__sid"),
                          F.col("component").alias("__scomp"))
    touched = _nodes(np_)
    # label(x) = stored component, or x itself for a first-seen node
    tl = (touched.join(store, touched["id"] == store["__sid"], "left")
          .select(F.col("id").alias("node"),
                  F.coalesce("__scomp", "id").alias("lab"))
          .transform(truncate_lineage))
    la = tl.select(F.col("node").alias("u"), F.col("lab").alias("la"))
    lb = tl.select(F.col("node").alias("v"), F.col("lab").alias("lb"))
    quotient = (np_.join(la, "u").join(lb, "v")
                .where(F.col("la") != F.col("lb"))
                .select(F.col("la").alias("id_a"),
                        F.col("lb").alias("id_b")))
    # no truncation here: connected_components' output is already
    # materialized (driver union-find frame, or cached star-round
    # legs), so this filter+rename is a free view — a checkpoint would
    # only re-copy batch-bounded rows.  The two broadcast
    # consumers below build from the same subtree (ReusedExchange).
    remap = (connected_components(quotient, max_iter=max_iter,
                                  driver_threshold=driver_threshold)
             .where(F.col("id") != F.col("component"))
             .select(F.col("id").alias("__old"),
                     F.col("component").alias("__new")))
    # corpus-side: one broadcast-join scan relabels merged components
    updated = (store.join(F.broadcast(remap),
                          store["__scomp"] == F.col("__old"), "left")
               .select(F.col("__sid").alias("id"),
                       F.coalesce("__new", "__scomp").alias("component")))
    # batch-side: first-seen nodes enter with their (possibly remapped)
    # quotient label
    fresh = (tl.join(store, tl["node"] == store["__sid"], "left_anti")
             .join(F.broadcast(remap), tl["lab"] == F.col("__old"),
                   "left")
             .select(F.col("node").alias("id"),
                     F.coalesce("__new", "lab").alias("component")))
    return updated.union(fresh)


# =====================================================================
# Triangle counting (degree-oriented wedge join)
# =====================================================================

def triangle_counts(pairs: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    ``(id, n_tri)`` for every node in at least one triangle, exact
    64-bit integers (hash-oracle-able; a triangle {u,v,w} adds 1 to each
    member).

    Algorithm: the standard degree-orientation wedge join (the
    MapReduce/GraphX scheme).  Every edge is oriented from its
    lower-(degree, id) endpoint to the higher one, making the oriented
    out-degree of ANY node ≤ O(√m) amortized — the join below therefore
    never builds the quadratic wedge list a raw adjacency self-join
    would on a celebrity node (the scale cliff in naive triangle
    counting on power-law graphs).  Three steps, all edge-sized
    shuffles: orient (one groupBy for degrees + one broadcast-free
    join), wedge (self-join of the oriented set on the source), close
    (semi-join the wedge's (v, w) endpoints against the oriented set).

    Self-loops and duplicate/reversed pairs are normalized away first;
    ids must be orderable.  Bipartite graphs return empty (no odd
    cycles) — use a co-occurrence projection first, as the
    ``graph_triangles`` registry query does.
    """
    e = _undirected(pairs, id_a, id_b).transform(truncate_lineage)
    deg = _degrees(e).transform(truncate_lineage)
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    # orient low-(deg, id) -> high-(deg, id); the HEAD's degree rides
    # along so the wedge stage never re-joins the degree table
    o = (e.join(da, "a").join(db, "b")
         .select(F.when((F.col("da") < F.col("db"))
                        | ((F.col("da") == F.col("db"))
                           & (F.col("a") < F.col("b"))),
                        F.struct(F.col("a").alias("u"),
                                 F.col("b").alias("v"),
                                 F.col("db").alias("dv")))
                 .otherwise(F.struct(F.col("b").alias("u"),
                                     F.col("a").alias("v"),
                                     F.col("da").alias("dv")))
                 .alias("e"))
         .select("e.u", "e.v", "e.dv")
         .transform(truncate_lineage))
    # canonical wedge order by the carried (deg, id) rank — each
    # unordered out-pair generated once, zero extra joins
    o1 = o.select("u", F.col("v").alias("w1"), F.col("dv").alias("d1"))
    o2 = o.select("u", F.col("v").alias("w2"), F.col("dv").alias("d2"))
    wedges = (o1.join(o2, "u")
              .where((F.col("d1") < F.col("d2"))
                     | ((F.col("d1") == F.col("d2"))
                        & (F.col("w1") < F.col("w2"))))
              .select("u", "w1", "w2"))
    closed = wedges.join(
        o.select(F.col("u").alias("w1"), F.col("v").alias("w2")),
        ["w1", "w2"], "left_semi")
    # one explode, not a 3-way union — a union would re-plan the wedge
    # join once per branch (measured: 13 -> 5 static exchanges)
    members = closed.select(
        F.explode(F.array("u", "w1", "w2")).alias("id"))
    return members.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))


def cooccurrence_pairs(df: DataFrame, group_col: str, item_col: str,
                       min_count: int = 1,
                       max_group_size: int | None = 10_000) -> DataFrame:
    """Bipartite projection: ``(id_a, id_b, n_groups)`` — how many
    groups contain BOTH items (``id_a < id_b``), exact integers.  The
    graph constructor everything above consumes: parts co-purchased per
    order, terms co-occurring per document, hosts co-linked per page —
    project the (group, item) incidence once, then feed the weighted
    pair set to pagerank/triangles/components.  (The registry's
    co-purchase queries inline this join; new pipelines should call
    this.)

    Plan: ONE groupBy shuffle to collect each group's distinct item
    set, then the in-array pair expansion (the ``_bucket_pairs``
    shape from dedup) into a map-side-combined pair count — no
    self-join, so the incidence table is shuffled once, not twice.

    The scale honesty (same cliff as :func:`common_neighbor_counts`):
    a group with d items emits d·(d−1)/2 pairs.  ``max_group_size``
    caps it — larger groups are EXCLUDED from projection (an order
    containing every part co-purchases nothing meaningful; a document
    containing every term is boilerplate) and the exclusion count is
    WARNED eagerly, never silent.  ``None`` disables the cap for
    known-bounded group keys."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    inc = (df.select(F.col(group_col).alias("g"),
                     F.col(item_col).alias("it"))
           .where(F.col("g").isNotNull() & F.col("it").isNotNull())
           .distinct())
    if max_group_size is not None:
        # Cap BEFORE collect_set: the count aggregate is a scalar per
        # group, so a degenerate 10M-item group is dropped without any
        # task ever materializing its member array (capping after the
        # collect would bound the pair explosion but not the collect's
        # memory).  inc is checkpointed (not persist()ed — an explicit
        # cache entry has no safe unpersist point on a lazy return value
        # and would accumulate across calls in a long-lived session)
        # so the size pass and the collect pass share the
        # dedup shuffle.  localCheckpoint blocks are freed when the plan
        # is garbage-collected; reliable-checkpoint FILES are only
        # cleaned when spark.cleaner.referenceTracking.cleanCheckpoints
        # is on (set by session.get_spark — see truncate_lineage).
        inc = truncate_lineage(inc)
        big = (inc.groupBy("g").agg(F.count(F.lit(1)).alias("__n"))
               .where(F.col("__n") > max_group_size))
        n_big = big.count()
        if n_big:
            import warnings
            warnings.warn(
                f"cooccurrence_pairs: {n_big} group(s) larger than "
                f"{max_group_size} items excluded from projection — "
                "their co-occurrences are not counted", stacklevel=2)
            inc = inc.join(big.select("g"), "g", "left_anti")
    groups = (inc.groupBy("g")
              .agg(F.collect_set("it").alias("items"))
              .where(F.size("items") > 1))
    pairs = (groups.select(F.explode("items").alias("id_a"),
                           F.col("items"))
             .select("id_a",
                     F.explode(F.filter(
                         "items",
                         lambda x: x > F.col("id_a"))).alias("id_b")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_groups"))
            .where(F.col("n_groups") >= min_count))


def common_neighbor_counts(pairs: DataFrame, id_a: str = "id_a",
                           id_b: str = "id_b", min_common: int = 2,
                           max_center_degree: int | None = None) -> DataFrame:
    """Link prediction / graph-similarity primitive over an undirected
    simple graph: ``(id_a, id_b, n_common, deg_a, deg_b)`` for every
    node pair (adjacent or not, ``id_a < id_b``) sharing at least
    ``min_common`` neighbors — exact 64-bit integers, hash-oracle-able.
    The classic scores derive without further graph work: common-
    neighbors IS ``n_common``, Jaccard = ``n_common /
    (deg_a + deg_b - n_common)``, preferential attachment =
    ``deg_a * deg_b`` — all divisions left to the caller so the surface
    stays exact (the TVD discipline).  The curation use: "documents
    co-cited with ≥ k shared sources" / "hosts sharing ≥ k outlink
    targets" — near-dup evidence the content hashes can't see.

    Plan: normalize to canonical undirected edges, symmetrize, compute
    degrees, then ONE self-join of the adjacency on the CENTER node
    (each shared neighbor generates the pair once under the
    ``nbr_a < nbr_b`` canonical order) into a map-side-combined
    ``groupBy(pair)`` count, then two broadcast-friendly degree joins.

    The scale honesty: pair volume through a center of degree d is
    d·(d−1)/2 — inherently quadratic in hub degree, the same cliff
    every common-neighbor system faces.  ``max_center_degree`` caps it:
    centers above the cap are EXCLUDED from pair generation (their
    pairs lose those paths; ``n_common`` is then a lower bound exactly
    like a capped inverted index) and the number of dropped centers is
    counted eagerly and WARNED — no silent cap, mirroring
    ``jaccard_pairs(max_df=)``.  Degrees are always reported from the
    FULL graph, cap or not."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    e = _undirected(pairs, id_a, id_b).transform(truncate_lineage)
    sym = _symmetric(e, "a", "b")
    adj = sym
    if max_center_degree is None:
        deg = _degrees(e).transform(truncate_lineage)
    else:
        deg, m = _checkpoint_observed(
            _degrees(e),
            F.count_if(F.col("d") > max_center_degree).alias("n"))
        n_dropped = m["n"]
        if n_dropped:
            import warnings
            warnings.warn(
                f"common_neighbor_counts: {n_dropped} hub node(s) with "
                f"degree > {max_center_degree} excluded from pair "
                "generation; n_common through those hubs is undercounted "
                "(degrees remain exact)", stacklevel=2)
        adj = sym.join(deg.where(F.col("d") <= max_center_degree)
                       .select(F.col("id").alias("a")), "a", "left_semi")
    n1 = adj.select(F.col("a").alias("c"), F.col("b").alias("na"))
    n2 = adj.select(F.col("a").alias("c"), F.col("b").alias("nb"))
    pairs_cn = (n1.join(n2, "c")
                .where(F.col("na") < F.col("nb"))
                .groupBy("na", "nb")
                .agg(F.count(F.lit(1)).alias("n_common"))
                .where(F.col("n_common") >= min_common))
    da = deg.select(F.col("id").alias("na"), F.col("d").alias("deg_a"))
    db_ = deg.select(F.col("id").alias("nb"), F.col("d").alias("deg_b"))
    return (pairs_cn.join(da, "na").join(db_, "nb")
            .select(F.col("na").alias("id_a"), F.col("nb").alias("id_b"),
                    "n_common", "deg_a", "deg_b"))


def core_numbers(pairs: DataFrame, id_a: str = "id_a",
                 id_b: str = "id_b", max_rounds: int = 64) -> DataFrame:
    """k-core decomposition of an undirected simple graph —
    ``(id, core)`` for every node, ``core`` = the largest k such that
    the node survives iterated removal of all nodes with degree < k.
    Exact integers; the density ladder community/spam screening reads
    ("in the 8-core" is a much stronger cohesion certificate than
    degree 8, which one spam burst manufactures).

    Algorithm: **H-index iteration** (Lü, Zhou, Zhang & Stanley,
    Nature Communications 2016) instead of sequential peeling —
    peeling removes one degree-class at a time and is inherently
    serial, while the H-operator

        c₀(v)    = degree(v)
        c_{t+1}(v) = H({c_t(u) : u ∈ N(v)})
                     (H = h-index: max h with ≥ h neighbors ≥ h)

    is a per-node map that PROVABLY converges, monotonically from
    above, to the coreness — so every round is one parallel Spark job:
    join the value vector to the stationary symmetrized edge table,
    collect each node's neighbor values sorted descending, and the
    h-index is the codegen'd ``size(filter(vs, (x, i) -> x >= i+1))``
    (prefix-monotone on a descending sort).  Fixpoint is detected by
    comparing ``Σ c`` between rounds: the same monotonicity that
    proves convergence (c_{t+1} ≤ c_t POINTWISE, from the degree
    start) makes sum equality ⟺ pointwise equality — an exact test,
    not a hash — so the round needs NO old-vs-new join and no second
    value column; the scalar is observed on the round's checkpoint
    job, so a round is one job.  Lineage truncates per round.

    Round count is data-dependent: dense social/co-occurrence graphs
    converge in ~10 rounds, while a PATH graph needs O(n) (each end's
    '1' walks inward one hop per round) — same honesty note as
    :func:`bfs_distances` vs CC.  ``max_rounds`` therefore raises
    rather than returning an unconverged labeling (the
    ``connected_components`` valve); for deep-chain topologies use
    peeling offline or raise the valve deliberately.

    Memory: the per-node collect is bounded by the max degree (a few
    MB at 10⁶ neighbors); beyond that, cap hubs upstream — their
    coreness is almost never the question.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    sym = (_symmetric(_undirected(pairs, id_a, id_b), "a", "b")
           .repartition("a").transform(truncate_lineage))

    def checkpoint(df: DataFrame):
        # Σ c rides each checkpoint job.  Σ degree = 2m, exact in int64
        # for any m < 2^62 (the coreness sums are smaller still:
        # c ≤ degree).  Sum equality ⟺ pointwise fixpoint (monotone
        # non-increasing sequence): no old-vs-new join and no second
        # value column.
        return _checkpoint_observed(
            df, F.coalesce(F.sum("c"), F.lit(0)).alias("s"))

    vals, sig = checkpoint(
        sym.groupBy("a").agg(F.count(F.lit(1)).alias("c"))
           .select(F.col("a").alias("id"), F.col("c").cast("long")
                   .alias("c")))

    def step(vals: DataFrame) -> DataFrame:
        return (sym.join(vals.select(F.col("id").alias("b"),
                                     F.col("c").alias("nc")), "b")
                .groupBy("a")
                .agg(F.sort_array(F.collect_list("nc"), asc=False)
                     .alias("vs"))
                .select(F.col("a").alias("id"),
                        F.expr("cast(size(filter(vs, (x, i) -> "
                               "x >= i + 1)) as long)").alias("c")))

    vals = _fixpoint(vals, sig, step, checkpoint, max_rounds,
                     "core_numbers", "deep-chain topology; raise "
                     "max_rounds deliberately or peel offline")
    return vals.select("id", F.col("c").alias("core"))


def degree_moments(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Degree-assortativity moments of an undirected simple graph — ONE
    exact-integer row ``(n_nodes, m_edges, s_jk, s_sum, s_sq)`` where,
    over the canonical edge set with endpoint degrees (j, k):

        s_jk  = Σ j·k        s_sum = Σ (j + k)       s_sq = Σ (j² + k²)

    Newman's degree assortativity is then the caller-side division

        r = (4·m·s_jk − s_sum²) / (2·m·s_sq − s_sum²)

    — every term a 64-bit integer, so the surface hash-compares across
    engines while r itself (a float) stays out of it (the TVD
    discipline).  Positive r: hubs link hubs (social shape); negative:
    hubs link leaves (web/biology shape) — a one-row screen for
    whether a candidate-pair graph is hub-dominated before the
    quadratic-sensitive operators run.

    Plan: degrees (one groupBy over the symmetrized edge list), two
    broadcast-friendly joins back to the edges, one global aggregate.
    Overflow: s_sq sums squares of degrees — bounded by m·max_deg²;
    max_deg² < 2⁶²/m holds for any graph with max_deg ≤ ~2e6 at a
    billion edges, checked cheaply via the degree aggregate."""
    e, m_obs = _checkpoint_observed(_undirected(pairs, id_a, id_b), _n())
    deg, stats = _checkpoint_observed(_degrees(e), _n(),
                                      F.max("d").alias("mx"))
    n_nodes, max_d, m = stats["n"], stats["mx"] or 0, m_obs["n"]
    if m > 0 and m * max_d * max_d >= 2 ** 62:
        raise ValueError(
            f"degree_moments: m * max_deg^2 = {m * max_d * max_d} "
            "risks 64-bit overflow on s_sq")
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("j"))
    db_ = deg.select(F.col("id").alias("b"), F.col("d").alias("k"))
    mom = (e.join(da, "a").join(db_, "b")
           .agg(F.coalesce(F.sum(F.col("j") * F.col("k")), F.lit(0))
                .alias("s_jk"),
                F.coalesce(F.sum(F.col("j") + F.col("k")), F.lit(0))
                .alias("s_sum"),
                F.coalesce(F.sum(F.col("j") * F.col("j")
                                 + F.col("k") * F.col("k")), F.lit(0))
                .alias("s_sq")))
    return mom.select(F.lit(n_nodes).cast("long").alias("n_nodes"),
                      F.lit(m).cast("long").alias("m_edges"),
                      F.col("s_jk").cast("long").alias("s_jk"),
                      F.col("s_sum").cast("long").alias("s_sum"),
                      F.col("s_sq").cast("long").alias("s_sq"))


def clustering_coefficients(pairs: DataFrame, id_a: str = "id_a",
                            id_b: str = "id_b") -> DataFrame:
    """Local clustering coefficient inputs per node —
    ``(id, n_tri, n_wedges)`` for every node of degree ≥ 2, where
    ``n_wedges = deg·(deg−1)/2`` and the coefficient is
    ``n_tri / n_wedges`` — left as a division so the surface stays
    exact integers (the TVD discipline), hash-replayable in SQL.
    Community-density / spam-cluster screening on top of
    :func:`triangle_counts`: one extra degree aggregate and a left
    join of the (sparse) triangle table onto it; nodes in no triangle
    report ``n_tri = 0``.  The pair set is checkpointed ONCE so the
    degree and triangle branches don't each re-run the (possibly
    expensive) candidate-generation subtree."""
    pairs = pairs.transform(truncate_lineage)
    deg = _degrees(_undirected(pairs, id_a, id_b)).where(F.col("d") >= 2)
    tri = triangle_counts(pairs, id_a, id_b)
    return (deg.join(tri, "id", "left")
            .select("id",
                    F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
                    (F.col("d") * (F.col("d") - 1) / 2)
                    .cast("long").alias("n_wedges")))
