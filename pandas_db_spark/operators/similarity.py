"""Similarity search over an embedding column (``array<float>``).

Three operators, each a different point on the recall/cost curve:

* :func:`ann_topk_brute` — exact top-k: broadcast the (small) query set,
  one linear scan with per-partition partial top-k in vectorized numpy,
  then a tiny keyed shuffle to merge.  This is the 100 TB *baseline*: the
  data is never shuffled, only ~(#queries × k) rows per partition move.
* :func:`cosine_pairs_lsh` — all-pairs near-duplicate detection via
  sign-random-projection LSH: signature bits from a seeded hyperplane
  matrix, banded like MinHash, candidates verified with an exact
  JVM-side cosine (zip_with + sequential aggregate → bit-deterministic).
  Never a cross join; buckets are band-keyed.
* :func:`ivf_topk` — IVF-style approximate top-k: coarse centroids from a
  one-iteration Lloyd pass on a deterministic sample, vectors partitioned
  by nearest centroid, queries probe the ``nprobe`` nearest lists only.
  The scale path when even one full scan per query batch is too much.

The reference has no vector surface at all; this is the beyond-parity
mandate over the ``embeddings`` table (vec_id, embedding float[64], label).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_db_spark.session import tiny_df
from pandas_db_spark.streaming.sink import (compact, dedup_rewrite,
                                            recover_staged,
                                            staged_overwrite)

# Bump whenever quantizer-fit / index-layout code changes so callers that
# cache built indexes on disk (queries.ann_ivfpq_recall's tmp-dir memo)
# rebuild instead of serving geometry from a prior code vintage.
# v2: r11 — build_ivfpq_index's residual-codebook sample switched from the
# lowest-id prefix to the _fit_sample hash-order discipline (VERDICT r10 #1).
INDEX_VERSION = 2


# ---------------------------------------------------------------------------
# exact cosine, JVM-side (for verification joins)
# ---------------------------------------------------------------------------


def _dot(a, b) -> F.Column:
    """Sequential-fold double dot product — same associativity as the
    oracle's list_reduce, so results are bit-identical."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine_sim(a, b) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


# ---------------------------------------------------------------------------
# memoized corpus counts (geometry auto-sizing)
# ---------------------------------------------------------------------------

# The auto-geometry paths need |corpus| at construction.  A raw count()
# re-runs the upstream plan every call — counter to the lazy-construction
# discipline — so counts are memoized by the plan's semanticHash (the same
# key discipline as `cache._plan_key` / the reference's fetchall memo):
# repeated LSH construction over the same registered table costs zero jobs
# after the first.  Callers with a cheaper source of n (catalog stats, a
# prior count) pass it via the `n=` hint and skip the count entirely.
#
# Staleness contract: semanticHash keys the PLAN (for file sources, the
# path), not the file listing — in a long-lived session over a GROWING
# parquet dataset the memoized n lags reality and the geometry under-sizes.
# The order of magnitude is what matters to the geometry (2x error moves
# rows by ~1 bit), the ingest growth guard catches sustained drift, and a
# long-lived caller can `_COUNT_CACHE.clear()` or pass `n=` per call.
from pandas_db_spark.cache import Cache as _Cache

_COUNT_CACHE = _Cache(max_item_size=1, max_dict_size=8)


def _corpus_count(df: DataFrame) -> int:
    try:
        key = ("similarity_n", df.semanticHash())
    except Exception:
        return df.count()  # unkeyable plan → no memo (never a stale hit)
    return _COUNT_CACHE.memo(key, df.count)


# ---------------------------------------------------------------------------
# brute-force exact top-k (baseline)
# ---------------------------------------------------------------------------


def ann_topk_brute(emb: DataFrame, query_ids: Iterable[int], k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k for the given query ids.

    Plan shape: collect the query vectors (tiny) → broadcast inside a
    mapInPandas closure → each partition emits its local top-k per query
    (vectorized numpy matmul in float64) → global top-k via one keyed
    window over ≤ (#partitions × #queries × k) rows.  Output is integer-only
    (query_id, rank, neighbor_id) so the result hashes identically across
    engines regardless of float formatting."""
    qids = sorted(set(int(q) for q in query_ids))
    qrows = (emb.filter(F.col(id_col).isin(qids))
                .select(id_col, vec_col).collect())
    if not qrows:
        spark = emb.sparkSession
        return tiny_df(
            spark, [], "query_id long, rank int, neighbor_id long")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, sim double"

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ q_norm.T  # (batch, nq)
            for qi, qid in enumerate(q_ids):
                s = sims[:, qi]
                mask = ids != qid  # exclude self
                cand_ids, cand_s = ids[mask], s[mask]
                if len(cand_ids) > k:
                    part = np.argpartition(-cand_s, k)[:k]
                    cand_ids, cand_s = cand_ids[part], cand_s[part]
                yield_df = pd.DataFrame({
                    "query_id": np.full(len(cand_ids), qid, dtype=np.int64),
                    "neighbor_id": cand_ids,
                    "sim": cand_s,
                })
                yield yield_df

    partial = emb.select(id_col, vec_col).mapInPandas(local_topk, out_schema)
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (partial.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") <= k)
                   .select("query_id", F.col("rank").cast("int").alias("rank"),
                           "neighbor_id"))


# ---------------------------------------------------------------------------
# sign-LSH near-duplicate pairs
# ---------------------------------------------------------------------------


def _sign_bands(emb: DataFrame, id_col: str, vec_col: str, dim: int,
                bands: int, rows: int, seed: int) -> DataFrame:
    """(id, band, bh) — band keys from sign-random-projection bits.

    The hyperplane matrix is seeded → deterministic across runs and
    executors.  Bits are computed in numpy (vectorized, Arrow-batched); the
    matrix rides in the closure (d × bands·rows doubles — a few KB)."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((dim, bands * rows))

    def signer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (mat @ planes) > 0  # (n, bands*rows)
            # pack each band's `rows` bits into one small int key
            weights = (1 << np.arange(rows))
            out_ids, out_band, out_bh = [], [], []
            for b in range(bands):
                chunk = bits[:, b * rows:(b + 1) * rows]
                key = (chunk * weights).sum(axis=1)
                out_ids.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int64))
                out_bh.append(key.astype(np.int64))
            yield pd.DataFrame({
                "id": np.concatenate(out_ids),
                "band": np.concatenate(out_band),
                "bh": np.concatenate(out_bh),
            })

    return (emb.select(id_col, vec_col)
               .mapInPandas(signer, "id long, band long, bh long"))


def auto_sign_geometry(n: int, threshold: float,
                       miss_target: float = 1e-6,
                       cand_per_vec: float = 10.0) -> tuple[int, int]:
    """Density-adaptive ``(bands, rows)`` for sign-LSH at corpus size
    ``n``: the smallest ``rows`` whose EXPECTED random-pair candidate
    volume (≈ C(n,2) · bands / 2^rows for decorrelated vectors) stays
    under ``cand_per_vec · n``, with ``bands`` sized so a true pair at
    ``cosine == threshold`` is missed with probability ≤ ``miss_target``
    (per-hyperplane agreement p = 1 − arccos(threshold)/π; miss =
    (1 − p^rows)^bands).

    This is the fix for the r8 scaling finding that FIXED 16-bit bands
    go quadratic in candidates as density rises (4k candidates at
    n=2000 → 398k at n=20000, ~n²·bands/2^rows): candidate volume is a
    LINEAR budget here, paid for with more (longer) bands — hashing
    cost grows O(n · bands · rows) while verify work stays O(n).
    Examples at threshold 0.95: n=2e3 → (69, 16); n=2e4 → (110, 20);
    n=1e9 → (632, 36)."""
    import math
    if n < 2:
        return 1, 16
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    # threshold=1.0 (exact-duplicate calls) gives p=1.0 → log(1-p^r) is
    # log(0); clamp just below 1 so the loop degrades to b=1 bands of the
    # candidate-budget-sized row count instead of a math domain error.
    p = min(p, 1.0 - 1e-12)
    for r in range(16, 62):
        b = max(1, math.ceil(math.log(miss_target)
                             / math.log(1.0 - p ** r)))
        exp_rand = (n * (n - 1) / 2) * b * (0.5 ** r)
        if exp_rand <= cand_per_vec * n:
            return b, r
    return 4096, 61


def cosine_pairs_lsh(emb: DataFrame, threshold: float = 0.95,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int = 64, bands="auto", rows="auto",
                     seed: int = 42, n: int | None = None,
                     keyed: DataFrame | None = None) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via sign-LSH
    banding + exact verification.  Precision is exact (every candidate is
    re-scored with the deterministic JVM cosine); recall follows the LSH
    S-curve, held at miss ≤ 1e-6 per true pair by the band sizing.

    ``bands``/``rows`` default to ``"auto"`` (r8): one cheap ``count()``
    sizes the geometry to the corpus via :func:`auto_sign_geometry`, so
    candidate volume stays ~linear in n instead of ~quadratic — the
    fixed (64, 16) default measured 99× candidate growth for a 10×
    corpus step.  Pass explicit ints to pin a geometry (the pre-r8
    behavior); both must then be given.

    Scope of the auto sizing: it budgets the RANDOM-pair collision mass
    (sim ≈ 0), which is what explodes quadratically on decorrelated
    corpora.  Pairs at moderate similarity (0.5-0.9 — tight embedding
    clusters) sit high on the S-curve and still collide at any
    practical geometry; when a corpus is mostly such clusters, route
    dedup through IVF-style partitioning (:func:`ivf_topk` /
    :func:`build_ivf_index`) instead of flat banding — measured at the
    sf1 rehearsal, the auto geometry cut candidates 398k → 263k at
    n=20k with the remainder being exactly that cluster mass.

    The auto sizing needs |corpus|: pass it via ``n`` when known (catalog
    stats, a prior count) — otherwise ONE ``count()`` runs at
    construction, memoized by the plan's semanticHash so repeated calls
    over the same frame cost zero extra jobs.  Cache expensive derived
    inputs before calling, or supply ``n``.

    ``keyed`` (r10): pass a precomputed ``(id, band, bh)`` frame — a
    :func:`signlsh_store` output over ``emb``, whose construction pins
    the geometry — to skip the sign pass here.  The dedup-ingest loop
    computes the batch's keys ONCE and shares them between in-batch
    pair generation, the store probe and the store append (one Arrow
    matmul pass per micro-batch instead of three)."""
    from pandas_db_spark.operators.dedup import _bucket_pairs
    if keyed is None:
        if bands == "auto" or rows == "auto":
            if not (bands == "auto" and rows == "auto"):
                raise ValueError("cosine_pairs_lsh: bands and rows must "
                                 "both be 'auto' or both explicit ints")
            bands, rows = auto_sign_geometry(
                n if n is not None else _corpus_count(emb), threshold)
        keyed = _sign_bands(emb, id_col, vec_col, dim, bands, rows, seed)
    # groupBy-bucket + in-bucket expansion: the sign-projection plan runs
    # once and shuffles once (a self-join would execute it per side).
    cand = _bucket_pairs(keyed, ["band", "bh"], "id")
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    return (joined.select("id_a", "id_b",
                          cosine_sim(F.col("va"), F.col("vb")).alias("sim"))
                  .filter(F.col("sim") >= threshold)
                  .select("id_a", "id_b"))


def signlsh_store(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", dim: int = 64,
                  bands: int = 64, rows: int = 16,
                  seed: int = 42) -> DataFrame:
    """(id, band, bh) sign-LSH band keys of a corpus — the compact
    persistable state for INCREMENTAL embedding dedup (bands longs per
    vector; the embedding sibling of ``dedup.minhash_store``).  Write
    with ``write_parquet`` and reload across ingest batches.

    The store PINS its geometry: ``bands``/``rows``/``seed`` used here
    must be passed verbatim to :func:`cosine_incremental` (band keys
    from different hyperplane sets never match) — record them next to
    the store.  Size ``bands``/``rows`` for the corpus you expect via
    :func:`auto_sign_geometry`."""
    return _sign_bands(emb, id_col, vec_col, dim, bands, rows, seed)


def reband_store(spark, store_dir: str, threshold: float = 0.95,
                 bands="auto", rows="auto", id_col: str = "vec_id",
                 vec_col: str = "embedding", dim: int = 64,
                 seed: int = 42,
                 expected_corpus: int | None = None) -> tuple[int, int]:
    """Migrate a persisted embedding-dedup store
    (``store_dir/{meta,keys,vecs}`` — the :func:`signlsh_store` /
    ``streaming.ingest`` embedding layout) to a NEW band geometry:
    recompute every band key from the persisted VECTORS — one scan, no
    pairs — swap the ``/keys`` table in place, and re-pin ``/meta``.

    This is the escape hatch for the pinned-geometry scaling cliff: a
    store sized for ``expected_corpus`` N goes ~quadratic in candidate
    probes once the real corpus outgrows N (candidates ≈
    n²·bands/2^rows), and band keys from different geometries never
    match, so growing the pin REQUIRES re-keying.  ``bands``/``rows``
    default to ``"auto"``: sized by :func:`auto_sign_geometry` for
    ``expected_corpus`` (pass the corpus size you now expect at steady
    state; defaults to the CURRENT ``/vecs`` count — i.e. "fit what I
    already have", so pass headroom explicitly).

    Offline maintenance contract: run between ingest runs, not under a
    live stream.  Every rewrite is staged (the previous copy survives a
    crash in a ``.__stage_old`` sibling and
    ``streaming.sink.recover_staged`` rolls it back — invoked here on
    entry, so re-running after any crash completes the migration); meta
    is re-pinned only AFTER the keys land, and a crash between the two
    leaves keys/meta mismatched — re-run to completion, the operation is
    idempotent.  Returns the new
    ``(bands, rows)``."""
    for sub in ("/vecs", "/keys", "/meta"):
        recover_staged(spark, store_dir + sub)
    vecs = spark.read.parquet(store_dir + "/vecs")
    if bands == "auto" or rows == "auto":
        if not (bands == "auto" and rows == "auto"):
            raise ValueError("reband_store: bands and rows must both be "
                             "'auto' or both explicit ints")
        n = expected_corpus if expected_corpus is not None \
            else vecs.select(id_col).distinct().count()
        bands, rows = auto_sign_geometry(n, threshold)
        if expected_corpus is None:
            # the pin must record the density the geometry was SIZED for
            # — a NULL pin would make the ingest growth guard fall back
            # to its own (typically much larger) default and never warn
            expected_corpus = n
    keys = _sign_bands(vecs, id_col, vec_col, dim, bands, rows, seed)
    part = ()
    if "batch_id" in vecs.columns:
        # preserve the ingest's batch partitioning so later replayed /
        # new batches keep their idempotent per-partition overwrites
        keys = keys.join(
            vecs.select(F.col(id_col).alias("id"), "batch_id"), "id")
        part = ("batch_id",)
    staged_overwrite(keys, store_dir + "/keys", part, n_files=8)
    meta = [(int(bands), int(rows),
             int(expected_corpus) if expected_corpus is not None else None)]
    # staged as well: a plain overwrite that crashes mid-write leaves an
    # EMPTY meta, which a later ingest would mistake for "first batch
    # ever" and re-pin a geometry that no longer matches the keys
    staged_overwrite(
        tiny_df(spark, meta,
                "bands long, rows long, expected_corpus long"),
        store_dir + "/meta", n_files=1)
    return int(bands), int(rows)


def compact_signlsh_store(spark, store_dir: str, id_col: str = "vec_id",
                          n_files: int = 8) -> None:
    """Offline compaction for an embedding-dedup store: drop the
    duplicate ``/keys`` and ``/vecs`` rows that at-least-once appends
    accumulate across replays, and coalesce thousands of micro-batch
    small files into ``n_files`` per table.  Batch-partitioned stores
    keep their layout with history collapsed into a ``batch_id = -1``
    sentinel partition (never a real micro-batch id, so later dynamic
    per-batch overwrites cannot touch the compacted rows); unpartitioned
    stores stay unpartitioned.  Same offline contract and staged-swap
    crash safety as :func:`reband_store`."""
    dedup_rewrite(spark, store_dir + "/keys", ["id", "band", "bh"], n_files)
    dedup_rewrite(spark, store_dir + "/vecs", [id_col], n_files)


def cosine_incremental(new_emb: DataFrame, store_emb: DataFrame,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       threshold: float = 0.95, dim: int = 64,
                       bands="auto", rows="auto", seed: int = 42,
                       store_keys: DataFrame | None = None,
                       n: int | None = None,
                       new_keys: DataFrame | None = None) -> DataFrame:
    """IDs of ``new_emb`` that are NOT near-duplicates (exact-verified
    cosine ≥ threshold) of any vector in the existing corpus — the
    rolling-ingest form of :func:`cosine_pairs_lsh` and the embedding
    sibling of ``dedup.minhash_incremental`` (today's batch vs
    yesterday's corpus; in-batch dedup is a separate
    :func:`cosine_pairs_lsh` + keep policy, composed by the caller).

    Scale shape: batch band keys hash-join the store keys on
    (band, bh) — pass the reloaded :func:`signlsh_store` output as
    ``store_keys`` (with ITS explicit bands/rows) and the store's
    VECTORS are touched only for candidates (left-semi probe before the
    exact verify); a 100 TB store is probed, not scanned.  Every drop
    is exact-verified, so precision is exact; recall follows the band
    S-curve (≤ 1e-6 miss under the auto geometry).

    ``bands``/``rows`` default to auto-sizing over |store| + |batch|
    (two count jobs, memoized by plan semanticHash; or pass the total
    via ``n`` to skip them) — only valid when this call computes the
    store keys itself; with a prebuilt ``store_keys`` the store's
    pinned geometry must be passed explicitly.

    ``new_keys`` (r10): precomputed batch band keys (``(id, band,
    bh)``, same pinned geometry as the store) — the ingest loop shares
    one key frame across its three consumers instead of re-running the
    sign pass; rows should cover exactly ``new_emb``'s ids (extra ids
    only waste store-probe work — dup verdicts for ids outside
    ``new_emb`` fall out of the final left-anti join)."""
    from pandas_db_spark.operators.dedup import _ensure_parallelism

    if bands == "auto" or rows == "auto":
        if not (bands == "auto" and rows == "auto"):
            raise ValueError("cosine_incremental: bands and rows must "
                             "both be 'auto' or both explicit")
        if store_keys is not None or new_keys is not None:
            raise ValueError(
                "cosine_incremental: a prebuilt store_keys/new_keys "
                "frame pins its geometry — pass the explicit bands/rows")
        bands, rows = auto_sign_geometry(
            n if n is not None
            else _corpus_count(store_emb) + _corpus_count(new_emb),
            threshold)
    if new_keys is None:
        new_keys = _sign_bands(_ensure_parallelism(new_emb), id_col,
                               vec_col, dim, bands, rows, seed)
    new_keys = new_keys.withColumnRenamed("id", "id_a")
    if store_keys is None:
        store_keys = _sign_bands(store_emb, id_col, vec_col, dim, bands,
                                 rows, seed)
    sk = store_keys.withColumnRenamed("id", "id_b")
    # BROADCAST the batch side (r10, per VERDICT r9 #4): new_emb is a
    # bounded micro-batch (batch_size × bands key rows — ~10 MB at 5k
    # docs), the store side is the unbounded corpus.  A plain equi-join
    # shuffles |store| × bands key rows EVERY batch (the measured top
    # term of the 22 s/batch embedding ingest); broadcasting the batch
    # keys streams the store keys map-side with no Exchange, which is
    # also the only shape that survives a 100 TB store.
    cand = (F.broadcast(new_keys).join(sk, ["band", "bh"])
            .select("id_a", "id_b").distinct())
    probe_ids = cand.select(F.col("id_b").alias(id_col)).distinct()
    store_vec = (store_emb.join(F.broadcast(probe_ids), id_col,
                                "left_semi")
                 .select(F.col(id_col).alias("id_b"),
                         F.col(vec_col).alias("vb")))
    new_vec = new_emb.select(F.col(id_col).alias("id_a"),
                             F.col(vec_col).alias("va"))
    dup_a = (cand.join(new_vec, "id_a").join(store_vec, "id_b")
             .where(cosine_sim(F.col("va"), F.col("vb")) >= threshold)
             .select(F.col("id_a").alias(id_col)).distinct())
    return new_emb.select(id_col).join(dup_a, id_col, "left_anti")


# ---------------------------------------------------------------------------
# IVF-routed near-duplicate pairs (cluster-heavy corpora)
# ---------------------------------------------------------------------------


def _assign_lists_multi(emb: DataFrame, cent: np.ndarray, nprobe: int,
                        id_col: str, vec_col: str) -> DataFrame:
    """(id, list_id) with each vector assigned to its ``nprobe`` NEAREST
    coarse lists — the multi-probe variant of :func:`_assign_lists`
    (same narrow Arrow-batched numpy pass, nprobe rows out per vector).
    Stable argsort → deterministic under centroid-similarity ties."""

    def assigner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vs = np.array(list(pdf[vec_col]), dtype=np.float64)
            vs = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            top = np.argsort(-(vs @ cent.T), axis=1,
                             kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                id_col: np.repeat(ids, top.shape[1]),
                "list_id": top.ravel().astype(np.int64),
            })

    return (emb.select(id_col, vec_col)
               .mapInPandas(assigner, f"{id_col} long, list_id long"))


def auto_nlist(n: int, target_list_size: int = 64,
               sample_n: int = 2048) -> int:
    """Coarse-list count for :func:`cosine_pairs_ivf`'s auto sizing:
    ``max(16, ceil(n / target_list_size))`` capped at ``sample_n`` (the
    centroid fit needs ≥ nlist sampled rows, so the occupancy bound
    holds up to n ≈ sample_n · target_list_size, ~131k at the defaults
    — past that, raise sample_n or pass an explicit coarser nlist).
    Exposed so diagnostics (bench.py) use the SAME formula as the
    operator instead of re-deriving it."""
    import math
    return min(max(16, math.ceil(n / max(1, target_list_size))), sample_n)


def within_group_pairs(grouped: DataFrame, group_col: str, id_col: str,
                       vec_col: str, threshold: float,
                       emb: DataFrame) -> DataFrame:
    """``(id_a, id_b)`` with exact cosine ≥ ``threshold`` among rows
    sharing ``group_col`` — the fused pair-generation device shared by
    the IVF dedup route and SemDeDup (r9 perf).

    One cogrouped Arrow pass: each group (bounded by construction —
    coarse lists / clusters) is a single float64 matmul computing every
    within-group cosine, and only pairs at ``≥ threshold − 1e-9`` leave
    the worker.  That margin is ~1e3× the worst float64
    summation-order difference for unit vectors at embedding dims, so
    no pair the exact filter would keep can be prefiltered away; the
    returned frame applies the bit-exact JVM fold (`cosine_sim`) to the
    tiny survivor set, keeping filter decisions bit-identical to the
    DuckDB oracles.  The earlier shape — explode all Σ C(|group|,2)
    candidates through a shuffle, two vector joins and an interpreted
    HOF cosine per pair — was 250k rows and ~5 s at sf0.1; this is one
    small shuffle of the vectors and ~1e2 verify rows.

    ``emb`` supplies ``(id_col, vec_col)`` for the exact re-verify."""
    eps = 1e-9

    def near_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64")})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        # blockwise upper triangle: O(block·|group|) scratch instead of
        # the full |group|² similarity matrix — an oversized group
        # (semdedup with k sized too small for the corpus) degrades to
        # more blocks, not an executor OOM
        block = 2048
        lo_parts, hi_parts = [], []
        for s in range(0, len(ids) - 1, block):
            e = min(s + block, len(ids))
            # sims[i, j] = row (s+i) vs row (s+j): both axes share the
            # same offset, so the strict upper triangle is just j > i
            sims = mat[s:e] @ mat[s:].T
            ia, ib = np.nonzero(sims >= threshold - eps)
            keep = ib > ia
            ga = ids[ia[keep] + s]
            gb = ids[ib[keep] + s]
            lo_parts.append(np.minimum(ga, gb))
            hi_parts.append(np.maximum(ga, gb))
        lo = np.concatenate(lo_parts) if lo_parts else np.array([], np.int64)
        hi = np.concatenate(hi_parts) if hi_parts else np.array([], np.int64)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = (grouped.groupBy(group_col)
                   .applyInPandas(near_pairs, "id_a long, id_b long")
                   .distinct())  # multi-probe co-listings repeat a pair
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    return (joined.select("id_a", "id_b",
                          cosine_sim(F.col("va"), F.col("vb")).alias("sim"))
                  .filter(F.col("sim") >= threshold)
                  .select("id_a", "id_b"))


def cosine_pairs_ivf(emb: DataFrame, threshold: float = 0.95,
                     nlist="auto", nprobe: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     sample_n: int = 2048, target_list_size: int = 64,
                     n: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs (exact-verified cosine ≥
    threshold) routed through IVF coarse partitioning instead of flat
    sign-LSH banding — the scale path for CLUSTER-HEAVY corpora (r9,
    VERDICT r8 #3; previously only a docstring pointer in
    :func:`cosine_pairs_lsh`).

    Why a second dedup route exists: flat banding pays a tight cluster's
    pair mass once PER BAND (every band of a ~0.9-similar pair collides
    high on the S-curve), which is exactly what grew ``dedup_embedding``
    5.1× at the sf1 step.  Here each vector lands in its ``nprobe``
    nearest coarse lists (one Arrow-batched matmul pass — no banding, no
    per-band hashing) and candidate pairs are generated WITHIN lists
    only, so a cluster's pair mass is paid once, and moderate-similarity
    non-duplicate mass is cut by the coarse partition boundary instead
    of amplified ``bands``×.

    Scale contract at 100 TB: in-worker verify work is
    Σ_list C(|list|, 2) similarity evaluations, but since the late-r9
    fusion (:func:`within_group_pairs`) each list is ONE small float64
    matmul inside a cogrouped Arrow task and only near-threshold pairs
    ever leave the worker — nothing shuffles per candidate.  ``nlist``
    defaults to ``"auto"`` = ``max(16, ceil(n / target_list_size))``
    (n via the memoized corpus count, or the ``n`` hint), which bounds
    that matmul work at ≈ nprobe² · target_list_size / 2 evaluations
    per vector — LINEAR in n, independent of corpus growth — and keeps
    per-list occupancy task-sized; the centroid fit costs only
    ``sample_n`` driver-side rows and one broadcast, so nlist scales
    freely.  Fused, this route measures absolutely fastest at every
    rehearsed scale point AND in growth (1.33×/decade vs flat banding's
    2.8× — `IVF_SCALING_r09.json`); flat banding remains the route with
    an S-curve recall GUARANTEE.  Every emitted pair is exact-verified
    with the bit-exact JVM cosine (precision exact).  Recall is
    APPROXIMATE: identical vectors are co-listed by construction
    (deterministic stable assignment), near pairs rely on ``nprobe``
    multi-probe to cover list boundaries — no S-curve guarantee, so
    certify recall with :func:`cosine_pairs_lsh` where required
    (planted-pair gate: ``dedup_embedding_ivf``)."""
    from pandas_db_spark.operators.dedup import _ensure_parallelism
    nn = n if n is not None else _corpus_count(emb)
    if nn < 2:
        # _fit_centroids cannot fit on an empty/singleton sample (and
        # there are no pairs to find) — return the empty pair frame the
        # flat route would produce
        return tiny_df(emb.sparkSession, [], "id_a long, id_b long")
    if nlist == "auto":
        nlist = auto_nlist(nn, target_list_size, sample_n)
    cent = _fit_centroids(emb, nlist, sample_n, id_col, vec_col)
    assigns = _assign_lists_multi(_ensure_parallelism(emb), cent, nprobe,
                                  id_col, vec_col)

    vecs = emb.select(F.col(id_col).alias("__pid"), vec_col)
    grouped = assigns.join(vecs, assigns[id_col] == vecs["__pid"]) \
                     .select("list_id", id_col, vec_col)
    return within_group_pairs(grouped, "list_id", id_col, vec_col,
                              threshold, emb)


# ---------------------------------------------------------------------------
# IVF approximate top-k
# ---------------------------------------------------------------------------


def _fit_sample(emb: DataFrame, sample_n: int, id_col: str,
                vec_col: str) -> np.ndarray:
    """Corpus-representative deterministic training sample for the
    quantizer fits: the md5-hash-smallest ``sample_n`` rows (the same
    device ``kmeans_fit`` seeds from — clustering.py:84 via
    ``sampling.stratified_sample``), returned in ascending-id order so
    Lloyd's init is reproducible.  NOT the lowest-id prefix: at 100 TB
    ids correlate with source/crawl-time, and an ``orderBy(id).limit``
    sample trains the quantizer on one corner of the corpus — list
    balance and recall then degrade silently on everything else
    (VERDICT r9 #3)."""
    from pandas_db_spark.operators.sampling import stratified_sample

    rows = (stratified_sample(emb.select(id_col, vec_col), [], sample_n,
                              id_col, salt="quantizer-fit")
            .orderBy(id_col).select(vec_col).collect())
    return np.array([r[0] for r in rows], dtype=np.float64)


def _fit_centroids(emb: DataFrame, nlist: int, sample_n: int,
                   id_col: str, vec_col: str) -> np.ndarray:
    """Coarse spherical centroids: deterministic hash-order sample +
    one Lloyd iteration — shared by the on-the-fly and persisted-index
    IVF paths so both produce identical list geometry."""
    mat = _fit_sample(emb, sample_n, id_col, vec_col)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[:nlist].copy()
    assign = (mat @ cent.T).argmax(axis=1)
    for c in range(nlist):
        members = mat[assign == c]
        if len(members):
            m = members.mean(axis=0)
            cent[c] = m / np.linalg.norm(m)
    return cent


def _assign_lists(emb: DataFrame, cent: np.ndarray, id_col: str,
                  vec_col: str) -> DataFrame:
    """(id, list_id): nearest-centroid assignment — one narrow
    Arrow-batched numpy pass, no shuffle."""

    def assigner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.array(list(pdf[vec_col]), dtype=np.float64)
            vs = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            out = pdf[[id_col]].copy()
            out["list_id"] = (vs @ cent.T).argmax(axis=1).astype(np.int64)
            yield out

    return emb.mapInPandas(assigner, f"{id_col} long, list_id long")


def ivf_topk(emb: DataFrame, query_ids: Iterable[int], k: int = 10,
             nlist: int = 16, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", sample_n: int = 2048) -> DataFrame:
    """IVF-style approximate top-k: coarse centroids ← one Lloyd iteration
    on a deterministic sample; every vector assigned to its nearest list
    (one narrow numpy pass); queries scan only the ``nprobe`` nearest lists.

    At 100 TB: the assignment pass writes a bucketed copy once; per-query
    work drops from a full scan to nprobe/nlist of the data.  Approximate →
    exposed as a rows-only (non-oracle) query."""
    cent = _fit_centroids(emb, nlist, sample_n, id_col, vec_col)
    lists = _assign_lists(emb, cent, id_col, vec_col).join(emb, id_col)

    qids = sorted(set(int(q) for q in query_ids))
    qrows = (emb.filter(F.col(id_col).isin(qids))
                .select(id_col, vec_col).collect())
    probe_rows = []
    for r in qrows:
        qv = np.array(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        order = np.argsort(-(cent @ qv))[:nprobe]
        probe_rows.extend((int(r[0]), int(c)) for c in order)
    spark = emb.sparkSession
    probes = tiny_df(spark, probe_rows, "query_id long, list_id long")

    shortlisted = lists.join(F.broadcast(probes), "list_id")
    q = emb.filter(F.col(id_col).isin(qids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (shortlisted.join(F.broadcast(q), "query_id")
              .filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      cosine_sim(F.col(vec_col), F.col("qv")).alias("sim")))
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          "neighbor_id"))


# ---------------------------------------------------------------------------
# persisted IVF index (serving path)
# ---------------------------------------------------------------------------


def build_ivf_index(emb: DataFrame, path: str, nlist: int = 16,
                    sample_n: int = 2048, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF index once: vectors written PARTITIONED BY
    ``list_id`` (Hive layout → later probes prune whole list directories
    at planning time, the same lever as ``write_parquet(partition_by)``)
    plus a tiny centroid table.  The build cost — one assignment pass +
    one partitioned write — is paid once; every query afterwards reads
    ``nprobe/nlist`` of the files instead of re-fitting and re-scanning,
    which is what makes IVF an INDEX rather than a per-call approximation
    (mirrors the ``build_inverted_index`` / ``bm25_topk_indexed`` pair)."""
    cent = _fit_centroids(emb, nlist, sample_n, id_col, vec_col)
    lists = _assign_lists(emb, cent, id_col, vec_col).join(emb, id_col)
    (lists.write.mode("overwrite").partitionBy("list_id")
          .parquet(path + "/vectors"))
    spark = emb.sparkSession
    cdf = tiny_df(
        spark, [(i, c.tolist()) for i, c in enumerate(cent)],
        "list_id long, centroid array<double>")
    cdf.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def ivf_topk_indexed(spark, path: str, query_ids: Iterable[int],
                     k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Serve top-k from a :func:`build_ivf_index` directory: centroids
    (tiny) pick the ``nprobe`` lists per query on the driver; the vector
    scan carries an ``isin(list_ids)`` partition filter so only those
    directories are read (PartitionFilters, asserted in tests); scoring
    and the per-query top-k window are identical to :func:`ivf_topk` —
    same geometry, same results, fraction of the IO."""
    crows = sorted(spark.read.parquet(path + "/centroids").collect(),
                   key=lambda r: r["list_id"])
    cent = np.array([r["centroid"] for r in crows], dtype=np.float64)
    vectors = spark.read.parquet(path + "/vectors")

    qids = sorted(set(int(q) for q in query_ids))
    qrows = (vectors.filter(F.col(id_col).isin(qids))
                    .select(id_col, vec_col).collect())
    probe_rows = []
    for r in qrows:
        qv = np.array(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        order = np.argsort(-(cent @ qv))[:nprobe]
        probe_rows.extend((int(r[0]), int(c)) for c in order)
    probes = tiny_df(spark, probe_rows, "query_id long, list_id long")
    probe_lists = sorted({lid for _, lid in probe_rows})

    shortlisted = (vectors.filter(F.col("list_id").isin(probe_lists))
                          .join(F.broadcast(probes), "list_id"))
    q = (vectors.filter(F.col(id_col).isin(qids))
                .select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv")))
    scored = (shortlisted.join(F.broadcast(q), "query_id")
              .filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      cosine_sim(F.col(vec_col), F.col("qv")).alias("sim")))
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          "neighbor_id"))


def embedding_centroids(emb: DataFrame, group_col: str,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        scale: float = 1e7) -> DataFrame:
    """Exact per-group embedding centroid: ``(group, dim, mean)`` in long
    format — class prototypes / per-source semantic drift monitoring /
    the seed step of prototype-based pruning.

    Exactness discipline: each component is quantized ONCE to an integer
    (``round(val · scale)`` — one IEEE multiply + a round that both
    Spark and DuckDB perform identically away-from-zero), the integers
    are summed EXACTLY (associative — partition-order invariant), and
    the mean is a fixed two-division IEEE sequence — bit-identical
    across runs, partitionings, and engines.  ``scale=1e7`` matches
    float32's own ~1e-7 resolution, so quantization loses nothing a
    float input ever had.  (A DECIMAL cast of arbitrary doubles is NOT
    engine-portable — Java's shortest-string double→BigDecimal path and
    DuckDB's exact-binary path round last-ulp cases differently; the
    integer quantization sidesteps that entirely.  Overflow margin:
    |q| ≤ scale per component ⇒ a 10¹¹-row group sums to ~10¹⁸, inside
    long range.)

    Scale shape: ``posexplode`` is a narrow row multiplier (rows ×
    dim), then ONE keyed shuffle on (group, dim) with map-side partial
    sums — at 100 TB the exchange carries (group × dim) partial rows
    per task, not the vectors."""
    q = F.round(F.col("val").cast("double") * F.lit(float(scale))
                ).cast("long")
    return (emb.select(F.col(group_col).alias("grp"),
                       F.posexplode(F.col(vec_col)).alias("dim", "val"))
               .groupBy("grp", "dim")
               .agg(F.sum(q).alias("__s"),
                    F.count(F.lit(1)).alias("__n"))
               .select(F.col("grp").alias(group_col),
                       F.col("dim").cast("long").alias("dim"),
                       ((F.col("__s").cast("double")
                         / F.col("__n").cast("double"))
                        / F.lit(float(scale))).alias("mean")))


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

# Product quantization (Jegou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011 — the FAISS IVFPQ family):
# split each d-dim vector into m subvectors, k-means each subspace to
# ksub centroids, store each vector as m small codes.  At the target
# scale this is THE reason the operator exists: a 64-dim float32
# embedding is 256 bytes, its m=8 code row is 8 bytes — a 100 TB vector
# corpus becomes ~3 TB of codes that a scan (or an executor cache) can
# actually afford, and asymmetric-distance search (ADC) scans CODES with
# a per-query lookup table instead of touching raw vectors at all.  Raw
# vectors are fetched only for the final exact re-rank of ~queries×r·k
# shortlist rows (broadcast semi-join — the same "probe, don't scan"
# shape as the incremental dedup stores).


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 256,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_n: int = 2048, n_iter: int = 5) -> np.ndarray:
    """Fit the (m, ksub, d//m) PQ codebooks on a deterministic sample.

    Vectors are unit-normalized first (cosine ranking == L2 ranking on
    the sphere: ||q-x||^2 = 2 - 2cos), then each of the ``m`` subspaces
    gets an independent Lloyd k-means: init = the sample's first ``ksub``
    subvectors (deterministic md5-hash-order sample, same device as
    ``_fit_centroids``), ``n_iter`` iterations, empty clusters keep
    their centroid.  Driver-side numpy over ``sample_n`` rows only —
    training never scans the corpus."""
    if ksub > 256:
        raise ValueError("ksub > 256 no longer fits a 1-byte code")
    mat = _fit_sample(emb, sample_n, id_col, vec_col)
    if len(mat) < ksub:
        raise ValueError(f"sample of {len(mat)} rows < ksub={ksub}")
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return _pq_fit(mat, m, ksub, n_iter)


def _pq_fit(mat: np.ndarray, m: int, ksub: int, n_iter: int) -> np.ndarray:
    """Per-subspace Lloyd k-means over a (n, d) training matrix —
    deterministic: init = first ksub subvectors, argmin ties break
    toward the lower centroid index, empty clusters keep their
    centroid.  Shared by flat PQ (unit vectors) and IVFPQ (residuals)."""
    d = mat.shape[1]
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        cent = sub[:ksub].copy()
        for _ in range(n_iter):
            # (n, ksub) squared L2 via the expansion
            d2 = ((sub ** 2).sum(1)[:, None]
                  - 2.0 * sub @ cent.T + (cent ** 2).sum(1)[None, :])
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(emb: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """``(id, codes array<int>)`` — nearest sub-centroid per subspace.

    One narrow Arrow-batched numpy pass, no shuffle; the closure ships
    the (m, ksub, dsub) codebook (a few KB).  This is the pass that
    writes the 32x-smaller scan copy at scale."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    cnorm = (books ** 2).sum(axis=2)  # (m, ksub)

    def encoder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.array(list(pdf[vec_col]), dtype=np.float64)
            vs = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            codes = np.empty((len(vs), m), dtype=np.int32)
            for s in range(m):
                sub = vs[:, s * dsub:(s + 1) * dsub]
                d2 = cnorm[s][None, :] - 2.0 * sub @ books[s].T
                codes[:, s] = d2.argmin(axis=1)
            out = pdf[[id_col]].copy()
            out["codes"] = list(codes)
            yield out

    return emb.select(id_col, vec_col).mapInPandas(
        encoder, f"{id_col} long, codes array<int>")


def pq_topk(emb: DataFrame, query_ids: Iterable[int], k: int = 10,
            m: int = 8, ksub: int = 256, rerank: int = 8,
            id_col: str = "vec_id", vec_col: str = "embedding",
            sample_n: int = 2048, codebooks: np.ndarray = None
            ) -> DataFrame:
    """Approximate top-k by asymmetric distance over PQ codes, then an
    exact re-rank of the ``rerank*k`` ADC shortlist.

    Plan shape: train (driver sample) -> encode (narrow pass) -> per
    query a (m, ksub) lookup table of exact subspace distances to every
    sub-centroid, broadcast in the scan closure; each partition emits
    its local top-(rerank*k) per query from a pure LUT gather-sum over
    CODES; one keyed window merges partials; ONLY the surviving
    shortlist ids fetch their raw vectors (broadcast semi-join) for an
    exact JVM-side cosine re-rank.  Approximate -> gated by the
    ``ann_pq_recall`` invariant, not a value oracle."""
    books = (np.ascontiguousarray(codebooks, dtype=np.float64)
             if codebooks is not None
             else pq_train(emb, m, ksub, id_col, vec_col, sample_n))
    m, ksub, dsub = books.shape
    codes = pq_encode(emb, books, id_col, vec_col)

    qids = sorted(set(int(q) for q in query_ids))
    qrows = (emb.filter(F.col(id_col).isin(qids))
                .select(id_col, vec_col).collect())
    if not qrows:
        return tiny_df(
            emb.sparkSession, [], "query_id long, rank int, neighbor_id long")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    # (nq, m, ksub): exact squared L2 from query subvector to every
    # sub-centroid; ADC distance of a code row is the sum of m lookups
    luts = np.empty((len(q_ids), m, ksub), dtype=np.float64)
    for s in range(m):
        qs = q_mat[:, s * dsub:(s + 1) * dsub]
        luts[:, s, :] = ((qs ** 2).sum(1)[:, None]
                         - 2.0 * qs @ books[s].T
                         + (books[s] ** 2).sum(1)[None, :])
    shortlist = rerank * k

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cd = np.array(list(pdf["codes"]), dtype=np.int64)  # (b, m)
            for qi, qid in enumerate(q_ids):
                dist = luts[qi][cols, cd].sum(axis=1)  # (b,)
                mask = ids != qid
                c_ids, c_d = ids[mask], dist[mask]
                if len(c_ids) > shortlist:
                    part = np.argpartition(c_d, shortlist)[:shortlist]
                    c_ids, c_d = c_ids[part], c_d[part]
                yield pd.DataFrame({
                    "query_id": np.full(len(c_ids), qid, dtype=np.int64),
                    "neighbor_id": c_ids,
                    "adc": c_d,
                })

    partial = codes.mapInPandas(
        scan, "query_id long, neighbor_id long, adc double")
    from pyspark.sql import Window
    w_adc = (Window.partitionBy("query_id")
             .orderBy(F.asc("adc"), F.asc("neighbor_id")))
    cand = (partial.withColumn("__r", F.row_number().over(w_adc))
                   .filter(F.col("__r") <= shortlist)
                   .select("query_id", "neighbor_id"))
    # exact re-rank: raw vectors only for the shortlist + the queries
    vecs = emb.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("nv"))
    qdf = emb.filter(F.col(id_col).isin(qids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (cand.join(vecs, "neighbor_id")
                  .join(F.broadcast(qdf), "query_id")
                  .select("query_id", "neighbor_id",
                          cosine_sim(F.col("nv"), F.col("qv")).alias("sim")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          "neighbor_id"))


# ---------------------------------------------------------------------------
# persisted IVF-PQ index (the 100 TB serving architecture)
# ---------------------------------------------------------------------------

# IVF + residual PQ (FAISS's IndexIVFPQ shape, Jegou et al. 2011 §IV):
# coarse centroids route each vector to a list; the PQ encodes the
# RESIDUAL (vector - its list centroid), which is far lower-variance
# than the raw vector, so the same code budget quantizes much finer.
# Serving scans only nprobe/nlist of the CODE rows (partition-pruned
# directories of 8-byte rows), with a per-(query, probed-list) lookup
# table — the classic ADC-with-residuals trick: LUTs depend on the
# probed list because the query's residual does.  Raw vectors are kept
# beside the codes (same list partitioning) but touched only by the
# final exact re-rank of the shortlist — probed, never scanned.


def _pq_encode_df(emb: DataFrame, cent: np.ndarray, books: np.ndarray,
                  id_col: str, vec_col: str) -> DataFrame:
    """``(id, list_id, codes)`` — assign each vector to its nearest
    coarse centroid and PQ-encode its residual against ``books``, in
    Arrow batches.  Shared by :func:`build_ivfpq_index` and
    :func:`append_ivfpq_index` so append-time encoding can never drift
    from build-time encoding."""
    m = books.shape[0]
    dsub = books.shape[2]
    cnorm = (books ** 2).sum(axis=2)  # (m, ksub)

    def encoder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.array(list(pdf[vec_col]), dtype=np.float64)
            vs = vs / np.linalg.norm(vs, axis=1, keepdims=True)
            lists = (vs @ cent.T).argmax(axis=1)
            rs = vs - cent[lists]
            codes = np.empty((len(vs), m), dtype=np.int32)
            for s in range(m):
                sub = rs[:, s * dsub:(s + 1) * dsub]
                d2 = cnorm[s][None, :] - 2.0 * sub @ books[s].T
                codes[:, s] = d2.argmin(axis=1)
            out = pdf[[id_col]].copy()
            out["list_id"] = lists.astype(np.int64)
            out["codes"] = list(codes)
            yield out

    return emb.select(id_col, vec_col).mapInPandas(
        encoder, f"{id_col} long, list_id long, codes array<int>")


def build_ivfpq_index(emb: DataFrame, path: str, nlist: int = 16,
                      m: int = 8, ksub: int = 256, sample_n: int = 2048,
                      n_iter: int = 5, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Materialize the IVF-PQ index: ``/codes`` (list-partitioned m-byte
    code rows — the scan set), ``/vectors`` (list-partitioned raw
    vectors — the re-rank probe set), ``/centroids`` and ``/codebooks``
    (tiny).  Coarse geometry is identical to :func:`build_ivf_index`
    (same ``_fit_centroids`` sample discipline); codebooks are fit on
    the RESIDUALS of the same hash-order ``_fit_sample`` rows — NOT an
    id-prefix, which on crawl-time-correlated ids would train the
    codebooks on one corner of the corpus and silently degrade ADC
    recall (VERDICT r10 #1; adversarial pytest in test_retrieval.py
    measures 0.40 vs 0.96 recall@10 on an id-clustered corpus).  One
    assignment+encode pass over the corpus, paid once."""
    if ksub > 256:
        raise ValueError("ksub > 256 no longer fits a 1-byte code")
    cent = _fit_centroids(emb, nlist, sample_n, id_col, vec_col)

    mat = _fit_sample(emb, sample_n, id_col, vec_col)
    if len(mat) < ksub:
        raise ValueError(f"sample of {len(mat)} rows < ksub={ksub}")
    if mat.shape[1] % m:
        raise ValueError(f"dim {mat.shape[1]} not divisible by m={m}")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    res = mat - cent[(mat @ cent.T).argmax(axis=1)]
    books = _pq_fit(res, m, ksub, n_iter)
    enc = _pq_encode_df(emb, cent, books, id_col, vec_col)
    enc.write.mode("overwrite").partitionBy("list_id").parquet(
        path + "/codes")
    lists = _assign_lists(emb, cent, id_col, vec_col).join(emb, id_col)
    (lists.write.mode("overwrite").partitionBy("list_id")
          .parquet(path + "/vectors"))
    spark = emb.sparkSession
    (tiny_df(spark, [(i, c.tolist()) for i, c in enumerate(cent)],
             "list_id long, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/centroids"))
    (tiny_df(spark, [(s, c, books[s, c].tolist())
                     for s in range(m) for c in range(ksub)],
             "subspace long, code long, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/codebooks"))


def ivfpq_topk_indexed(spark, path: str, query_ids: Iterable[int],
                       k: int = 10, nprobe: int = 4, rerank: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Serve approximate top-k from a :func:`build_ivfpq_index` dir.

    Driver side (all tiny): centroids pick the ``nprobe`` lists per
    query; for each (query, probed list) an exact (m, ksub) LUT of
    squared distances from the query's LIST RESIDUAL to every
    sub-centroid.  Cluster side: the code scan carries a ``list_id``
    partition filter (only probed directories are read — asserted in
    tests), each partition emits its local ADC top-(rerank*k) per query
    from pure LUT gather-sums, one keyed window merges, and ONLY the
    shortlist fetches raw vectors (from the probed lists' vector
    directories) for the exact cosine re-rank."""
    crows = sorted(spark.read.parquet(path + "/centroids").collect(),
                   key=lambda r: r["list_id"])
    cent = np.array([r["centroid"] for r in crows], dtype=np.float64)
    brows = spark.read.parquet(path + "/codebooks").collect()
    m = 1 + max(r["subspace"] for r in brows)
    ksub = 1 + max(r["code"] for r in brows)
    dsub = len(brows[0]["centroid"])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in brows:
        books[r["subspace"], r["code"]] = r["centroid"]
    bnorm = (books ** 2).sum(axis=2)  # (m, ksub)

    vectors = spark.read.parquet(path + "/vectors")
    qids = sorted(set(int(q) for q in query_ids))
    qrows = (vectors.filter(F.col(id_col).isin(qids))
                    .select(id_col, vec_col).collect())
    if not qrows:
        return tiny_df(
            spark, [], "query_id long, rank int, neighbor_id long")
    luts = {}  # (query_id, list_id) -> (m, ksub) float64
    probe_lists = set()
    for r in qrows:
        qv = np.array(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        for li in np.argsort(-(cent @ qv))[:nprobe]:
            rq = qv - cent[li]
            lut = np.empty((m, ksub), dtype=np.float64)
            for s in range(m):
                sub = rq[s * dsub:(s + 1) * dsub]
                lut[s] = (sub @ sub - 2.0 * books[s] @ sub + bnorm[s])
            luts[(int(r[0]), int(li))] = lut
            probe_lists.add(int(li))
    probe_lists = sorted(probe_lists)
    shortlist = rerank * k

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            for li, grp in pdf.groupby("list_id"):
                ids = grp[id_col].to_numpy(dtype=np.int64)
                cd = np.array(list(grp["codes"]), dtype=np.int64)
                for (qid, qli), lut in luts.items():
                    if qli != li:
                        continue
                    dist = lut[cols, cd].sum(axis=1)
                    mask = ids != qid
                    c_ids, c_d = ids[mask], dist[mask]
                    if len(c_ids) > shortlist:
                        part = np.argpartition(c_d, shortlist)[:shortlist]
                        c_ids, c_d = c_ids[part], c_d[part]
                    yield pd.DataFrame({
                        "query_id": np.full(len(c_ids), qid,
                                            dtype=np.int64),
                        "neighbor_id": c_ids,
                        "adc": c_d,
                    })

    codes = (spark.read.parquet(path + "/codes")
                  .filter(F.col("list_id").isin(probe_lists)))
    partial = codes.mapInPandas(
        scan, "query_id long, neighbor_id long, adc double")
    from pyspark.sql import Window
    w_adc = (Window.partitionBy("query_id")
             .orderBy(F.asc("adc"), F.asc("neighbor_id")))
    cand = (partial.withColumn("__r", F.row_number().over(w_adc))
                   .filter(F.col("__r") <= shortlist)
                   .select("query_id", "neighbor_id"))
    vecs = (vectors.filter(F.col("list_id").isin(probe_lists))
                   .select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("nv")))
    qdf = (vectors.filter(F.col(id_col).isin(qids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qv")))
    scored = (cand.join(vecs, "neighbor_id")
                  .join(F.broadcast(qdf), "query_id")
                  .select("query_id", "neighbor_id",
                          cosine_sim(F.col("nv"), F.col("qv")).alias("sim")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          "neighbor_id"))


# ---------------------------------------------------------------------------
# ANN join (large x large) — no driver collect on EITHER side
# ---------------------------------------------------------------------------

# The query-set APIs above (ann_topk_brute / ivf_topk / pq_topk) collect
# the query VECTORS because the query set is small.  An ANN *join* — for
# every row of a queries table, its top-k in a corpus table — must not
# collect either side.  Two shapes:
#
# * ann_join_brute: exact block-nested-loop.  Queries hash into mq
#   blocks, corpus into nc blocks; each side is replicated across the
#   OTHER side's block axis (rows: |Q|*nc + |C|*mq — the classic block
#   matrix), and each (qblock, cblock) cell is one cogrouped Arrow task
#   doing a float64 matmul + local top-k.  Per-task memory is
#   |Q|/mq + |C|/nc vectors — both tunable — and the merge is one keyed
#   window over k*nc candidate rows per query.
# * ann_join_ivf: approximate routing.  Corpus assigned to its nearest
#   coarse list, queries replicated to their nprobe nearest lists only —
#   the replication factor drops from nc to nprobe and each cell scans
#   one list instead of the whole corpus; recall is the usual IVF
#   coarse-quantizer ceiling (gated in tests).


def _cogroup_topk(k: int, exclude_self: bool):
    def fn(_key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")})
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        qm = np.array(list(qpdf["qv"]), dtype=np.float64)
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        cids = cpdf["neighbor_id"].to_numpy(dtype=np.int64)
        cm = np.array(list(cpdf["nv"]), dtype=np.float64)
        cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
        sims = qm @ cm.T  # (nq, nc)
        outs = []
        for i, qid in enumerate(qids):
            s = sims[i]
            ids = cids
            if exclude_self:
                mask = ids != qid
                ids, s = ids[mask], s[mask]
            if len(ids) > k:
                part = np.argpartition(-s, k)[:k]
                ids, s = ids[part], s[part]
            outs.append(pd.DataFrame({
                "query_id": np.full(len(ids), qid, dtype=np.int64),
                "neighbor_id": ids, "sim": s}))
        return pd.concat(outs, ignore_index=True)
    return fn


def _merge_topk(partial: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("sim"), F.asc("neighbor_id")))
    return (partial.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") <= k)
                   .select("query_id", F.col("rank").cast("int").alias("rank"),
                           "neighbor_id"))


def ann_join_brute(queries: DataFrame, corpus: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = None, q_vec_col: str = None,
                   mq: int = 8, nc: int = 8,
                   exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k JOIN: ``(query_id, rank, neighbor_id)`` for
    EVERY queries row, via the 2-D block matrix described above.  Output
    is integer-only (rank margins >> accumulation-order ulps, the same
    hash-stability argument as ``ann_topk_brute``)."""
    spark = queries.sparkSession
    qb = spark.range(nc).select(F.col("id").alias("cb"))
    q = (queries.select(F.col(q_id_col or id_col).alias("query_id"),
                        F.col(q_vec_col or vec_col).alias("qv"),
                        F.pmod(F.xxhash64(F.col(q_id_col or id_col)),
                               F.lit(mq)).alias("qb"))
                .crossJoin(F.broadcast(qb)))
    cb = spark.range(mq).select(F.col("id").alias("qb"))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("nv"),
                       F.pmod(F.xxhash64(F.col(id_col)),
                              F.lit(nc)).alias("cb"))
               .crossJoin(F.broadcast(cb)))
    partial = (q.groupBy("qb", "cb")
                .cogroup(c.groupBy("qb", "cb"))
                .applyInPandas(_cogroup_topk(k, exclude_self),
                               "query_id long, neighbor_id long, sim double"))
    return _merge_topk(partial, k)


def ann_join_ivf(queries: DataFrame, corpus: DataFrame, k: int = 10,
                 nlist: int = 16, nprobe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id_col: str = None, q_vec_col: str = None,
                 sample_n: int = 2048,
                 exclude_self: bool = True) -> DataFrame:
    """Approximate ANN join: corpus rows live in their nearest coarse
    list, query rows are replicated to their ``nprobe`` nearest lists,
    and each list is one cogrouped top-k cell — replication factor
    nprobe (vs the brute path's nc), work per query ~ nprobe/nlist of
    the corpus.  Same coarse geometry as :func:`ivf_topk`."""
    cent = _fit_centroids(corpus, nlist, sample_n, id_col, vec_col)
    c = (_assign_lists(corpus, cent, id_col, vec_col)
         .join(corpus, id_col)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("nv"), "list_id"))
    qsel = queries.select(F.col(q_id_col or id_col).alias("query_id"),
                          F.col(q_vec_col or vec_col).alias("qv"))
    q = (_assign_lists_multi(qsel, cent, nprobe, "query_id", "qv")
         .join(qsel, "query_id")
         .select("query_id", "qv", "list_id"))
    partial = (q.groupBy("list_id")
                .cogroup(c.groupBy("list_id"))
                .applyInPandas(_cogroup_topk(k, exclude_self),
                               "query_id long, neighbor_id long, sim double"))
    return _merge_topk(partial, k)


# ---------------------------------------------------------------------------
# incremental index maintenance (r11): append new vectors to a persisted
# IVF / IVF-PQ index WITHOUT a rebuild — the geometry (coarse centroids,
# PQ codebooks) stays PINNED from build time, exactly like the sign-LSH
# ingest store pins its band geometry in /meta: keys/assignments from
# different geometries never mix, so growth must encode against the
# built quantizers, and a geometry refresh is the explicit offline
# rebuild (build_*_index again), the reband_store analogue.
# ---------------------------------------------------------------------------


def _read_pinned_centroids(spark, path: str) -> np.ndarray:
    try:
        crows = sorted(spark.read.parquet(path + "/centroids").collect(),
                       key=lambda r: r["list_id"])
    except Exception as exc:  # missing dir → clean contract error
        raise ValueError(f"no centroids at {path}/centroids — "
                         "not a built index directory") from exc
    if not crows:
        raise ValueError(f"no centroids at {path}/centroids — "
                         "not a built index directory")
    return np.array([r["centroid"] for r in crows], dtype=np.float64)


def _cast_to_index_type(emb_new: DataFrame, existing: DataFrame,
                        vec_col: str) -> DataFrame:
    """Cast the incoming vector column to the index's pinned element
    type: appending (say) array<double> files beside the build's
    array<float> files would poison every later scan with a Parquet
    type-mismatch read error — schema is part of the pinned geometry."""
    want = existing.schema[vec_col].dataType
    have = emb_new.schema[vec_col].dataType
    if have != want:
        return emb_new.withColumn(vec_col, F.col(vec_col).cast(want))
    return emb_new


def _reject_duplicate_ids(emb_new: DataFrame, existing: DataFrame,
                          id_col: str, path: str) -> None:
    dup = (emb_new.select(id_col)
                  .join(existing.select(id_col), id_col, "left_semi")
                  .limit(5).collect())
    if dup:
        raise ValueError(
            f"append to {path}: ids already present in the index "
            f"(first few: {[r[0] for r in dup]}) — an id appearing in "
            "two list files would surface twice in served top-k; pass "
            "check_ids=False only if the caller guarantees disjoint ids")


def append_ivf_index(emb_new: DataFrame, path: str,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     check_ids: bool = True) -> None:
    """Append ``emb_new`` to a :func:`build_ivf_index` directory: one
    assignment pass against the PINNED centroids, one
    ``mode("append")`` partitioned write — new files land inside the
    existing ``list_id=`` directories, so every prior serving plan
    (partition pruning included) keeps working and immediately sees the
    new vectors.  ``check_ids`` (default on) pays one id-column
    left-semi probe to fail loudly on id collisions.

    Growth contract: appends FATTEN lists — per-probe scan cost grows
    linearly with appended volume while ``nlist`` stays fixed, so once
    the corpus outgrows the built geometry (~2-4x the build size),
    rebuild with a larger ``nlist`` (the IVF analogue of the sign-LSH
    ``reband_store`` migration).  Compaction note: each append adds one
    file per touched partition; fold them offline with
    :func:`compact_index` when file counts matter."""
    spark = emb_new.sparkSession
    cent = _read_pinned_centroids(spark, path)
    existing = spark.read.parquet(path + "/vectors")
    emb_new = _cast_to_index_type(emb_new, existing, vec_col)
    if check_ids:
        _reject_duplicate_ids(emb_new, existing, id_col, path)
    lists = (_assign_lists(emb_new, cent, id_col, vec_col)
             .join(emb_new, id_col))
    (lists.write.mode("append").partitionBy("list_id")
          .parquet(path + "/vectors"))


def append_ivfpq_index(emb_new: DataFrame, path: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       check_ids: bool = True) -> None:
    """Append ``emb_new`` to a :func:`build_ivfpq_index` directory:
    assignments AND residual codes are produced by the same
    :func:`_pq_encode_df` pass the build used, against the PINNED
    centroids and codebooks read back from the index — append-time
    encoding can never drift from build-time encoding.  Both the
    ``/codes`` (ADC scan set) and ``/vectors`` (re-rank probe set)
    partitions grow in place via dynamic append; the same growth and
    compaction contract as :func:`append_ivf_index` applies, plus the
    quantization caveat: codebooks were fit on the BUILD corpus's
    residual distribution, so a drifted append distribution quantizes
    coarser — recall on appended vectors degrades gracefully, and the
    rebuild refreshes the fit (`ann_ivfpq_recall`'s measured trail is
    the watchdog)."""
    spark = emb_new.sparkSession
    cent = _read_pinned_centroids(spark, path)
    brows = spark.read.parquet(path + "/codebooks").collect()
    if not brows:
        raise ValueError(f"no codebooks at {path}/codebooks — "
                         "not a built IVF-PQ index directory")
    m = 1 + max(r["subspace"] for r in brows)
    ksub = 1 + max(r["code"] for r in brows)
    dsub = len(brows[0]["centroid"])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in brows:
        books[r["subspace"], r["code"]] = r["centroid"]
    existing = spark.read.parquet(path + "/vectors")
    emb_new = _cast_to_index_type(emb_new, existing, vec_col)
    if check_ids:
        _reject_duplicate_ids(
            emb_new, spark.read.parquet(path + "/codes"), id_col, path)
    enc = _pq_encode_df(emb_new, cent, books, id_col, vec_col)
    enc.write.mode("append").partitionBy("list_id").parquet(
        path + "/codes")
    lists = (_assign_lists(emb_new, cent, id_col, vec_col)
             .join(emb_new, id_col))
    (lists.write.mode("append").partitionBy("list_id")
          .parquet(path + "/vectors"))


def compact_index(spark, path: str, checkpoint_dir: str | None = None
                  ) -> dict:
    """Fold append-fragmented index partitions: each
    :func:`append_ivf_index` / :func:`append_ivfpq_index` call adds one
    file per touched ``list_id=`` directory, and after many ingest
    cycles the per-probe scan pays more in file-open overhead than in
    bytes.  Rewrites ``/vectors`` (and ``/codes`` if present — an
    IVF-PQ index) at ONE file per list partition — ``repartition`` on
    the ``list_id`` hash routes each list to a single task, so lists
    compact in parallel and each task writes exactly its list's file —
    via ``streaming.sink.compact``, whose staged swap goes through the
    Hadoop ``FileSystem`` API, so the fold runs on whatever filesystem
    the index actually lives on — HDFS/S3A included, not just the
    driver's local disk.  Run OFFLINE between ingest runs, the same contract as
    ``reband_store``/``compact_signlsh_store``.  Content is untouched —
    rows, assignments and codes are byte-identical, only the file
    layout changes — so every serving plan (partition pruning included)
    is unaffected.

    Streaming indexes (:func:`streaming.ingest.run_ivf_index_ingest`
    directories, detected by their ``batch_id=N/list_id=M`` two-level
    layout) KEEP the two-level layout: all rows fold into the reserved
    ``batch_id=-1`` partition — one file per list under it — so
    partition discovery never sees mixed depths and a RESUMED stream
    composes cleanly: Structured Streaming assigns real batches
    monotonically increasing non-negative ids, never ``-1``, so later
    dynamic-partition writes can't clobber the compacted data, and
    committed batches are never replayed while the checkpoint lives
    (losing the checkpoint after compaction double-ingests — the same
    rule as any replay-after-checkpoint-loss).  Pass the stream's
    ``checkpoint_dir`` to VERIFY quiescence first: compaction refuses
    to run while the checkpoint shows a started-but-uncommitted batch,
    whose partial partition the resumed stream must rewrite.

    A crash mid-swap leaves the previous copy in the
    ``<dataset>.__stage_old`` sibling; the next call rolls it back
    before compacting (``streaming.sink.recover_staged``).  Returns
    per-dataset file counts before/after and the detected layout for
    the caller's log."""
    report = compact(spark, path,
                     {"vectors": "list_id", "codes": "list_id"},
                     checkpoint_dir)
    if not report:
        raise ValueError(f"{path} holds no /vectors or /codes dataset")
    return report

