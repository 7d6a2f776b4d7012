"""LLM-pipeline operator tests: dedup, similarity search, text analysis.

Oracle strategy mirrors the driver: exact answers computed in-process
(numpy / brute force) and compared against the bucketed/banded Spark plans.
Plan-shape assertions keep the 100 TB properties honest: candidate
generation must never be a cartesian product.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from pandas_db_spark.operators import dedup as D
from pandas_db_spark.operators import similarity as S
from pandas_db_spark.operators import lm as L
from pandas_db_spark.functions import text as X
from pandas_db_spark.plans.explain import formatted_plan
from pandas_db_spark.sources.registry import read_parquet

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet(spark, f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return read_parquet(spark, f"{SF_DIR}/embeddings.parquet")


def exact_jaccard_pairs(docs_pdf, threshold, n=3):
    """Driver-side exact all-pairs 3-gram Jaccard — the oracle."""
    sets = {}
    for _, row in docs_pdf.iterrows():
        ws = row["text"].strip().split()
        if len(ws) >= n:
            sh = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
        else:
            sh = {" ".join(ws)}
        sets[row["doc_id"]] = sh
    ids = sorted(sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
    return out


def test_exact_dedup_keeps_min_id(spark):
    sdf = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text"),
         (4, "HELLO WORLD ")],
        "doc_id long, text string")
    kept = {r[0] for r in D.exact_dedup_keep(sdf, "text", "doc_id").collect()}
    assert kept == {1, 3}


def test_jaccard_pairs_match_exact_oracle(docs):
    truth = exact_jaccard_pairs(docs.toPandas(), 0.8)
    got = {(r["id_a"], r["id_b"])
           for r in D.jaccard_pairs(docs, "text", "doc_id", 0.8).collect()}
    assert got == truth


def test_minhash_pairs_match_exact_oracle(docs):
    truth = exact_jaccard_pairs(docs.toPandas(), 0.8)
    got = {(r["id_a"], r["id_b"])
           for r in D.minhash_pairs(docs, "text", "doc_id", 0.8).collect()}
    assert got == truth
    assert truth, "testdata should contain near-duplicate pairs"


def test_dedup_plans_have_no_cartesian(docs):
    for pairs in (D.jaccard_pairs(docs, "text", "doc_id", 0.8),
                  D.minhash_pairs(docs, "text", "doc_id", 0.8),
                  D.simhash_pairs(docs, "text", "doc_id", 0.8)):
        plan = formatted_plan(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_criterion_is_deterministic(docs):
    a = {(r["id_a"], r["id_b"])
         for r in D.simhash_pairs(docs, "text", "doc_id", 0.8).collect()}
    b = {(r["id_a"], r["id_b"])
         for r in D.simhash_pairs(docs, "text", "doc_id", 0.8).collect()}
    assert a == b


def test_keep_first_drops_larger_ids(spark, docs):
    pairs = spark.createDataFrame([(1, 5), (2, 7)], "id_a long, id_b long")
    kept = D.keep_first(docs, pairs, "doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 5 not in ids and 7 not in ids and 1 in ids and 2 in ids


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def _exact_topk(emb_pdf, qids, k):
    ids = emb_pdf["vec_id"].to_numpy()
    mat = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in qids:
        qv = mat[ids == q][0]
        sims = mat @ qv
        order = sorted(
            ((s, i) for s, i in zip(sims, ids) if i != q),
            key=lambda t: (-t[0], t[1]))
        out[q] = [i for _, i in order[:k]]
    return out


def test_ann_topk_brute_matches_numpy(emb):
    truth = _exact_topk(emb.toPandas(), [0, 1, 2], 5)
    got = S.ann_topk_brute(emb, [0, 1, 2], k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == truth


def test_cosine_pairs_lsh_verifies_exactly(emb):
    """Low-threshold regime: wide-band geometry (few rows) keeps recall; the
    exact verify keeps precision.  Default geometry is tuned for near-dup
    thresholds and is exercised in test_cosine_pairs_lsh_finds_planted_dups."""
    pdf = emb.toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ids = pdf["vec_id"].to_numpy()
    th = 0.4
    truth = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if sims[i, j] >= th}
    got = {(r["id_a"], r["id_b"])
           for r in S.cosine_pairs_lsh(
                 emb, threshold=th, bands=32, rows=4).collect()}
    # precision must be exact; recall bounded below (LSH at low threshold)
    assert got <= truth
    if truth:
        assert len(got) / len(truth) >= 0.8


def test_cosine_pairs_lsh_finds_planted_dups(spark, emb):
    """Default geometry at the near-dup design point: planted ≥0.95-cosine
    copies must all surface, with zero false positives."""
    pdf = emb.toPandas()
    rng = np.random.RandomState(7)
    base = pdf.head(20).copy()
    planted = []
    next_id = int(pdf["vec_id"].max()) + 1
    for _, row in base.iterrows():
        v = np.array(row["embedding"], dtype=np.float64)
        noisy = v + rng.standard_normal(len(v)) * 0.02 * np.linalg.norm(v) / np.sqrt(len(v))
        planted.append((next_id, noisy.tolist()))
        next_id += 1
    import pandas as pd
    all_pdf = pd.concat(
        [pdf[["vec_id", "embedding"]],
         pd.DataFrame(planted, columns=["vec_id", "embedding"])],
        ignore_index=True)
    df = spark.createDataFrame(all_pdf)
    # exact truth over the augmented set
    mat = np.array(list(all_pdf["embedding"]), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ids = all_pdf["vec_id"].to_numpy()
    truth = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if sims[i, j] >= 0.95}
    assert len(truth) >= 15  # the planting worked
    got = {(r["id_a"], r["id_b"])
           for r in S.cosine_pairs_lsh(df, threshold=0.95).collect()}
    assert got == truth


def test_ivf_recall(emb):
    qids = [0, 1, 2, 3, 4]
    truth = _exact_topk(emb.toPandas(), qids, 10)
    got = S.ivf_topk(emb, qids, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(by_q.get(q, set()) & set(truth[q])) / 10 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_recall_survives_id_clustered_prefix(spark):
    """VERDICT r9 #3: ids correlate with source/crawl-time at 100 TB, so
    the quantizer fit must NOT train on the lowest-id prefix.  Adversarial
    layout: ids 0..599 are one tight cluster (the old
    ``orderBy(id).limit(sample_n)`` fit with sample_n=512 would see ONLY
    this cluster and collapse every centroid onto it); ids 600+ spread
    over 12 well-separated directions.  Queries live in the spread region
    — recall@10 must hold anyway because the hash-order sample trains on
    the whole corpus."""
    import pandas as pd
    rng = np.random.RandomState(42)
    d = 16
    tight = rng.standard_normal(d)
    tight /= np.linalg.norm(tight)
    rows = []
    for i in range(600):
        v = tight + rng.standard_normal(d) * 0.01
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    centers = rng.standard_normal((12, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    for i in range(600, 1800):
        c = centers[i % 12]
        v = c + rng.standard_normal(d) * 0.05
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf).repartition(8)
    qids = [700, 901, 1102, 1303, 1504]
    truth = _exact_topk(pdf, qids, 10)
    got = S.ivf_topk(df, qids, k=10, nlist=13, nprobe=4,
                     sample_n=512).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(by_q.get(q, set()) & set(truth[q])) / 10 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # PQ codebooks trained on the same layout must rank within-region
    # neighbors sensibly too (same fit device)
    pq_got = S.pq_topk(df, qids, k=10, m=8, ksub=32,
                       sample_n=512).collect()
    pq_by_q = {}
    for r in pq_got:
        pq_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    pq_recalls = [len(pq_by_q.get(q, set()) & set(truth[q])) / 10
                  for q in qids]
    assert sum(pq_recalls) / len(pq_recalls) >= 0.6, pq_recalls


def test_pq_recall(emb):
    qids = [0, 1, 2, 3, 4]
    truth = _exact_topk(emb.toPandas(), qids, 10)
    got = S.pq_topk(emb, qids, k=10).collect()
    by_q = {}
    for r in got:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert all(len(v) == 10 for v in by_q.values())  # exactly k per query
    recalls = [len(by_q.get(q, set()) & set(truth[q])) / 10 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ann_join_brute_matches_queryset_path(emb):
    """The block-cogroup join must agree with the collected-query path on
    the same task (queries = the whole table, corpus = the whole table,
    self excluded) — two independent implementations, one answer."""
    expected = sorted(map(tuple,
                          S.ann_topk_brute(emb, range(5), k=10).collect()))
    from pyspark.sql import functions as SF
    qs = emb.where(SF.col("vec_id") < 5)
    got = sorted(map(tuple,
                     S.ann_join_brute(qs, emb, k=10,
                                      mq=3, nc=5).collect()))
    assert got == expected


def test_ann_join_ivf_full_probe_equals_brute(emb):
    """nprobe = nlist probes every list → the IVF join degrades to an
    exact block join and must EQUAL ann_join_brute row for row; at
    nprobe < nlist it returns the same row contract with recall at the
    coarse-quantizer ceiling."""
    from pyspark.sql import functions as SF
    qs = emb.where(SF.col("vec_id") < 10)
    cp = emb.where(SF.col("vec_id") >= 10)
    brute = sorted(map(tuple,
                       S.ann_join_brute(qs, cp, k=5,
                                        exclude_self=False).collect()))
    full = sorted(map(tuple,
                      S.ann_join_ivf(qs, cp, k=5, nlist=8, nprobe=8,
                                     sample_n=512,
                                     exclude_self=False).collect()))
    assert full == brute
    part = S.ann_join_ivf(qs, cp, k=5, nlist=8, nprobe=3, sample_n=512,
                          exclude_self=False).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    truth = {}
    for q, _, n in brute:
        truth.setdefault(q, set()).add(n)
    recalls = [len(by_q.get(q, set()) & ns) / len(ns)
               for q, ns in truth.items()]
    assert sum(recalls) / len(recalls) >= 0.4


def test_pq_encode_deterministic_and_bounded(emb):
    books = S.pq_train(emb, m=8, ksub=32)
    books2 = S.pq_train(emb, m=8, ksub=32)
    assert np.array_equal(books, books2)        # seeded lowest-id init
    assert books.shape == (8, 32, 8)            # 64-dim / m=8
    codes = S.pq_encode(emb, books).orderBy("vec_id").collect()
    codes2 = S.pq_encode(emb, books).orderBy("vec_id").collect()
    assert [r["codes"] for r in codes] == [r["codes"] for r in codes2]
    for r in codes:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 32 for c in r["codes"])


def test_pq_train_validates(emb):
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(emb, m=7)
    with pytest.raises(ValueError, match="1-byte"):
        S.pq_train(emb, ksub=257)
    with pytest.raises(ValueError, match="< ksub"):
        S.pq_train(emb, ksub=256, sample_n=10)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_count_and_fingerprint(spark):
    sdf = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat sat"), (3, "cat the sat")],
        "doc_id long, text string")
    rows = sdf.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n"),
        X.fingerprint(F.col("text")).alias("fp")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert all(by_id[i]["n"] == 3 for i in (1, 2, 3))
    assert by_id[1]["fp"] == by_id[2]["fp"]          # same content
    assert by_id[1]["fp"] != by_id[3]["fp"]          # order-sensitive
    # reference implementation in python
    def py_fp(text):
        h = 0
        for w in text.strip().split():
            g = 0
            for c in w:
                g = (g * 31 + ord(c)) % 2_147_483_648
            h = (h * 31 + g) % 2_147_483_648
        return h
    assert by_id[1]["fp"] == py_fp("the cat sat")


def test_lang_id_prefers_matching_profile(spark):
    sdf = spark.createDataFrame(
        [(1, "the cat is in the house"),
         (2, "el gato en la casa y los perros"),
         (3, "xyzzy plugh")],
        "doc_id long, text string")
    rows = sdf.select("doc_id", X.lang_id(F.col("text")).alias("l")).collect()
    got = {r["doc_id"]: r["l"] for r in rows}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"


def test_quality_score_bounds(docs):
    rows = docs.select(X.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_clean_corpus_invariants(db):
    """Pipeline composition: survivors are a subset of the gated set, carry
    correct annotations, and contain no exact-duplicate texts."""
    from pandas_db_spark.operators import pipeline as P
    from pandas_db_spark.functions import text as X
    from pyspark.sql import functions as F

    docs = db.documents.df
    out = P.clean_corpus(docs, lang="en", min_quality=0.3).collect()
    assert 0 < len(out) <= docs.count()
    assert all(r["lang_pred"] == "en" and r["quality"] >= 0.3 for r in out)

    ids = [r["doc_id"] for r in out]
    surviving = docs.filter(F.col("doc_id").isin(ids))
    # no two survivors share a normalized text
    from pandas_db_spark.operators.dedup import normalized_text
    n_norm = (surviving.select(normalized_text(F.col("text")).alias("n"))
              .distinct().count())
    assert n_norm == len(ids)
    # annotations match recomputation
    re_ann = {r["doc_id"]: (r["lp"], r["nt"]) for r in docs.select(
        "doc_id", X.lang_id(F.col("text")).alias("lp"),
        X.token_count(F.col("text")).alias("nt")).collect()}
    for r in out:
        assert re_ann[r["doc_id"]] == (r["lang_pred"], r["n_tokens"])


def test_jaccard_max_df_bounds_stopword_blowup(spark):
    """Round-4 verdict #4: a stopword shingle posting ~every doc must not
    create a quadratic in-bucket expansion under the DEFAULT settings.
    Planted corpus: every doc shares one stopword 3-gram; docs are otherwise
    unique — with no cap that's n(n-1)/2 candidates, with the default cap
    the common shingle is dropped (and warned) and candidates stay tiny."""
    import warnings

    n_docs = D.JACCARD_DEFAULT_MAX_DF + 100
    docs = spark.createDataFrame(
        [(i, f"of the and unique{i} token{i} word{i} only{i} here{i}")
         for i in range(n_docs)],
        "doc_id long, text string")

    def n_jobs():
        return spark._jsparkSession.sparkContext().statusStore() \
            .jobsList(None).size()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        jobs_before = n_jobs()
        pairs = D.jaccard_pairs(docs, "text", "doc_id", threshold=0.05)
        # r5 verdict #2: plan construction must be lazy — zero Spark jobs
        # (the old eager max_df count() pre-pass ran a full shingle pass).
        assert n_jobs() == jobs_before, "jaccard_pairs construction ran a job"
        got = pairs.count()
        # the dropped-shingle warning rides the execution via CollectMetrics;
        # drain synchronously instead of racing the poller thread.
        D._drain_jaccard_observations()
    assert got < n_docs  # nothing close to the n²/2 ≈ 180k blowup
    dropped = [w for w in caught if "max_df" in str(w.message)]
    assert dropped, "cap must warn, never bind silently"

    # explicit opt-out restores the exact (quadratic-risk) semantics
    exact = D.jaccard_pairs(docs, "text", "doc_id", threshold=0.05,
                            max_df=None)
    assert exact.count() >= got


def test_pack_sequences_matches_pandas_and_stays_distributed(docs):
    """Sequence packing: values equal a pandas global-cumsum oracle, and
    the plan's expensive window is hash-partitioned by chunk — never the
    single-partition global sort that SUM() OVER (ORDER BY) would give."""
    from pandas_db_spark.operators import packing as P

    budget = 64
    got = (P.pack_sequences(docs, budget=budget, chunk_ids=7)
             .toPandas().sort_values("doc_id").reset_index(drop=True))
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    n_tok = pdf["text"].str.strip().str.split().str.len()
    start = n_tok.cumsum().shift(fill_value=0)
    assert (got["n_tokens"].to_numpy() == n_tok.to_numpy()).all()
    assert (got["start_offset"].to_numpy() == start.to_numpy()).all()
    assert (got["seq_id"].to_numpy() == (start // budget).to_numpy()).all()

    plan = formatted_plan(P.pack_sequences(docs, budget=budget, chunk_ids=7))
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(__chunk" in plan, plan


def test_pack_summary_conserves_tokens(docs):
    from pandas_db_spark.operators import packing as P

    total = P.pack_sequences(docs, budget=64).agg(
        F.sum("n_tokens")).collect()[0][0]
    summary = P.pack_summary(docs, budget=64).agg(
        F.sum("total_tokens"), F.sum("n_docs")).collect()[0]
    assert summary[0] == total
    assert summary[1] == docs.count()


def test_hash_sample_deterministic_and_narrow(docs):
    """Hash sampling: reproducible across partitionings (the point, vs
    rand()), fraction roughly honored, and a pure narrow filter (no
    Exchange in the plan)."""
    from pandas_db_spark.operators import sampling as SA

    s1 = {r.doc_id for r in SA.hash_sample(docs, 0.3, "doc_id").collect()}
    s2 = {r.doc_id for r in
          SA.hash_sample(docs.repartition(13), 0.3, "doc_id").collect()}
    assert s1 == s2
    n = docs.count()
    assert 0.15 * n < len(s1) < 0.45 * n
    # independent draws under different salts
    s3 = {r.doc_id for r in
          SA.hash_sample(docs, 0.3, "doc_id", salt="x").collect()}
    assert s3 != s1
    assert "Exchange" not in formatted_plan(
        SA.hash_sample(docs, 0.3, "doc_id"))
    # boundary fractions
    assert SA.hash_sample(docs, 1.0, "doc_id").count() == n
    assert SA.hash_sample(docs, 0.0, "doc_id").count() == 0


def test_stratified_sample_exact_n_and_partition_invariant(docs):
    from pandas_db_spark.operators import sampling as SA

    out = SA.stratified_sample(docs, ["lang"], 3, "doc_id")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, size in sizes.items():
        assert counts.get(lang, 0) == min(3, size)
    # phase-1 grouping (input partitioning) must not affect the result
    a = {tuple(r) for r in out.select("doc_id").collect()}
    b = {tuple(r) for r in
         SA.stratified_sample(docs.repartition(17), ["lang"], 3, "doc_id")
           .select("doc_id").collect()}
    assert a == b


def test_mix_corpora_provenance_and_disjoint(docs):
    from pandas_db_spark.operators import sampling as SA

    en = docs.filter(F.col("lang") == "en")
    rest = docs.filter(F.col("lang") != "en")
    mixed = SA.mix_corpora({"en": (en, 0.5), "rest": (rest, 0.25)},
                           key_col="doc_id")
    agg = {r["source"]: r["n"] for r in
           mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(agg) == {"en", "rest"}
    assert 0 < agg["en"] <= en.count()
    ids = [r.doc_id for r in mixed.select("doc_id").collect()]
    assert len(ids) == len(set(ids))  # disjoint sources stay disjoint


def test_repetition_signals(spark):
    """Planted degenerate docs get high repetition scores; clean prose low."""
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "buy now buy now buy now buy now"),
         (3, "a quick brown fox jumps over the lazy dog"),
         (4, "solo"),
         (5, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in docs.select(
        "doc_id",
        X.repeated_token_frac(F.col("text")).alias("rep"),
        X.top_bigram_frac(F.col("text")).alias("top2")).collect()}
    assert rows[1].rep == pytest.approx(5 / 6)
    assert rows[1].top2 == pytest.approx(10 / 6)  # overlapping repeats can exceed 1
    assert rows[2].top2 == pytest.approx(8 / 8)   # "buy now" covers 4*2 of 8
    assert rows[3].rep == 0.0 and rows[3].top2 == pytest.approx(2 / 9)
    assert rows[4].rep == 0.0 and rows[4].top2 == 0.0


def test_hash_split_stable_and_exhaustive(docs):
    """Every row gets exactly one split; assignments survive repartitioning
    AND corpus growth (a doc's split never changes when more docs arrive)."""
    from pandas_db_spark.operators import sampling as SA

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = SA.hash_split(docs, w, "doc_id")
    n = docs.count()
    agg = {r["split"]: r["n"] for r in
           full.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(agg.values()) == n and set(agg) <= {"train", "val", "test"}
    assert agg["train"] > agg.get("val", 0)
    # stability under partitioning
    a = {(r.doc_id, r.split) for r in
         full.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in
         SA.hash_split(docs.repartition(11), w, "doc_id")
           .select("doc_id", "split").collect()}
    assert a == b
    # stability under growth: assignments on a subset match the full corpus
    sub = SA.hash_split(docs.filter(F.col("doc_id") < 50), w, "doc_id")
    c = {(r.doc_id, r.split) for r in sub.select("doc_id", "split").collect()}
    assert c == {(d_, s_) for d_, s_ in a if d_ < 50}
    # degenerate weights: single bucket takes everything
    solo = SA.hash_split(docs, {"all": 1.0}, "doc_id")
    assert solo.filter(F.col("split") != "all").count() == 0


def test_decontamination_planted_leak(spark):
    """A planted verbatim 8-gram leak is flagged; clean docs survive; the
    eval index side is broadcast (train corpus must not shuffle)."""
    from pandas_db_spark.operators import decontam as DC

    leak = "the secret benchmark answer is forty two exactly here"
    train = spark.createDataFrame(
        [(100, f"some filler text then {leak} and a tail of words"),
         (101, "completely unrelated training document about spark plans"),
         (102, "another clean doc with its own fresh tokens entirely")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, f"eval question: {leak}"),
         (2, "an eval item with no overlap at all")],
        "doc_id long, text string")
    pairs = DC.contamination_pairs(train, ev, n=8).collect()
    assert {(r.train_id, r.eval_id) for r in pairs} == {(100, 1)}
    assert pairs[0].n_shared >= 2  # the 9-word leak spans 2 distinct 8-grams
    clean = {r.doc_id for r in DC.decontaminate(train, ev, n=8)
             .select("doc_id").collect()}
    assert clean == {101, 102}
    plan = formatted_plan(DC.contamination_pairs(train, ev, n=8))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_fuzzy_decontamination_catches_near_dup_leak(spark):
    """A near-duplicate (not verbatim) eval leak — one word swapped, so
    NO long n-gram survives but 3-shingle Jaccard stays high — is caught
    by the fuzzy path and missed by the exact-8-gram path; clean docs
    survive; only CROSS pairs ever surface."""
    from pandas_db_spark.operators import decontam as DC

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron")
    # swap the MIDDLE word: the longest unbroken run is 7 words on
    # either side, so no verbatim 8-gram survives anywhere
    leaked = base.replace("theta", "SWAP")
    train = spark.createDataFrame(
        [(100, leaked),
         (101, "completely unrelated training document about spark plans"),
         (102, base + " phi"),  # second near-dup of the eval item
         ],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, base),
         (2, "an eval item with no overlap at all")],
        "doc_id long, text string")
    fuzzy = DC.contamination_pairs_fuzzy(train, ev, threshold=0.5)
    got = {(r.train_id, r.eval_id) for r in fuzzy.collect()}
    assert got == {(100, 1), (102, 1)}
    # the verbatim-8-gram path misses the word-swapped leak
    exact = {(r.train_id, r.eval_id)
             for r in DC.contamination_pairs(train, ev, n=8).collect()}
    assert (100, 1) not in exact
    clean = {r.doc_id for r in
             DC.decontaminate_fuzzy(train, ev, threshold=0.5)
             .select("doc_id").collect()}
    assert clean == {101}


def test_bloom_decontamination_matches_exact_path(spark):
    """The Bloom probe flags exactly the exact-overlap set (no false
    negatives by construction; FP mass sized to ~zero), the probe plan
    is join-free, and the bitmap honours an explicit m_bits."""
    from pandas_db_spark.operators import decontam as DC

    leak = "the secret benchmark answer is forty two exactly here"
    train = spark.createDataFrame(
        [(100, f"some filler text then {leak} and a tail of words"),
         (101, "completely unrelated training document about spark plans"),
         (102, "another clean doc with its own fresh tokens entirely")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, f"eval question: {leak}"),
         (2, "an eval item with no overlap at all")],
        "doc_id long, text string")
    bloom = DC.build_ngram_bloom(ev, m_bits=1 << 16)
    assert bloom[1] == 1 << 16
    flagged = DC.bloom_contaminated(train, bloom)
    assert {(r.train_id, r.n_shared) for r in flagged.collect()} == {(100, 2)}
    clean = {r.doc_id for r in DC.decontaminate_bloom(train, ev)
             .select("doc_id").collect()}
    assert clean == {101, 102}
    # the probe itself is join-free: shingle → bitmap test, no Exchange
    # before the hit aggregation, and no join operator at all
    plan = formatted_plan(DC.bloom_contaminated(train, bloom))
    assert "Join" not in plan, plan
    with pytest.raises(ValueError, match="power of two"):
        DC.build_ngram_bloom(ev, m_bits=1000)
    with pytest.raises(ValueError, match="2\\*\\*55"):
        DC.build_ngram_bloom(ev, m_bits=1 << 56)


def test_bloom_positions_reach_whole_bitmap_and_match_numpy(spark):
    """r9 ADVICE (medium): the old 32-bit-halves double hash capped bit
    positions at ~2^35, so for m_bits > 2^32 the upper bitmap was dead
    and the documented ~f^k FP bound silently failed.  The full-64-bit
    scheme must (a) produce positions above 2^35 for a huge m, and
    (b) agree bit-for-bit with the numpy probe math.  Positions only —
    no bitmap is allocated."""
    import numpy as np
    from pandas_db_spark.operators.decontam import _bloom_position_cols

    m_bits, k = 1 << 48, 8
    df = spark.createDataFrame(
        [(f"shingle number {i} of the probe set",) for i in range(512)],
        "shingle string")
    h = F.xxhash64("shingle")
    jvm = (df.select(F.array(*_bloom_position_cols(h, m_bits, k))
                     .alias("pos"), h.alias("h"))
             .collect())
    mask = np.uint64(m_bits - 1)
    top = 0
    for row in jvm:
        hv = np.uint64(np.int64(row.h))
        base = hv & mask
        stride = (((hv << np.uint64(21)) | (hv >> np.uint64(43)))
                  | np.uint64(1)) & mask
        want = [int((base + np.uint64(j) * stride) & mask)
                for j in range(k)]
        assert list(row.pos) == want
        top = max(top, max(want))
    # with 4096 uniform positions in [0, 2^48) the chance all fall
    # below 2^35 is astronomically small — dead-upper-bitmap regression
    assert top > 1 << 35


def test_bloom_broadcast_cached_across_calls(spark):
    """r9 ADVICE (low): bloom_contaminated must not create a fresh
    TorrentBroadcast per call — foreachBatch probes the same bitmap
    every micro-batch and would leak one broadcast per batch."""
    from pandas_db_spark.operators import decontam as DC

    sc = spark.sparkContext
    words = __import__("numpy").zeros(1 << 10, dtype="uint64")
    bc1 = DC._bloom_broadcast(sc, words)
    bc2 = DC._bloom_broadcast(sc, words)
    assert bc1 is bc2
    other = __import__("numpy").ones(1 << 10, dtype="uint64")
    assert DC._bloom_broadcast(sc, other) is not bc1


def test_classifier_score_hashed_hand_checked(spark):
    """The linear scorer reproduces a hand-computed logit: with all
    weights equal the logit is bias + w * n_bigrams, and with distinct
    weights the fold matches a pure-Python replay of the hash chain."""
    from pandas_db_spark.operators.lm import classifier_score_hashed

    df = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, "cc dd"), (3, "solo")],
        "doc_id long, text string")
    # uniform weights: logit = bias + 0.5 * (#tokens - 1)
    out = {r.doc_id: r.logit for r in
           classifier_score_hashed(df, [0.5] * 64, bias=1.0).collect()}
    assert out[1] == 1.0 + 0.5 * 3
    assert out[2] == 1.0 + 0.5 * 1
    assert 3 not in out  # single-token doc has no bigram features

    # distinct weights: replay the hash chain in pure Python
    def whash(w):
        g = 0
        for ch in w:
            g = (g * 31 + ord(ch)) % 2_147_483_648
        return g

    weights = [((b * 37 + 11) % 101 - 50) / 100.0 for b in range(64)]
    toks = "aa bb aa bb".split()
    feats: dict[int, int] = {}
    for i in range(len(toks) - 1):
        b = ((whash(toks[i]) * 31 + whash(toks[i + 1]))
             % 2_147_483_648) % 64
        feats[b] = feats.get(b, 0) + 1
    want = 0.25
    for b in sorted(feats):
        want += weights[b] * feats[b]
    got = {r.doc_id: r.logit for r in
           classifier_score_hashed(df, weights, bias=0.25).collect()}
    assert got[1] == want


def test_c4_battery_branches(spark):
    """C4 line + page rules fire on their designed pathologies (r10,
    Raffel et al. 2020 §2.2): terminal-punctuation, >= 5 words, the
    javascript line rule; lorem/brace/policy/sentence-count page rules;
    and within-page repeated-line stripping keeps first occurrences."""
    from pandas_db_spark.functions.text import (c4_clean_lines,
                                                c4_page_flags,
                                                strip_repeated_lines)

    page = ("this is a good long sentence that survives fine.\n"
            "short line.\n"
            "no terminal punctuation on this long line here\n"
            "please enable javascript to view this content.\n"
            "another good long sentence that also survives here!\n"
            'a quoted ending line with plenty of words here."\n'
            "third good long sentence to pass the count.")
    rows = [
        (1, page),
        (2, "lorem ipsum dolor sit amet consectetur adipiscing elit.\n"
            "second okay sentence with many words right here.\n"
            "third fine sentence with enough words to pass now.\n"
            "fourth good sentence here with plenty of words too."),
        (3, "config { width: 3 } and more stuff here ok."),
        (4, "read our privacy policy before continuing on this site."),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r for r in df.select(
        "id", c4_clean_lines(F.col("t")).alias("c"),
        c4_page_flags(F.col("t")).alias("f")).collect()}
    # line filter: 4 of 7 survive (short, unpunctuated, javascript drop)
    assert (got[1].c.n_lines, got[1].c.n_kept) == (7, 4)
    assert "javascript" not in got[1].c.clean_text
    assert "short line." not in got[1].c.clean_text
    assert 'words here."' in got[1].c.clean_text  # quote counts terminal
    assert got[1].f.c4_keep
    # page rules: each pathology trips exactly its flag
    assert not got[2].f.no_lorem and got[2].f.no_brace
    assert not got[3].f.no_brace and got[3].f.no_lorem
    assert not got[4].f.no_policy
    assert not got[3].f.enough_sentences  # 1 sentence after cleaning
    for i in (2, 3, 4):
        assert not got[i].f.c4_keep
    # repeated-line strip: trimmed repeats drop, first occurrences stay
    rep = spark.createDataFrame(
        [(1, "a line here.\nb line there.\na line here.\n"
             "  a line here.\nc line again.")], "id long, t string")
    s = rep.select(strip_repeated_lines(F.col("t")).alias("s")) \
           .collect()[0].s
    assert s.clean_text == "a line here.\nb line there.\nc line again."
    assert s.n_removed == 2


def test_gopher_flags_rules_fire_individually(spark):
    """Each Gopher rule trips on its designed pathology and the keep
    flag is the conjunction."""
    from pandas_db_spark.functions.text import gopher_flags

    prose = ("the quick brown fox jumps over the lazy dog and then "
             "runs away to be with the other foxes that have made "
             "their home beyond the river of glass with ample speed "
             "and grace that none of the hounds could ever hope to "
             "match even on the best of days for they have trained") * 2
    rows = [
        (0, prose),                                   # clean: all pass
        (1, "too short"),                             # wc_ok fails
        (2, " ".join(["a"] * 60)),                    # wlen_ok fails (mean 1)
        (3, prose + " " + "#" * 1 + " #" * 30),       # symbol_ok fails
        (4, prose + " " + " ".join(["123"] * 60)),    # alpha_ok fails
        (5, "\n".join(["- bullet line"] * 40) + "\n" + prose),  # bullet
        (6, "\n".join(["ends like this..."] * 40) + "\n" + prose),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flags = gopher_flags(F.col("text"))
    out = {r.doc_id: r.asDict() for r in
           df.select("doc_id", *[c.alias(n) for n, c in flags.items()])
           .collect()}
    assert out[0]["gopher_keep"]
    assert not out[1]["wc_ok"] and not out[1]["gopher_keep"]
    assert not out[2]["wlen_ok"]
    assert not out[3]["symbol_ok"]
    assert not out[4]["alpha_ok"]
    assert not out[5]["bullet_ok"]
    assert not out[6]["ellipsis_ok"]
    # stopword rule: a doc with < 2 distinct Gopher stopwords
    lex = spark.createDataFrame(
        [(7, " ".join(["word unique tokens galore"] * 30))],
        "doc_id long, text string")
    got = lex.select(gopher_flags(F.col("text"))["stop_ok"]
                     .alias("s")).collect()[0].s
    assert not got


def test_pack_sequences_rejects_non_numeric_id(spark):
    """A string id must raise, not silently return zero rows (the chunk
    decomposition needs id RANGES)."""
    from pandas_db_spark.operators import packing as P

    docs = spark.createDataFrame(
        [("u1", "some text here"), ("u2", "more text here")],
        "url string, text string")
    with pytest.raises(TypeError, match="numeric id_col"):
        P.pack_sequences(docs, id_col="url")


def test_redact_pii_planted(spark):
    docs = spark.createDataFrame(
        [(1, "mail a.b+c@d-e.org ip 10.0.255.1 phone 555-123-4567 end"),
         (2, "no pii here just words and 12345 numbers"),
         (3, "edge 999.999.999.999 still tagged; version 1.2.3 is not")],
        "doc_id long, text string")
    got = {r.doc_id: r.clean for r in docs.select(
        "doc_id", X.redact_pii(F.col("text")).alias("clean")).collect()}
    assert got[1] == "mail <EMAIL> ip <IP> phone <PHONE> end"
    assert got[2] == "no pii here just words and 12345 numbers"
    assert "<IP>" in got[3] and "1.2.3" in got[3]


def test_global_exact_n_sample_deterministic(docs):
    """strata_cols=[] is the global deterministic exact-n draw: exact
    count, partition-invariant, and the final single-partition window only
    ever sees phase-1 survivors."""
    from pandas_db_spark.operators import sampling as SA

    a = {r.doc_id for r in
         SA.stratified_sample(docs, [], 7, "doc_id").select("doc_id").collect()}
    b = {r.doc_id for r in
         SA.stratified_sample(docs.repartition(9), [], 7, "doc_id")
           .select("doc_id").collect()}
    assert a == b and len(a) == 7


def test_stratified_sample_fanin_guard(docs, monkeypatch):
    """r5 verdict #3: when n x #input-partitions exceeds the window fan-in
    bound, intermediate tree-reduction levels must keep every window task's
    input bounded — WITHOUT changing the result."""
    from pandas_db_spark.operators import sampling as SA

    baseline = {tuple(r) for r in
                SA.stratified_sample(docs, ["lang"], 3, "doc_id")
                  .select("doc_id").collect()}

    # Tiny bound: n=3, 64 partitions, k = max(2, 24 // 3) = 8 -> one
    # intermediate level (64 -> 8 -> final).
    monkeypatch.setattr(SA, "MAX_WINDOW_FANIN_ROWS", 24)
    many = docs.repartition(64)
    guarded = SA.stratified_sample(many, ["lang"], 3, "doc_id")
    got = {tuple(r) for r in guarded.select("doc_id").collect()}
    assert got == baseline

    # the guard actually inserted a reduction level: 3 windows+filters in
    # the plan (local, intermediate, final) instead of 2
    plan = guarded._jdf.queryExecution().analyzed().toString()
    assert plan.count("Window [") == 3

    # global (strata_cols=[]) path under the guard stays exact-n
    monkeypatch.setattr(SA, "MAX_WINDOW_FANIN_ROWS", 16)
    g = SA.stratified_sample(many, [], 7, "doc_id").select("doc_id")
    base_g = SA.stratified_sample(docs, [], 7, "doc_id").select("doc_id")
    assert ({tuple(r) for r in g.collect()}
            == {tuple(r) for r in base_g.collect()})
    assert g.count() == 7


def test_minhash_hash_bits_61(docs):
    """r5 verdict #8: the 61-bit base-hash/modulus option must change the
    hash FAMILY (different signatures) while keeping the recall contract —
    same verified pairs as the exact oracle on the near-dup corpus."""
    truth = exact_jaccard_pairs(docs.toPandas(), 0.8)
    got61 = {(r["id_a"], r["id_b"])
             for r in D.minhash_pairs(docs, "text", "doc_id", 0.8,
                                      hash_bits=61).collect()}
    assert got61 == truth

    sh = D._shared_shingles(docs, "text", "doc_id", 3, False)
    s31 = {r["doc_id"]: tuple(r["sig"])
           for r in D.minhash_signatures(sh, "doc_id", 16).collect()}
    s61 = {r["doc_id"]: tuple(r["sig"])
           for r in D.minhash_signatures(sh, "doc_id", 16,
                                         hash_bits=61).collect()}
    assert set(s31) == set(s61)
    assert all(s31[k] != s61[k] for k in s31)  # genuinely different family
    # 61-bit values exercise the wide range yet stay valid signed longs
    all61 = [v for sig in s61.values() for v in sig]
    assert all(0 <= v < (1 << 61) for v in all61)
    assert max(all61) > (1 << 32)  # actually using the wider space

    with pytest.raises(ValueError):
        D.minhash_signatures(sh, "doc_id", 16, hash_bits=48)


def test_mulmod61_matches_python_bigints():
    """The limb-split modular multiply must agree with exact big-int
    arithmetic across the operand range (boundaries + random)."""
    import random as _random

    p = (1 << 61) - 1
    rng = _random.Random(7)
    pairs = [(1, 1), (p - 1, p - 1), (p - 1, 1), ((1 << 31) - 1, (1 << 31)),
             (p // 2, p // 3)]
    pairs += [(rng.randrange(p), rng.randrange(p)) for _ in range(500)]
    a = np.array([x for x, _ in pairs], dtype=np.uint64)
    h = np.array([y for _, y in pairs], dtype=np.uint64)
    got = D._mulmod61(a, h)
    for i, (x, y) in enumerate(pairs):
        assert int(got[i]) == (x * y) % p, (x, y)


def test_kmeans_clustering_contracts(emb):
    """Spherical k-means: every vector assigned, exactly the fitted k
    cluster ids possible, the fit improves cohesion over the init, and
    assign_clusters ties agree with the lowest-index rule."""
    from pandas_db_spark.operators import clustering as C

    n = emb.count()
    cent = C.kmeans_fit(emb, k=8, n_iter=3)
    assert cent.shape == (8, 64)
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0)

    assigned = C.assign_clusters(emb, cent).toPandas()
    assert len(assigned) == n
    assert set(assigned["cluster_id"]) <= set(range(8))
    assert assigned["vec_id"].is_unique

    # cohesion: mean cosine-to-own-centroid beats the unclustered baseline
    vecs = emb.select("vec_id", "embedding").toPandas()
    mat = np.array(list(vecs["embedding"]), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_id = dict(zip(assigned["vec_id"], assigned["cluster_id"]))
    own = np.array([cent[by_id[v]] for v in vecs["vec_id"]])
    cohesion = (mat * own).sum(axis=1).mean()
    global_mean = mat.mean(axis=0)
    global_mean /= np.linalg.norm(global_mean)
    baseline = (mat @ global_mean).mean()
    assert cohesion > baseline + 0.01

    # deterministic fixed-centroid path: same result twice
    a1 = sorted(map(tuple, assigned[["vec_id", "cluster_id"]].to_numpy()))
    a2 = sorted(map(tuple, C.assign_clusters(emb, cent).toPandas()
                    [["vec_id", "cluster_id"]].to_numpy()))
    assert a1 == a2

    with pytest.raises(ValueError):
        C.kmeans_fit(emb, k=0)


def test_weighted_hash_sample_determinism_and_rates(spark, db):
    """Weighted Bernoulli: deterministic across calls, monotone in rate,
    weight-0 rows never kept, weight>=1/rate rows always kept."""
    from pandas_db_spark.operators.sampling import weighted_hash_sample
    from pyspark.sql import functions as F

    d = db.documents.df.withColumn("__w", F.col("n_chars") / 256.0)
    a = sorted(r["doc_id"] for r in
               weighted_hash_sample(d, 0.5, "__w", "doc_id").collect())
    b = sorted(r["doc_id"] for r in
               weighted_hash_sample(d, 0.5, "__w", "doc_id").collect())
    assert a == b and 0 < len(a) < d.count()
    bigger = sorted(r["doc_id"] for r in
                    weighted_hash_sample(d, 0.9, "__w", "doc_id").collect())
    assert set(a) <= set(bigger)
    zero = d.withColumn("__w", F.lit(0.0))
    assert weighted_hash_sample(zero, 0.5, "__w", "doc_id").count() == 0
    sure = d.withColumn("__w", F.lit(10.0))
    assert weighted_hash_sample(sure, 0.5, "__w", "doc_id").count() == \
        d.count()
    import pytest as _pt
    with _pt.raises(ValueError, match=">= 0"):
        weighted_hash_sample(d, -0.1, "__w", "doc_id")


def test_clean_corpus_transitive_subset(spark, db):
    """Transitive near-dedup keeps a subset of (or the same set as) the
    pairwise policy — closure can only merge more docs into clusters —
    and both keep the exact-dedup survivors' annotations."""
    from pandas_db_spark.operators.pipeline import clean_corpus

    pw = {r["doc_id"] for r in clean_corpus(db.documents.df).collect()}
    tr = {r["doc_id"]
          for r in clean_corpus(db.documents.df, transitive=True).collect()}
    assert tr <= pw and tr


def test_dedup_incremental_against_store(spark):
    store_docs = spark.createDataFrame(
        [(100, "already ingested"), (101, "old news")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "Already  Ingested"),   # dup of store (normalized)
         (2, "fresh content"),
         (3, "fresh content"),       # in-batch dup of 2
         (4, "more fresh")],
        "doc_id long, text string")
    store = D.fingerprint_store(store_docs, "text", "doc_id")
    kept = {r[0] for r in
            D.dedup_incremental(batch, store, "text", "doc_id").collect()}
    assert kept == {2, 4}


def test_fingerprint_store_schema(spark):
    s = D.fingerprint_store(
        spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        "text", "doc_id")
    assert s.columns == ["digest", "id"]
    assert s.collect()[0]["digest"] == s.collect()[0]["digest"]  # stable


def test_minhash_incremental_store_probe(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    store_docs = spark.createDataFrame(
        [(100, base), (101, "completely unrelated content about spark")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, base + " indeed"),        # near-dup of store doc 100
         (2, "novel text that matches nothing in the old corpus at all "
             "with plenty of fresh words to shingle properly today"),
         (3, base)],                   # exact dup of store doc 100
        "doc_id long, text string")
    kept = {r[0] for r in D.minhash_incremental(
        batch, store_docs, "text", "doc_id", threshold=0.5).collect()}
    assert kept == {2}
    # precomputed-store path gives the identical answer
    sigs = D.minhash_store(store_docs, "text", "doc_id")
    kept2 = {r[0] for r in D.minhash_incremental(
        batch, store_docs, "text", "doc_id", threshold=0.5,
        store_sigs=sigs).collect()}
    assert kept2 == kept


def test_epoch_shuffle_deterministic_permutation(spark, docs):
    """r7: epoch_shuffle assigns a 1..n permutation, identical across
    calls and partitionings for the same seed, different for another
    seed, and equal to the manual md5 sort."""
    from pandas_db_spark.operators.sampling import epoch_shuffle
    import hashlib

    n = docs.count()
    out = epoch_shuffle(docs, "doc_id", seed="s1")
    rows = {r["doc_id"]: r["pos"] for r in out.collect()}
    assert sorted(rows.values()) == list(range(1, n + 1))
    # deterministic across a different input partitioning
    out2 = epoch_shuffle(docs.repartition(7), "doc_id", seed="s1")
    assert {r["doc_id"]: r["pos"] for r in out2.collect()} == rows
    # new seed => a different permutation
    out3 = epoch_shuffle(docs, "doc_id", seed="s2")
    assert {r["doc_id"]: r["pos"] for r in out3.collect()} != rows
    # equals the manual md5 order
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    manual = sorted(ids, key=lambda i: (
        hashlib.md5(f"{i}:s1".encode()).hexdigest(), i))
    assert [i for i, _ in sorted(rows.items(), key=lambda kv: kv[1])] \
        == manual


def test_build_vocab_bounds_and_ids(spark, docs):
    """r7: df bounds respected, term_ids contiguous from 0 in
    (cf desc, term) order, max_size caps, validation raises."""
    import pytest
    from pandas_db_spark.operators.retrieval import build_vocab, term_stats

    n_docs = docs.count()
    vocab = build_vocab(docs, "text", "doc_id", min_df=2,
                        max_df_frac=0.9, max_size=10).collect()
    assert 0 < len(vocab) <= 10
    assert all(2 <= r["df"] <= int(0.9 * n_docs) for r in vocab)
    order = sorted(vocab, key=lambda r: (-r["cf"], r["term"]))
    assert [r["term_id"] for r in order] == list(range(len(vocab)))
    # ids agree with a full recount
    st = {r["term"]: (r["df"], r["cf"])
          for r in term_stats(docs, "text", "doc_id").collect()}
    for r in vocab:
        assert st[r["term"]] == (r["df"], r["cf"])
    with pytest.raises(ValueError, match="min_df"):
        build_vocab(docs, "text", "doc_id", min_df=0)
    with pytest.raises(ValueError, match="max_df_frac"):
        build_vocab(docs, "text", "doc_id", max_df_frac=1.5)
    with pytest.raises(ValueError, match="max_size"):
        build_vocab(docs, "text", "doc_id", max_size=0)


def test_embedding_centroids_exact_and_partition_invariant(spark, db):
    """r7: centroids equal the numpy mean of 1e-7-quantized components,
    and are BIT-identical under a different partitioning (exact long
    sums are order-invariant)."""
    import numpy as np
    from pandas_db_spark.operators.similarity import embedding_centroids

    e = db.embeddings.df
    got = {(r["label"], r["dim"]): r["mean"]
           for r in embedding_centroids(e, "label").collect()}
    pdf = e.toPandas()
    for lbl, grp in pdf.groupby("label"):
        mat = np.vstack(grp["embedding"].values).astype("float64")
        q = np.round(mat * 1e7)
        want = (q.sum(axis=0) / len(grp)) / 1e7
        for d in range(mat.shape[1]):
            assert got[(lbl, d)] == want[d]
    re = {(r["label"], r["dim"]): r["mean"]
          for r in embedding_centroids(e.repartition(13),
                                       "label").collect()}
    assert re == got


def test_take_until_budget_greedy_and_chunked(spark, docs):
    """r7: best-first selection under a global budget — matches a pandas
    greedy walk exactly, first overflowing row kept, chunk decomposition
    invariant (tiny chunk_rows == one-chunk result), validation."""
    import pytest
    from pyspark.sql import functions as F
    from pandas_db_spark.operators.sampling import take_until_budget

    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    budget = 400
    out = take_until_budget(docs, toks, budget, F.length("text"),
                            "doc_id").collect()
    got = {r["doc_id"]: r["budget_before"] for r in out}

    pdf = docs.selectExpr(
        "doc_id", "size(split(trim(text), '\\\\s+')) AS w",
        "length(text) AS o").toPandas()
    pdf = pdf.sort_values(["o", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    want, run = {}, 0
    for _, r in pdf.iterrows():
        if run < budget:
            want[r["doc_id"]] = run
        run += r["w"]
    assert got == want
    assert 0 < len(got) < docs.count()   # budget binds, keeps something
    # the LAST kept row overflows past the budget (kept by contract)
    assert max(got.values()) < budget <= max(got.values()) + \
        int(pdf.set_index("doc_id").loc[max(got, key=got.get), "w"])
    # chunk decomposition is semantics-free
    out2 = take_until_budget(docs, toks, budget, F.length("text"),
                             "doc_id", chunk_rows=16).collect()
    assert {r["doc_id"]: r["budget_before"] for r in out2} == got
    with pytest.raises(ValueError, match="budget"):
        take_until_budget(docs, toks, 0, F.length("text"), "doc_id")


def test_take_until_budget_construction_only_ordinal_jobs(spark, docs):
    """r8 (VERDICT r7 #3): the per-chunk offsets are a lazy prefix-sum
    window, not a driver collect — after pre-warming the ordinal cache
    with an identical arranged frame, construction fires ZERO further
    jobs (the old code collected the chunk totals eagerly)."""
    from pyspark.sql import functions as F
    from pandas_db_spark.plans import ordinal as O
    from pandas_db_spark.operators.sampling import take_until_budget

    def n_jobs():
        return spark._jsparkSession.sparkContext().statusStore() \
            .jobsList(None).size()

    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    # replicate the internal arranged frame (same semantic hash) to warm
    # the ordinal's plan-keyed cache
    proj = docs.select(F.col("doc_id"), toks.cast("long").alias("__w"),
                       F.length("text").alias("__o"))
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    arranged = (proj.repartitionByRange(
        n_parts, F.desc("__o"), F.asc("doc_id"))
        .sortWithinPartitions(F.desc("__o"), F.asc("doc_id")))
    O.with_ordinal_and_count(arranged)
    before = n_jobs()
    out = take_until_budget(docs, toks, 400, F.length("text"), "doc_id")
    assert n_jobs() == before, \
        "take_until_budget construction ran non-ordinal jobs"
    assert out.count() > 0


def test_auto_sign_geometry_scales_with_density(spark):
    """r8: the sf1 rehearsal showed fixed (64, 16) bands go ~quadratic in
    candidates as corpora densify (4k at n=2e3 -> 398k at n=2e4).  The
    auto geometry must (a) grow rows with n so the expected RANDOM-pair
    candidate mass stays <= ~10/vector, (b) size bands to keep true-pair
    miss <= 1e-6 at the threshold, (c) reject half-explicit calls."""
    import math
    import pytest
    from pandas_db_spark.operators.similarity import (auto_sign_geometry,
                                                      cosine_pairs_lsh)

    prev_rows = 0
    for n in (2_000, 20_000, 10**6, 10**9):
        b, r = auto_sign_geometry(n, 0.95)
        assert r >= prev_rows          # monotone with density
        prev_rows = r
        # recall bound: miss at sim == threshold <= 1e-6
        p = 1.0 - math.acos(0.95) / math.pi
        assert (1.0 - p ** r) ** b <= 1e-6
        # random-pair budget: expected collisions <= 10 per vector
        assert (n * (n - 1) / 2) * b * 0.5 ** r <= 10 * n
        assert r <= 61                 # bh packs into a signed long

    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(4)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="both"):
        cosine_pairs_lsh(df, bands=32, rows="auto")


def test_mix_by_token_budget_allocations(spark):
    """r8: budget splits proportionally (floor), each corpus fills in its
    own md5 order with the first-overflow row kept, sources tagged,
    validation raises; a zero-allocation corpus drops out."""
    import hashlib
    import pytest
    from pyspark.sql import functions as F
    from pandas_db_spark.operators.sampling import mix_by_token_budget

    a = spark.createDataFrame(
        [(i, "x " * 10) for i in range(20)], "doc_id long, text string")
    b = spark.createDataFrame(
        [(100 + i, "y " * 10) for i in range(20)], "doc_id long, text string")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))

    out = mix_by_token_budget({"a": (a, 3.0), "b": (b, 1.0)},
                              80, toks, "doc_id", salt="t").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # allocs: a=60, b=20 tokens at 10 tokens/doc -> 6 and 2 docs
    assert len(by_src["a"]) == 6 and len(by_src["b"]) == 2
    # each corpus's kept set = the md5-smallest ids for ITS salt|name
    for name, frame, alloc_docs in (("a", a, 6), ("b", b, 2)):
        ids = [r[0] for r in frame.select("doc_id").collect()]
        want = sorted(ids, key=lambda i: (
            hashlib.md5(f"{i}|t|{name}".encode()).hexdigest(), i))[:alloc_docs]
        assert sorted(r["doc_id"] for r in by_src[name]) == sorted(want)
    # running totals are exact multiples of the 10-token doc weight
    assert {r["budget_before"] % 10 for r in out} == {0}

    # overflow contract: an alloc that lands mid-document keeps that doc
    out2 = mix_by_token_budget({"a": (a, 1.0)}, 25, toks, "doc_id").collect()
    assert len(out2) == 3 and max(r["budget_before"] for r in out2) == 20

    # corpus weighted out of the mix at this budget disappears
    out3 = mix_by_token_budget({"a": (a, 1000.0), "b": (b, 1.0)},
                               100, toks, "doc_id").collect()
    assert {r["source"] for r in out3} == {"a"}

    with pytest.raises(ValueError, match="budget"):
        mix_by_token_budget({"a": (a, 1.0)}, 0, toks, "doc_id")
    with pytest.raises(ValueError, match="non-empty"):
        mix_by_token_budget({}, 10, toks, "doc_id")
    with pytest.raises(ValueError, match="sum"):
        mix_by_token_budget({"a": (a, 0.0)}, 10, toks, "doc_id")


def test_take_until_budget_by_matches_per_group(spark, docs):
    """r8: the single-pass keyed form must equal running
    take_until_budget per group — including with tiny chunk_rows so
    groups span many chunks — and drop groups without a budget."""
    from pyspark.sql import functions as F
    from pandas_db_spark.operators.sampling import (take_until_budget,
                                                    take_until_budget_by)

    d = docs.withColumn("grp", (F.col("doc_id") % 3).cast("string"))
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    budgets = {"0": 300, "1": 150}          # group "2" gets no budget
    keyed = take_until_budget_by(d, "grp", budgets, toks,
                                 F.length("text"), "doc_id",
                                 chunk_rows=8).collect()
    got = {r["doc_id"]: (r["grp"], r["budget_before"]) for r in keyed}

    want = {}
    for g, b in budgets.items():
        sub = d.where(F.col("grp") == g)
        for r in take_until_budget(sub, toks, b, F.length("text"),
                                   "doc_id").collect():
            want[r["doc_id"]] = (g, r["budget_before"])
    assert got == want
    assert all(g != "2" for g, _ in got.values())

    import pytest
    with pytest.raises(ValueError, match="non-empty"):
        take_until_budget_by(d, "grp", {}, toks, F.length("text"), "doc_id")
    with pytest.raises(ValueError, match="positive"):
        take_until_budget_by(d, "grp", {"0": 0}, toks,
                             F.length("text"), "doc_id")


def test_cosine_incremental_store_probe(spark, emb):
    """r8: batch vectors near-duplicating store vectors are dropped
    (exact-verified), novel vectors survive; a prebuilt signlsh_store
    with its pinned geometry gives identical results; auto geometry
    with a prebuilt store is rejected."""
    import pytest
    from pyspark.sql import functions as F
    from pandas_db_spark.operators.similarity import (cosine_incremental,
                                                      signlsh_store)

    store = emb.select("vec_id", "embedding")
    copies = (store.where(F.col("vec_id") < 10)
              .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    novel = (store.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
             .withColumn("vec_id", F.col("vec_id") + 2_000_000)
             .withColumn("embedding", F.transform("embedding",
                                                  lambda x: -x)))
    batch = copies.unionByName(novel)

    kept = {r["vec_id"] for r in
            cosine_incremental(batch, store).collect()}
    assert kept == {2_000_000 + i for i in range(10, 20)}

    # prebuilt store keys with pinned explicit geometry: same answer,
    # and the store's TEXT... vectors are only probed for candidates
    keys = signlsh_store(store, bands=69, rows=16)
    kept2 = {r["vec_id"] for r in
             cosine_incremental(batch, store, bands=69, rows=16,
                                store_keys=keys).collect()}
    assert kept2 == kept

    with pytest.raises(ValueError, match="pins its geometry"):
        cosine_incremental(batch, store, store_keys=keys)
    with pytest.raises(ValueError, match="both"):
        cosine_incremental(batch, store, bands=32, rows="auto")


def test_auto_sign_geometry_exact_threshold(spark, emb):
    """r9 (ADVICE r8): threshold=1.0 — a plausible exact-duplicate call —
    gives per-hyperplane agreement p=1.0, which used to hit
    log(1 - p^r) = log(0).  The clamp must return a valid geometry
    (one band suffices when every true pair collides) that still
    respects the random-candidate budget, and cosine_pairs_lsh must
    construct and run at threshold=1.0."""
    import math
    b, r = S.auto_sign_geometry(20_000, 1.0)
    assert b >= 1 and 16 <= r <= 61
    assert (20_000 * 19_999 / 2) * b * 0.5 ** r <= 10 * 20_000
    # end-to-end: exact copies are still found at threshold 1.0
    copies = (emb.where(F.col("vec_id") < 5)
              .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    ext = emb.select("vec_id", "embedding").unionByName(
        copies.select("vec_id", "embedding"))
    pairs = {(r2["id_a"], r2["id_b"])
             for r2 in S.cosine_pairs_lsh(ext, threshold=1.0).collect()}
    assert {(i, 1_000_000 + i) for i in range(5)} <= pairs


def test_lsh_corpus_count_memoized(spark, emb):
    """r9 (VERDICT r8 #6 + ADVICE): the auto-geometry corpus count is
    memoized by plan semanticHash — constructing a second LSH plan over
    the same frame fires ZERO jobs, and an explicit n= hint skips the
    count entirely."""
    def n_jobs():
        return spark._jsparkSession.sparkContext().statusStore() \
            .jobsList(None).size()

    e = emb.select("vec_id", "embedding")
    S.cosine_pairs_lsh(e, threshold=0.95)       # may run the count once
    before = n_jobs()
    S.cosine_pairs_lsh(e, threshold=0.95)       # memo hit
    assert n_jobs() == before, "second auto-geometry construction ran a job"
    S.cosine_incremental(e.limit(5), e)          # store count memoized too
    mid = n_jobs()
    S.cosine_incremental(e.limit(5), e)
    assert n_jobs() == mid, "cosine_incremental re-counted a memoized plan"
    before = n_jobs()
    S.cosine_pairs_lsh(e, threshold=0.95, n=500)  # hint: no job at all
    assert n_jobs() == before, "n= hint still ran a count job"
    # (cosine_pairs_ivf's centroid fit is a documented construction-time
    # sample collect — its n= hint skips only the geometry count)


def test_cosine_pairs_ivf_matches_exact(spark, emb):
    """r9 (VERDICT r8 #3): the IVF dedup route — within-list candidate
    generation, exact verify — must recover EXACTLY the true cosine-0.95
    pair set on a corpus with planted duplicates (identical vectors are
    deterministically co-listed; the base corpus holds no natural pair,
    verified here against the numpy exact answer, so precision+recall
    are both externally checked)."""
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ext_ids = np.concatenate([ids, ids[:25] + 1_000_000])
    ext_mat = np.vstack([mat, mat[:25]])
    sims = ext_mat @ ext_mat.T
    exact = set()
    for i in range(len(ext_ids)):
        for j in range(i + 1, len(ext_ids)):
            if sims[i, j] >= 0.95:
                a, b = sorted((int(ext_ids[i]), int(ext_ids[j])))
                exact.add((a, b))
    assert len(exact) == 25  # planted pairs only — corpus has no natural pair

    copies = (emb.where(F.col("vec_id") < 25)
              .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    ext = emb.select("vec_id", "embedding").unionByName(
        copies.select("vec_id", "embedding"))
    got = {(r["id_a"], r["id_b"])
           for r in S.cosine_pairs_ivf(ext, threshold=0.95).collect()}
    assert got == exact
    # no cartesian product in the plan
    assert "CartesianProduct" not in formatted_plan(
        S.cosine_pairs_ivf(ext, threshold=0.95, n=525))


def test_reband_store_identical_survivors(spark, emb, tmp_path):
    """r9 (VERDICT r8 #2): migrating a store to a new geometry — keys
    recomputed from the persisted vectors, /meta re-pinned — must yield
    the IDENTICAL survivor set for a planted batch probed through the
    store, before and after.  Also: meta records the new pin and the
    keys table matches bands-per-vector."""
    store_dir = str(tmp_path / "store")
    e = emb.select("vec_id", "embedding")
    e.write.parquet(store_dir + "/vecs")
    S.signlsh_store(e, bands=4, rows=16).write.parquet(store_dir + "/keys")
    (spark.createDataFrame([(4, 16, None)],
                           "bands long, rows long, expected_corpus long")
     .write.parquet(store_dir + "/meta"))

    def probe(bands, rows):
        vecs = spark.read.parquet(store_dir + "/vecs")
        keys = spark.read.parquet(store_dir + "/keys")
        copies = (e.where(F.col("vec_id") < 10)
                  .withColumn("vec_id", F.col("vec_id") + 1_000_000))
        novel = (e.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
                 .withColumn("vec_id", F.col("vec_id") + 2_000_000)
                 .withColumn("embedding",
                             F.transform("embedding", lambda x: -x)))
        return {r["vec_id"] for r in S.cosine_incremental(
            copies.unionByName(novel), vecs, bands=bands, rows=rows,
            store_keys=keys).collect()}

    before = probe(4, 16)
    nb, nr = S.reband_store(spark, store_dir, threshold=0.95,
                            expected_corpus=100_000)
    assert (nb, nr) == S.auto_sign_geometry(100_000, 0.95)
    meta = spark.read.parquet(store_dir + "/meta").collect()[0]
    assert (int(meta["bands"]), int(meta["rows"])) == (nb, nr)
    assert int(meta["expected_corpus"]) == 100_000
    keys = spark.read.parquet(store_dir + "/keys")
    assert keys.count() == e.count() * nb
    after = probe(nb, nr)
    assert after == before == {2_000_000 + i for i in range(10, 20)}
    with pytest.raises(ValueError, match="both"):
        S.reband_store(spark, store_dir, bands=8, rows="auto")


def test_compact_signlsh_store(spark, emb, tmp_path):
    """r9 (VERDICT r8 #2): compaction dedups the duplicate rows that
    at-least-once appends accumulate, collapses batch history into the
    batch_id=-1 sentinel partition (so later per-batch dynamic
    overwrites can't touch compacted rows), and survivor sets are
    unchanged."""
    import os
    store_dir = str(tmp_path / "store")
    e = emb.select("vec_id", "embedding").where(F.col("vec_id") < 50)
    keys = S.signlsh_store(e, bands=4, rows=16)
    for b in (0, 1):  # simulate two batches, each double-appended
        for _ in range(2):
            (e.withColumn("batch_id", F.lit(b)).write.mode("append")
             .partitionBy("batch_id").parquet(store_dir + "/vecs"))
            (keys.withColumn("batch_id", F.lit(b)).write.mode("append")
             .partitionBy("batch_id").parquet(store_dir + "/keys"))
    assert spark.read.parquet(store_dir + "/vecs").count() == 4 * 50

    S.compact_signlsh_store(spark, store_dir)
    vecs = spark.read.parquet(store_dir + "/vecs")
    kdf = spark.read.parquet(store_dir + "/keys")
    assert vecs.count() == 50                      # one row per vector
    assert kdf.count() == 50 * 4                   # one key per (id, band)
    assert {r["batch_id"] for r in vecs.select("batch_id")
            .distinct().collect()} == {-1}
    assert os.path.isdir(store_dir + "/vecs/batch_id=-1")
    # the folded partition is still written as up to n_files files
    n_vec_files = sum(f.endswith(".parquet")
                      for f in os.listdir(store_dir + "/vecs/batch_id=-1"))
    assert 1 < n_vec_files <= 8
    # the compacted store still answers probes correctly
    copies = (e.where(F.col("vec_id") < 5)
              .withColumn("vec_id", F.col("vec_id") + 1_000_000))
    kept = {r["vec_id"] for r in S.cosine_incremental(
        copies, vecs, bands=4, rows=16, store_keys=kdf).collect()}
    assert kept == set()


def test_mix_by_token_budget_source_col_guard(spark):
    """r9 (ADVICE r8): an input corpus that already carries the source
    column is REJECTED (withColumn would silently overwrite it);
    source_col= renames the tag and preserves the caller's column."""
    from pandas_db_spark.operators.sampling import mix_by_token_budget
    a = spark.createDataFrame(
        [(i, "x " * 10, "orig") for i in range(5)],
        "doc_id long, text string, source string")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    with pytest.raises(ValueError, match="source"):
        mix_by_token_budget({"a": (a, 1.0)}, 30, toks, "doc_id")
    out = mix_by_token_budget({"a": (a, 1.0)}, 30, toks, "doc_id",
                              source_col="corpus").collect()
    assert all(r["corpus"] == "a" and r["source"] == "orig" for r in out)
    assert len(out) == 3


def test_cosine_pairs_ivf_empty_input(spark):
    """r9 review: an empty corpus must yield an empty pair frame (the
    flat route's behavior), not a numpy AxisError from the centroid
    fit."""
    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert S.cosine_pairs_ivf(e, threshold=0.95).count() == 0


def test_recover_staged_rolls_back(spark, emb, tmp_path):
    """r9 review: a crash between staged_overwrite's two renames leaves
    the live dir missing and the previous copy in .__stage_old;
    recover_staged must restore it, and reband_store must self-recover
    on entry."""
    import os
    import shutil
    from pandas_db_spark.streaming.sink import recover_staged
    store_dir = str(tmp_path / "store")
    e = emb.select("vec_id", "embedding").where(F.col("vec_id") < 30)
    e.write.parquet(store_dir + "/vecs")
    S.signlsh_store(e, bands=4, rows=16).write.parquet(store_dir + "/keys")
    (spark.createDataFrame([(4, 16, 100)],
                           "bands long, rows long, expected_corpus long")
     .write.parquet(store_dir + "/meta"))
    # simulate the mid-swap crash: live keys renamed away, tmp gone
    os.rename(store_dir + "/keys", store_dir + "/keys.__stage_old")
    assert recover_staged(spark, store_dir + "/keys")
    assert spark.read.parquet(store_dir + "/keys").count() == 30 * 4
    # and reband_store recovers by itself when entered mid-crash
    os.rename(store_dir + "/keys", store_dir + "/keys.__stage_old")
    nb, nr = S.reband_store(spark, store_dir, threshold=0.95,
                            expected_corpus=1000)
    meta = spark.read.parquet(store_dir + "/meta").collect()[0]
    assert (int(meta["bands"]), int(meta["rows"])) == (nb, nr)
    assert spark.read.parquet(store_dir + "/keys").count() == 30 * nb
    shutil.rmtree(store_dir)


def test_reband_store_auto_pins_sized_density(spark, emb, tmp_path):
    """r9 review: auto-sized reband must persist the corpus size the
    geometry was actually SIZED for as the new expected_corpus pin — a
    NULL pin would disarm the ingest growth guard."""
    store_dir = str(tmp_path / "store")
    e = emb.select("vec_id", "embedding").where(F.col("vec_id") < 40)
    e.write.parquet(store_dir + "/vecs")
    S.signlsh_store(e, bands=4, rows=16).write.parquet(store_dir + "/keys")
    (spark.createDataFrame([(4, 16, None)],
                           "bands long, rows long, expected_corpus long")
     .write.parquet(store_dir + "/meta"))
    S.reband_store(spark, store_dir, threshold=0.95)  # no expected_corpus
    meta = spark.read.parquet(store_dir + "/meta").collect()[0]
    assert int(meta["expected_corpus"]) == 40


# ---------------------------------------------------------------------------
# r9: span-level dedup, bigram-LM scoring, DSIR weights
# ---------------------------------------------------------------------------

def _lm_docs(spark):
    return spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog again today", "en"),
        (1, "a b c the quick brown fox jumps over the lazy dog zz", "en"),
        (2, "short doc", "en"),
        (3, "der hund ist nicht da und das ist gut so heute ja", "de"),
    ], "doc_id long, text string, lang string")


def test_strip_duplicate_spans_planted(spark):
    """The 9-token span shared by docs 0 and 1 stays in its smallest-id
    owner (0) and is stripped from 1; docs shorter than k and docs with
    no duplicated span pass through with n_removed = 0."""
    out = {r["doc_id"]: r for r in
           D.strip_duplicate_spans(_lm_docs(spark), k=8).collect()}
    assert out[0]["clean_text"].startswith("the quick brown fox")
    assert out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == "a b c zz"
    assert out[1]["n_removed"] == 9
    assert out[2]["clean_text"] == "short doc" and out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 0
    assert len(out) == 4  # every input doc present


def test_strip_duplicate_spans_full_strip(spark):
    """A verbatim copy of an earlier doc is stripped to empty — every
    position is covered by owned duplicated grams."""
    body = "w" + " x y z a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(0, body), (1, body)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.strip_duplicate_spans(docs, k=8).collect()}
    assert out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 14


def test_lm_score_bigram_matches_hand_model(spark):
    """Score equals the hand-computed mean add-one bigram probability."""
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string")
    # corpus: tokens a,b,a,b,a,c -> uni a=3,b=2,c=1, V=3
    # bigrams: (a,b)x2, (b,a)x1, (a,c)x1
    # doc0: (a,b),(b,a),(a,b) -> [(2+1)/(3+3), (1+1)/(2+3), (2+1)/(3+3)]
    # doc1: (a,c) -> [(1+1)/(3+3)]
    out = {r["doc_id"]: r for r in
           L.lm_score_bigram(docs).collect()}
    exp0 = (3 / 6 + 3 / 6 + 2 / 5) / 3
    exp1 = (2 / 6) / 1
    assert abs(out[0]["lm_score"] - exp0) < 1e-12
    assert abs(out[1]["lm_score"] - exp1) < 1e-12
    assert out[0]["n_bigrams"] == 3 and out[1]["n_bigrams"] == 1


def test_lm_score_external_model(spark):
    """model= scores docs against a reference corpus (the CCNet shape):
    a doc fluent under the reference model outscores gibberish."""
    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "mat the on sat cat zz")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lm_score"] for r in
           L.lm_score_bigram(docs, model=L.bigram_model(ref)).collect()}
    assert out[0] > out[1]


def test_dsir_weights_favor_target_like_docs(spark):
    """Docs sharing the target's feature distribution weigh above
    off-distribution docs; weights are finite and positive."""
    docs = _lm_docs(spark)
    out = {r["doc_id"]: r["dsir_weight"] for r in
           L.dsir_weights(docs, docs.where(F.col("lang") == "en"),
                          n_buckets=64).collect()}
    assert min(out[0], out[1]) > out[3]
    assert all(w > 0 for w in out.values())


def test_lm_ops_plans_stay_jvm_side(spark):
    """No Python evaluation anywhere in the three new operators' plans
    (the fold/transform lambdas are Catalyst higher-order functions)."""
    docs = _lm_docs(spark)
    for df in (D.strip_duplicate_spans(docs, k=8),
               L.lm_score_bigram(docs),
               L.dsir_weights(docs, docs.where(F.col("lang") == "en"))):
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_ngram_stats_counts_every_occurrence(spark):
    """cf counts occurrences (not distinct-per-doc), df counts docs."""
    from pandas_db_spark.operators.retrieval import ngram_stats
    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b a b x"), (2, "z")],
        "doc_id long, text string")
    out = {r["gram"]: (r["df"], r["cf"])
           for r in ngram_stats(docs, "text", "doc_id", n=2).collect()}
    assert out["a b"] == (2, 5)   # 3 in doc0 + 2 in doc1
    assert out["b a"] == (2, 3)   # 2 in doc0 + 1 in doc1
    assert out["b x"] == (1, 1)
    assert "z" not in out         # doc shorter than n contributes nothing


def test_ccnet_buckets_thirds(spark):
    """Bucket sizes split the ranking into thirds; head scores >= tail."""
    from pandas_db_spark.queries import REGISTRY
    rows = REGISTRY["ccnet_buckets"][0](spark, SF_DIR).collect()
    by = {}
    for r in rows:
        by.setdefault(r["bucket"], []).append(r["lm_score"])
    n = len(rows)
    assert abs(len(by["head"]) - n / 3) <= 1
    assert abs(len(by["tail"]) - n / 3) <= 1
    assert min(by["head"]) >= max(by["tail"])


def test_winnow_guarantee_and_density(spark):
    """Winnowing guarantee: two documents sharing a run of >= k+w-1
    tokens share at least one selected fingerprint; density is ~2/(w+1)
    of the k-gram positions, far below the every-position index."""
    shared = " ".join(f"s{i}" for i in range(11))   # k+w-1 = 11 tokens
    docs = spark.createDataFrame([
        (0, "p q r " + shared + " u v w x y z a b c d e f"),
        (1, "m n " + shared + " o zz q r s t u v w x"),
        (2, " ".join(f"t{i}" for i in range(30))),
    ], "doc_id long, text string")
    sel = D.winnow_fingerprints(docs, k=8, w=4).collect()
    by = {}
    for r in sel:
        by.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by[0] & by[1], "shared 11-token run must share a fingerprint"
    assert not (by[0] & by[2]) and not (by[1] & by[2])
    # density: doc 2 has 30-8+1=23 k-gram positions, 20 windows;
    # expected selections ~ 2/(w+1) * 23 ≈ 9, must be well under 23
    n2 = len([r for r in sel if r["doc_id"] == 2])
    assert n2 < 15
    # doc shorter than k+w-1 contributes nothing
    tiny = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    assert D.winnow_fingerprints(tiny, k=8, w=4).count() == 0


def test_span_incremental_planted(spark):
    """Store probe: batch docs embedding an >= k+w-1-token span of a
    stored doc are dropped; novel docs survive; store text is only
    touched for candidates (left-semi, asserted by plan shape)."""
    span = " ".join(f"s{i}" for i in range(11))
    store = spark.createDataFrame([
        (0, "alpha beta " + span + " gamma delta epsilon zeta"),
        (1, "other corpus doc with its very own distinct word stream "
            "carrying on for a while longer here"),
    ], "doc_id long, text string")
    batch = spark.createDataFrame([
        (10, "new framing " + span + " different tail tokens"),
        (11, "completely novel text with tokens appearing nowhere "
             "else in the little corpus at all today"),
    ], "doc_id long, text string")
    kept = {r["doc_id"] for r in
            D.span_incremental(batch, store, k=8, w=4).collect()}
    assert kept == {11}
    # persisted-store form: precomputed fps skip the store fingerprint pass
    fps = D.winnow_store(store, k=8, w=4)
    kept2 = {r["doc_id"] for r in
             D.span_incremental(batch, store, k=8, w=4,
                                store_fps=fps).collect()}
    assert kept2 == {11}


def test_dsir_weights_no_underflow_on_long_docs(spark):
    """r9 review: a plain double product saturates to 0.0 after ~700
    strongly-off-target features; the renormalized (w_mant, w_exp) pair
    must keep long off-target docs rankable (and dsir_weight itself
    only saturates past |log2 w| ~ 1024 as IEEE demands)."""
    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and then the dog ran off")
         for i in range(4)], "doc_id long, text string")
    # ~3000 off-target features per doc; doc 1 is MORE off-target
    long_a = " ".join(f"a{i % 37} b{i % 41}" for i in range(1500))
    long_b = " ".join(f"z{i % 53} y{i % 59}" for i in range(1500))
    docs = spark.createDataFrame(
        [(0, long_a), (1, long_b),
         (2, "the cat sat on the mat and then the dog ran off")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           L.dsir_weights(docs, target, n_buckets=64).collect()}
    for r in out.values():
        assert r["w_mant"] > 0.0 and 2.0 ** -256 <= r["w_mant"] < 2.0 ** 256
    # rank key (w_exp, w_mant) must separate the three docs: the
    # on-target doc ranks above both long off-target docs
    key = {i: (out[i]["w_exp"], out[i]["w_mant"]) for i in out}
    assert key[2] > key[0] and key[2] > key[1]
    # a long off-target doc really is deep below double range in plain
    # product terms (w_exp << 0), yet stays exactly representable
    assert out[0]["w_exp"] < -2 or out[0]["dsir_weight"] > 0.0
    # dsir_weight reconstructs exactly whenever |e| <= 3
    for r in out.values():
        if -3 <= r["w_exp"] <= 3:
            assert r["dsir_weight"] == r["w_mant"] * 2.0 ** (256 * r["w_exp"])


def test_strip_duplicate_spans_owner_protection(spark):
    """r9 review: overlapping duplicated grams with DIFFERENT owners
    must not erase every copy of a span corpus-wide — the canonical
    occurrence of each duplicated gram survives in its owner (k=8
    analog of the 'x y'/'y z' erosion case)."""
    a = "a1 a2 a3 a4 a5 a6 a7 a8"              # gram A, owner 0
    b = "b1 b2 b3 b4 b5 b6 b7 b8"              # gram B, owner 1
    docs = spark.createDataFrame([
        (0, a),                                 # owns A
        (1, a + " " + b),                       # owns B, non-owner of A
        (2, b),                                 # non-owner of B
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.strip_duplicate_spans(docs, k=8).collect()}
    assert out[0]["clean_text"] == a            # owner keeps A
    assert out[2]["clean_text"] == ""           # non-owner stripped
    # doc1: loses A (owner 0) but its OWNED gram B (incl. the positions
    # overlapped by A's 8-gram window extensions) must survive intact
    assert out[1]["clean_text"] == b, out[1]["clean_text"]
    # corpus-wide: both spans still exist exactly once


def test_semdedup_keeper_rule_and_invariants(spark):
    """SemDeDup on a constructed corpus: within a tight duplicate group
    the survivor is the LOWEST-centroid-similarity member (the paper's
    diversity rule), singletons survive untouched, and no within-cluster
    pair >= tau remains afterwards."""
    import numpy as np
    from pandas_db_spark.operators.clustering import semdedup

    # cluster A around +x: a tight trio of near-duplicates with
    # DIFFERENT distances to the cluster mean; cluster B around +y:
    # two well-separated (non-dup) members
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.0447, 0.0]),      # ~0.999 cos to #1
        (3, [0.995, 0.0999, 0.0]),      # farthest from centroid in trio
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.8, 0.6]),          # cos 0.8 to #10 — below tau
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semdedup(emb, threshold=0.97, k=2, n_iter=4)
    ids = {r.vec_id for r in kept.select("vec_id").collect()}
    # trio collapses to ONE survivor: the member farthest from the
    # centroid (vec 3); both B members survive (their cosine < tau)
    assert ids == {3, 10, 11}, ids
    # survivors keep all original columns + cluster_id
    assert set(kept.columns) == {"vec_id", "embedding", "cluster_id"}
    # passing precomputed centroids skips the fit and is honored
    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    kept2 = semdedup(emb, threshold=0.97, centroids=cents)
    assert {r.vec_id for r in kept2.select("vec_id").collect()} == {3, 10, 11}


def test_weighted_sample_n_aes_properties(spark):
    """A-ES exact-n sample: exactly n rows, deterministic, zero-weight
    rows never drawn, heavier rows drawn at measurably higher rates
    (weight-proportional inclusion over salts), and the plan is a
    TakeOrderedAndProject (partial per-partition top-n, no full sort)."""
    from pandas_db_spark.operators.sampling import weighted_sample_n

    rows = [(i, 100.0 if i < 20 else 1.0) for i in range(200)]
    rows += [(900, 0.0), (901, None), (902, -3.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_n(df, 30, "w", "id", salt="s1")
    ids = [r.id for r in got.collect()]
    assert len(ids) == 30 and len(set(ids)) == 30
    assert not {900, 901, 902} & set(ids)
    # deterministic across invocations
    again = [r.id for r in weighted_sample_n(df, 30, "w", "id",
                                             salt="s1").collect()]
    assert set(again) == set(ids)
    # heavy rows (w=100, 10% of corpus) should dominate the sample:
    # aggregate over several salts to keep the test non-flaky
    heavy = 0
    for s in ("s1", "s2", "s3", "s4"):
        sel = {r.id for r in weighted_sample_n(df, 30, "w", "id",
                                               salt=s).collect()}
        heavy += len([i for i in sel if i < 20])
    assert heavy >= 60, heavy  # 4 draws x 20 heavy available; ~expect >70
    plan = formatted_plan(weighted_sample_n(df, 30, "w", "id"))
    assert "TakeOrderedAndProject" in plan, plan
    with pytest.raises(ValueError, match="n must be >= 1"):
        weighted_sample_n(df, 0, "w", "id")


def test_normalize_for_dedup_rules(spark):
    """Case folds, digits collapse to 0, punctuation strips, whitespace
    collapses — reskinned variants normalize identically; genuinely
    different text does not."""
    from pandas_db_spark.functions.text import normalize_for_dedup

    df = spark.createDataFrame(
        [(1, "Hello,  WORLD!  v2.0 rc7"),
         (2, "hello world v00 rc0"),
         (3, "hello world v2 rc7 extra")],
        "id long, t string")
    got = {r.id: r.n for r in df.select(
        "id", normalize_for_dedup(F.col("t")).alias("n")).collect()}
    assert got[1] == "hello world v00 rc0"
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_gopher_repetition_rules_fire_per_family(spark):
    """Each repetition-rule family trips on its designed pathology and
    clean prose passes all 13 rules."""
    from pandas_db_spark.operators.repetition import (
        gopher_repetition_flags)

    # long enough that the longest unique 4-gram is a small char
    # fraction — short docs legitimately fail top_ngram rules (their
    # single longest gram IS a large fraction), and the word-count rule
    # in gopher_flags removes them before this battery in a pipeline
    clean = " ".join(
        f"w{i}a w{i}b token{i} filler{i}" for i in range(30))
    rows = [
        (1, clean),
        (2, ("dup line\n" * 10) + "unique tail line"),   # line family
        (3, ("para one\n\n" * 3) + "closing paragraph"),  # para family
        (4, "ab cd " * 50),                               # top n-gram
        (5, "one two three four five " * 12),             # dup n-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.asDict()
           for r in gopher_repetition_flags(df).collect()}
    assert out[1]["repetition_keep"]
    assert all(v for k, v in out[1].items() if k != "doc_id")
    assert not out[2]["dup_line_ok"] and not out[2]["dup_line_char_ok"]
    assert not out[3]["dup_para_ok"] and not out[3]["dup_para_char_ok"]
    assert not out[4]["top_2gram_ok"]
    assert not out[5]["dup_5gram_ok"] and not out[5]["dup_10gram_ok"]
    for i in (2, 3, 4, 5):
        assert not out[i]["repetition_keep"]
    # paragraph-less docs pass the para rules vacuously
    assert out[4]["dup_para_ok"] and out[4]["dup_para_char_ok"]


def test_extract_html_text_pins_branch_behavior(spark):
    """Script/style/comment removal (incl. fake tags inside script
    string literals), block-tag newlines, inline-tag spacing, entity
    decoding, and whitespace normalization."""
    from pandas_db_spark.functions.text import extract_html_text

    html = ("<!DOCTYPE html><html><head><title>T</title>"
            "<script type='x'>var p = '<p>fake</p>';</script>"
            "<style>.c { color: red; }</style></head>"
            "<body><!-- note --><h1>Heading One</h1>"
            "<p>first with <b>bold</b> &amp; ents &lt;tag&gt; "
            "&quot;q&quot; &#39;a&#39;&nbsp;end</p>"
            "<div>second   block</div>"
            "<ul><li>item one</li><li>item two</li></ul>"
            "<br>tail</body></html>")
    df = spark.createDataFrame([(1, html)], "id long, h string")
    got = df.select(extract_html_text(F.col("h")).alias("t")) \
            .collect()[0].t
    assert got == ("T\nHeading One\n\nfirst with bold & ents <tag> "
                   "\"q\" 'a' end\n\nsecond block\n\n"
                   "item one\n\nitem two\n\ntail"), repr(got)
    # recovery contract: a template with no visible text of its own
    wrap = ("<html><head><script>var x = '<div>no</div>';</script>"
            "</head><body><!--c--><div>%s</div></body></html>")
    docs = spark.createDataFrame(
        [(i, wrap % f"doc {i} body text") for i in range(3)],
        "id long, h string")
    rec = {r.id: r.t for r in docs.select(
        "id", extract_html_text(F.col("h")).alias("t")).collect()}
    assert rec == {i: f"doc {i} body text" for i in range(3)}
    # r9 ADVICE: bare '<' in prose must survive — only tag-shaped
    # openings (letter, /, ! or ? after the <) are stripped
    prose = spark.createDataFrame(
        [(1, "<p>we know a < b and x <= y here</p>"),
         (2, "<div>2 < 3 > 1 stays</div>")],
        "id long, h string")
    got = {r.id: r.t for r in prose.select(
        "id", extract_html_text(F.col("h")).alias("t")).collect()}
    assert got[1] == "we know a < b and x <= y here", repr(got[1])
    assert got[2] == "2 < 3 > 1 stays", repr(got[2])


# ---------------------------------------------------------------------------
# corpus-global boilerplate paragraph strip (operators/dedup)
# ---------------------------------------------------------------------------

def test_strip_common_paragraphs_semantics(spark):
    from pandas_db_spark.operators.dedup import strip_common_paragraphs
    boil = "please accept our cookie policy to continue browsing"
    rare = "rare paragraph shared by just two documents here"
    rows = []
    for i in range(20):
        t = f"unique body paragraph number {i} with enough characters"
        if i < 10:
            t += "\n\n" + boil
        if i in (0, 1):
            t += "\n\n" + rare
        rows.append((i, t))
    # a doc that is NOTHING but boilerplate must clean to ""
    rows.append((99, boil))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = strip_common_paragraphs(df, "text", "doc_id", max_docs=5)
    got = {r["doc_id"]: (r["text_clean"], r["n_stripped"])
           for r in out.collect()}
    assert len(got) == 21
    # boilerplate (11 distinct docs > 5) stripped everywhere
    assert all(boil not in got[i][0] for i in range(10))
    assert got[0][1] == 1 and got[5][1] == 1
    # rare paragraph (2 docs <= 5) kept, order preserved
    assert got[0][0].endswith(rare) and got[1][0].endswith(rare)
    # untouched docs unchanged
    assert got[15] == (
        "unique body paragraph number 15 with enough characters", 0)
    # all-boilerplate doc cleans to empty, still present
    assert got[99] == ("", 1)


def test_strip_common_paragraphs_min_chars_and_no_boiler(spark):
    from pandas_db_spark.operators.dedup import strip_common_paragraphs
    # a SHORT paragraph repeated everywhere is exempt via min_chars
    rows = [(i, f"body {i} that is long enough to count\n\nok") for i in
            range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = strip_common_paragraphs(df, "text", "doc_id",
                                  max_docs=3, min_chars=10)
    got = {r["doc_id"]: r for r in out.collect()}
    assert all(g["n_stripped"] == 0 for g in got.values())
    assert got[3]["text_clean"].endswith("\n\nok")
    # corpus with no boilerplate at all: empty collect_set path
    solo = spark.createDataFrame(
        [(1, "only one document with a single paragraph body")],
        "doc_id long, text string")
    out2 = strip_common_paragraphs(solo, "text", "doc_id").collect()
    assert out2[0]["n_stripped"] == 0


def test_strip_common_paragraphs_guard_and_join_fallback(spark):
    """VERDICT r10 #3: the one-row boilerplate set is BOUNDED.  A
    planted template-farm corpus (every doc repeats many distinct
    boilerplate paragraphs) trips the in-plan guard on the array path
    with actionable guidance, and strategy='join' strips it correctly;
    on a normal corpus both strategies produce identical results."""
    import pytest
    from pandas_db_spark.operators.dedup import strip_common_paragraphs

    # template farm: 30 distinct long paragraphs, each in EVERY doc
    tpl = [f"template paragraph number {j} repeated across every page"
           for j in range(30)]
    rows = [(i, (f"unique body for document {i} long enough" + "\n\n"
                 + "\n\n".join(tpl)))
            for i in range(8)]
    farm = spark.createDataFrame(rows, "doc_id long, text string")

    # array path: the 30-hash set exceeds max_boiler_set=10 -> raise
    guarded = strip_common_paragraphs(farm, "text", "doc_id", max_docs=3,
                                      max_boiler_set=10)
    with pytest.raises(Exception, match="strategy='join'"):
        guarded.collect()

    # join path: strips all 30, keeps the unique body, order preserved
    out = strip_common_paragraphs(farm, "text", "doc_id", max_docs=3,
                                  strategy="join")
    got = {r["doc_id"]: (r["text_clean"], r["n_stripped"])
           for r in out.collect()}
    assert got[2] == ("unique body for document 2 long enough", 30)
    assert len(got) == 8

    # invalid strategy -> immediate ValueError
    with pytest.raises(ValueError, match="strategy"):
        strip_common_paragraphs(farm, "text", "doc_id", strategy="nope")

    # path equality on a mixed corpus (incl. an all-boilerplate doc)
    boil = "please accept our cookie policy to continue browsing"
    mixed = [(i, f"unique body paragraph number {i} with characters"
              + ("\n\n" + boil if i < 10 else "")) for i in range(20)]
    mixed.append((99, boil))
    mdf = spark.createDataFrame(mixed, "doc_id long, text string")
    a = sorted(map(tuple, strip_common_paragraphs(
        mdf, "text", "doc_id", max_docs=5).collect()))
    j = sorted(map(tuple, strip_common_paragraphs(
        mdf, "text", "doc_id", max_docs=5, strategy="join").collect()))
    assert a == j


def test_strip_common_paragraphs_join_all_boiler_non_ansi(spark):
    """ADVICE r11: under non-ANSI Spark size(NULL) is -1, so the join
    path's old coalesce-over-size counted __n0+1 stripped paragraphs
    for a doc whose EVERY paragraph is boilerplate.  The explicit
    isNull guard makes both ANSI modes agree with the array path."""
    from pandas_db_spark.operators.dedup import strip_common_paragraphs

    boil = "please accept our cookie policy to continue browsing"
    rows = [(i, f"unique body paragraph number {i} with characters"
             + "\n\n" + boil) for i in range(10)]
    rows.append((99, boil))          # nothing but boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        out = {r["doc_id"]: (r["text_clean"], r["n_stripped"])
               for r in strip_common_paragraphs(
                   df, "text", "doc_id", max_docs=5,
                   strategy="join").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert out[99] == ("", 1)        # was ("", 2) before the fix
    assert out[3] == ("unique body paragraph number 3 with characters", 1)


def test_guarded_totals_empty_side_a_is_safe(spark):
    """ADVICE r11: an EMPTY snapshot A (sum -> NULL n_a) made `safe`
    evaluate NULL, which CASE treated as false — the guard raised the
    misleading overflow error instead of passing the null totals
    through.  NULL n_a is now trivially safe on both sides."""
    from pandas_db_spark.operators.stats import _guarded_totals

    empty = spark.createDataFrame([], "c long").agg(
        F.sum("c").alias("n_a"))
    nb = spark.createDataFrame([(7,)], "n_b long")
    row = _guarded_totals(empty, nb).collect()[0]
    assert row["n_a"] is None and row["n_b"] == 7


# ---------------------------------------------------------------------------
# temperature resampling (operators/sampling)
# ---------------------------------------------------------------------------

def test_temperature_rebalance_allocation_and_determinism(docs):
    from pandas_db_spark.operators import sampling as SA
    from pyspark.sql import functions as F
    counts = {r[0]: r[1] for r in
              docs.where(F.col("lang").isNotNull())
                  .groupBy("lang").count().collect()}
    total_n, alpha = 40, 0.5
    out = SA.temperature_rebalance(docs, "lang", "doc_id",
                                   total_n=total_n, alpha=alpha)
    got = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    s = sum(c ** alpha for c in sorted(counts.values()))
    for lang, c in counts.items():
        target = total_n * (c ** alpha) / s
        if target >= c:            # UniMax cap: whole class kept
            assert got.get(lang, 0) == c, lang
        else:                      # Bernoulli: within a loose band
            assert got.get(lang, 0) <= c
    # deterministic under repartitioning
    a = {r[0] for r in out.select("doc_id").collect()}
    b = {r[0] for r in
         SA.temperature_rebalance(docs.repartition(13), "lang", "doc_id",
                                  total_n=total_n, alpha=alpha)
           .select("doc_id").collect()}
    assert a == b
    # alpha=1 == proportional: identical keep-fraction for every class
    prop = SA.temperature_rebalance(docs, "lang", "doc_id",
                                    total_n=100, alpha=1.0)
    fr = {r[0]: r[1] for r in prop.groupBy("lang").count().collect()}
    assert set(fr) <= set(counts)


def test_temperature_rebalance_validation(docs):
    import pytest as _pt
    from pandas_db_spark.operators import sampling as SA
    with _pt.raises(ValueError):
        SA.temperature_rebalance(docs, "lang", "doc_id", total_n=10,
                                 alpha=0.0)
    with _pt.raises(ValueError):
        SA.temperature_rebalance(docs, "lang", "doc_id", total_n=0)
    empty = docs.where("lang IS NULL AND lang IS NOT NULL")
    assert SA.temperature_rebalance(empty, "lang", "doc_id",
                                    total_n=5).count() == 0


def test_cosine_shared_keys_paths_match_default(spark, emb):
    """r10: the shared-key-frame params (cosine_pairs_lsh(keyed=),
    cosine_incremental(new_keys=)) must produce byte-identical results
    to the compute-inside paths — same geometry, same hyperplanes."""
    from pandas_db_spark.operators import similarity as S
    from pyspark.sql import functions as F
    sub = emb.limit(300)
    keyed = S.signlsh_store(sub, bands=69, rows=16)
    base = {tuple(r) for r in
            S.cosine_pairs_lsh(sub, bands=69, rows=16).collect()}
    shared = {tuple(r) for r in
              S.cosine_pairs_lsh(sub, keyed=keyed).collect()}
    assert shared == base
    store = emb.where(F.col("vec_id") % 3 == 0)
    batch = emb.where(F.col("vec_id") % 3 != 0).limit(200)
    skeys = S.signlsh_store(store, bands=69, rows=16)
    bkeys = S.signlsh_store(batch, bands=69, rows=16)
    kept_a = {r["vec_id"] for r in
              S.cosine_incremental(batch, store, bands=69, rows=16,
                                   store_keys=skeys).collect()}
    kept_b = {r["vec_id"] for r in
              S.cosine_incremental(batch, store, bands=69, rows=16,
                                   store_keys=skeys,
                                   new_keys=bkeys).collect()}
    assert kept_a == kept_b
    import pytest as _pt
    with _pt.raises(ValueError, match="pins its geometry"):
        S.cosine_incremental(batch, store, new_keys=bkeys)


# ---------------------------------------------------------------------------
# blocklist + URL screens (functions/text)
# ---------------------------------------------------------------------------

def test_blocklist_flags_boundaries_and_validation(spark):
    import pytest as _pt
    from pandas_db_spark.functions.text import blocklist_flags
    from pyspark.sql import functions as F
    df = spark.createDataFrame([
        (1, "clean text here"),
        (2, "has BADWORD once"),
        (3, "badwording is a longer word"),   # boundary: no hit
        (4, "badword, punctuated! badword"),  # two hits across punct
    ], "id long, text string")
    b = blocklist_flags(F.col("text"), ["badword"])
    got = {r["id"]: (r["n"], r["ok"]) for r in df.select(
        "id", b["n_blocked_hits"].alias("n"),
        b["blocklist_ok"].alias("ok")).collect()}
    assert got == {1: (0, True), 2: (1, False),
                   3: (0, True), 4: (2, False)}
    with _pt.raises(ValueError, match="non-empty"):
        blocklist_flags(F.col("text"), [])
    with _pt.raises(ValueError, match="word-character-only"):
        blocklist_flags(F.col("text"), ["bad word"])


def test_url_flags_domain_suffix_ip_and_digits(spark):
    from pandas_db_spark.functions.text import url_flags
    from pyspark.sql import functions as F
    df = spark.createDataFrame([
        (1, "https://ads.tracker-net.com/x"),      # subdomain: blocked
        (2, "https://tracker-net.com/"),           # exact: blocked
        (3, "https://nottracker-net.com/ok"),      # lookalike: NOT blocked
        (4, "http://10.0.0.7/admin"),              # raw IP
        (5, "https://shop1234567.biz/a/b"),        # digit-heavy host
        (6, "https://plain.example.org/a/b/c"),    # clean
        (7, "www.schemeless.example.org/x"),        # no scheme: no parse
        (8, "not a url at all"),                    # garbage: no parse
    ], "id long, url string")
    u = url_flags(F.col("url"), ["tracker-net.com"])
    got = {r["id"]: r for r in df.select("id", u.alias("u")).collect()}
    assert got[1]["u"]["blocked_domain"] and not got[1]["u"]["url_keep"]
    assert got[2]["u"]["blocked_domain"]
    assert not got[3]["u"]["blocked_domain"] and got[3]["u"]["url_keep"]
    assert got[4]["u"]["host_is_ip"] and not got[4]["u"]["url_keep"]
    # shop1234567.biz: 7 digits / 15 chars -> floor(466.6) = 466 per mille
    assert got[5]["u"]["digit_frac_pm"] == 466
    assert not got[5]["u"]["url_keep"]
    assert got[6]["u"]["url_keep"] and got[6]["u"]["path_depth"] == 3
    assert got[6]["u"]["tld"] == "org" and got[6]["u"]["host"] == \
        "plain.example.org"
    assert got[6]["u"]["parse_ok"]
    # ADVICE r10: unparseable URLs must NOT default to keep
    for bad in (7, 8):
        assert got[bad]["u"]["host"] == ""
        assert not got[bad]["u"]["parse_ok"]
        assert not got[bad]["u"]["url_keep"]


def test_term_drift_exact_integers_and_tvd(spark):
    from pandas_db_spark.operators.stats import term_drift, tvd_summary
    a = spark.createDataFrame(
        [(1, "x x y"), (2, "x z")], "id long, text string")
    b = spark.createDataFrame(
        [(3, "x y y"), (4, "w")], "id long, text string")
    d = {r["term"]: r for r in term_drift(a, b, "text").collect()}
    # n_a = 5 tokens, n_b = 4 tokens
    assert all(r["n_a"] == 5 and r["n_b"] == 4 for r in d.values())
    assert d["x"]["c_a"] == 3 and d["x"]["c_b"] == 1
    assert d["x"]["drift_num"] == abs(3 * 4 - 1 * 5)      # 7
    assert d["w"]["c_a"] == 0 and d["w"]["drift_num"] == 1 * 5
    assert d["z"]["c_b"] == 0 and d["z"]["drift_num"] == 1 * 4
    s = tvd_summary(term_drift(a, b, "text")).collect()[0]
    assert s["tvd_num"] == sum(r["drift_num"] for r in d.values())
    # TVD in [0, 1]
    assert 0.0 <= s["tvd_num"] / (2 * s["n_a"] * s["n_b"]) <= 1.0
    # identical snapshots -> zero drift everywhere
    z = tvd_summary(term_drift(a, a, "text")).collect()[0]
    assert z["tvd_num"] == 0


def test_temperature_rebalance_token_budget(docs):
    """weight_col: class mass measured in tokens (n_chars here) — the
    UniMax budget unit; masses change, machinery identical."""
    from pandas_db_spark.operators import sampling as SA
    from pyspark.sql import functions as F
    out = SA.temperature_rebalance(docs, "lang", "doc_id",
                                   total_n=50_000, alpha=0.5,
                                   weight_col="n_chars")
    masses = {r[0]: r[1] for r in
              docs.where(F.col("lang").isNotNull())
                  .groupBy("lang").agg(F.sum("n_chars")).collect()}
    got = {r[0]: r[1] for r in
           out.groupBy("lang").agg(F.sum("n_chars")).collect()}
    s = sum(m ** 0.5 for m in sorted(masses.values()))
    for lang, m in masses.items():
        target = 50_000 * (m ** 0.5) / s
        if target >= m:
            assert got.get(lang, 0) == m, lang   # capped class kept whole
        else:
            assert got.get(lang, 0) <= m
    # deterministic across partitionings
    a = {r[0] for r in out.select("doc_id").collect()}
    b = {r[0] for r in SA.temperature_rebalance(
        docs.repartition(7), "lang", "doc_id", total_n=50_000,
        alpha=0.5, weight_col="n_chars").select("doc_id").collect()}
    assert a == b


def test_classifier_fit_recovers_planted_rule(spark):
    """classifier_fit (r11, FineWeb-Edu training half): on a separable
    planted corpus the fitted weights recover the rule — positive
    weight on the good-marker bucket, negative on the bad-marker
    bucket, 100% sign accuracy, and a re-fit reproduces the same
    predictions (deterministic zero-init full-batch GD)."""
    from pandas_db_spark.operators.lm import (classifier_fit,
                                              classifier_score_hashed)

    n_buckets = 128
    filler = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota",
              "kappa lam mu", "nu xi omicron", "pi rho sigma"]
    # marker words chosen so the pure-marker bigram buckets don't
    # collide with each other or any filler bigram at n_buckets=128
    # (("good","good") and ("bad","bad") collide at bucket 32!)
    rows = [(i, filler[i % 6] + (" useful useful useful" if i % 2 else
                                 " junk junk junk"), i % 2)
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = classifier_fit(docs, "y", n_buckets=n_buckets, n_iter=25,
                          lr=1.0)

    def word_h(word):
        h = 0
        for c in word:
            h = (h * 31 + ord(c)) % 2_147_483_648
        return h

    def bigram_bucket(w1, w2):
        return ((word_h(w1) * 31 + word_h(w2)) % 2_147_483_648) % n_buckets

    assert w[bigram_bucket("useful", "useful")] > 0.1
    assert w[bigram_bucket("junk", "junk")] < -0.1

    from pyspark.sql import functions as F
    scored = classifier_score_hashed(docs, w, bias=b)
    j = scored.join(docs.select("doc_id", "y"), "doc_id")
    assert j.filter(
        (F.col("logit") > 0).cast("int") != F.col("y")).count() == 0

    w2, b2 = classifier_fit(docs, "y", n_buckets=n_buckets, n_iter=25,
                            lr=1.0)
    preds1 = sorted((r["doc_id"], r["logit"] > 0)
                    for r in scored.collect())
    preds2 = sorted((r["doc_id"], r["logit"] > 0) for r in
                    classifier_score_hashed(docs, w2, bias=b2).collect())
    assert preds1 == preds2


def test_classifier_weights_broadcast_above_literal_max(spark, monkeypatch):
    """VERDICT r11 #2: weight vectors wider than _WEIGHT_LITERAL_MAX
    ride a one-row broadcast array column instead of an F.array literal
    (one Catalyst node per element, per class, per iteration — an
    analysis-time cliff at 64k buckets).  (a) The broadcast path
    produces BIT-IDENTICAL logits to the literal path; (b) a binary fit
    at n_buckets=8192 — far above the literal bound — completes in
    bounded time with full sign accuracy, and its per-iteration
    gradient (bias sentinel included) is ONE job; (c) the multiclass
    fit and scorer work above the bound too."""
    import time

    import pandas_db_spark.operators.lm as lm
    from pandas_db_spark.operators.lm import (classifier_fit,
                                              classifier_fit_multiclass,
                                              classifier_score_hashed,
                                              classifier_score_multiclass)

    filler = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota",
              "kappa lam mu", "nu xi omicron", "pi rho sigma"]
    rows = [(i, filler[i % 6] + (" useful useful useful" if i % 2 else
                                 " junk junk junk"), i % 2)
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")

    # (a) literal vs broadcast bit parity at the same width
    weights = [((b * 37 + 11) % 101 - 50) / 100.0 for b in range(600)]
    lit = sorted(map(tuple, classifier_score_hashed(
        docs, weights, bias=0.25).collect()))
    monkeypatch.setattr(lm, "_WEIGHT_LITERAL_MAX", 256)
    bc = sorted(map(tuple, classifier_score_hashed(
        docs, weights, bias=0.25).collect()))
    assert bc == lit
    monkeypatch.undo()

    # (b) binary fit at 8192 buckets: broadcast path, bounded time
    t0 = time.monotonic()
    w, b = classifier_fit(docs, "y", n_buckets=8192, n_iter=8, lr=1.0)
    assert time.monotonic() - t0 < 300
    assert len(w) == 8192
    scored = classifier_score_hashed(docs, w, bias=b)
    j = scored.join(docs.select("doc_id", "y"), "doc_id")
    assert j.filter(
        (F.col("logit") > 0).cast("int") != F.col("y")).count() == 0

    # (c) multiclass above the bound
    docs3 = docs.withColumn(
        "lab", F.when(F.col("doc_id") % 3 == 0, F.lit("a"))
                .when(F.col("doc_id") % 3 == 1, F.lit("b"))
                .otherwise(F.lit("c")))
    docs3 = docs3.withColumn(
        "text", F.concat(
            "text",
            F.when(F.col("lab") == "a", F.lit(" zork zork zork zork"))
             .when(F.col("lab") == "b", F.lit(" blip blip blip blip"))
             .otherwise(F.lit(" quux quux quux quux"))))
    models = classifier_fit_multiclass(docs3, "lab", n_buckets=5000,
                                       n_iter=8, lr=1.0)
    preds = classifier_score_multiclass(docs3, models)
    bad = (preds.join(docs3.select("doc_id", "lab"), "doc_id")
                .filter(F.col("pred_label") != F.col("lab")).count())
    assert bad == 0


def test_classifier_fit_empty_corpus_raises(spark):
    """No document carries >= 2 tokens -> nothing to fit on: a clear
    ValueError, not a silent all-zero model."""
    import pytest
    from pandas_db_spark.operators.lm import classifier_fit

    docs = spark.createDataFrame([(0, "solo", 1), (1, "word", 0)],
                                 "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="no documents"):
        classifier_fit(docs, "y", n_buckets=64, n_iter=2)


def test_gate_priority_names_all_registered():
    """Every _GATE_PRIORITY rotation name must exist in REGISTRY — a
    typo would silently drop a query from the external driver's
    ~50-entry prefix gate window."""
    from pandas_db_spark.queries import REGISTRY, _GATE_PRIORITY

    missing = [n for n in _GATE_PRIORITY if n not in REGISTRY]
    assert not missing, f"gate names not in REGISTRY: {missing}"
    assert len(set(_GATE_PRIORITY)) == len(_GATE_PRIORITY)


def test_gate_priority_carries_evidence():
    """HARD RULE (VERDICT r12 #2): a prefix slot spent on an oracle-less
    name produces ZERO driver evidence (`err: no_oracle`, no rows-only
    fallback) — every rotated name must carry an oracle, the six
    rows-only-by-design names must be pinned to the END of the ordering,
    and every one of them must be excluded (not silently forgotten)."""
    from pandas_db_spark.queries import (REGISTRY, _GATE_EXCLUDE,
                                         _GATE_PRIORITY, _ordered_names)

    no_oracle = [n for n in _GATE_PRIORITY if REGISTRY[n][1] is None]
    assert not no_oracle, f"oracle-less names in the gate prefix: {no_oracle}"
    all_rows_only = {n for n in REGISTRY if REGISTRY[n][1] is None}
    assert set(_GATE_EXCLUDE) == all_rows_only
    order = _ordered_names()
    assert order[-len(_GATE_EXCLUDE):] == [n for n in _GATE_EXCLUDE
                                           if n in REGISTRY]
    assert set(order) == set(REGISTRY)


def test_term_drift_overflow_guard(spark):
    """ADVICE r10: the exact-integer cross multiplication is now
    RUNTIME-guarded — planted totals past the 2^63 product bound raise
    with guidance instead of wrapping; realistic totals pass through
    untouched."""
    import pytest
    from pandas_db_spark.operators.stats import _guarded_totals

    def one(n, col):
        return spark.createDataFrame([(n,)], f"{col} long")

    # 4e9 * 4e9 = 1.6e19 > 2^63-1 (~9.2e18) -> raise
    bad = _guarded_totals(one(4_000_000_000, "n_a"),
                          one(4_000_000_000, "n_b"))
    with pytest.raises(Exception, match="DECIMAL"):
        bad.collect()
    # 3e9 * 3e9 = 9e18 < 2^63-1 -> pass
    ok = _guarded_totals(one(3_000_000_000, "n_a"),
                         one(3_000_000_000, "n_b")).collect()
    assert ok[0]["n_a"] == 3_000_000_000
    # empty side (sum -> NULL) is trivially safe
    import pyspark.sql.functions as F
    empty = spark.createDataFrame([], "c_b long").agg(
        F.sum("c_b").alias("n_b"))
    assert _guarded_totals(one(5, "n_a"), empty).collect()[0]["n_a"] == 5


def test_fraction_threshold_floor_pinned_and_counts_validated(spark):
    """ADVICE r10: (a) fraction_threshold truncates (floor) — the one
    rounding rule both engines implement identically — so a fraction on
    a .5 ulp of 2^-32 can't produce an off-by-one hex threshold between
    engines; (b) temperature_rebalance validates caller-supplied counts
    instead of dying with ZeroDivisionError."""
    import pytest
    from pandas_db_spark.operators.sampling import (fraction_threshold,
                                                    temperature_rebalance)

    # 0.05 * 2^32 = 214748364.8: floor 0x0ccccccc (round would give ..cd)
    assert fraction_threshold(0.05) == "0ccccccc"
    # exactly representable: unchanged by the pin
    assert fraction_threshold(0.5) == "80000000"
    # a .5-ulp landing: 2.5/2^32 -> floor 2 (banker's round gives 2,
    # half-away gives 3 — the cross-engine divergence the pin removes)
    assert fraction_threshold(2.5 / (1 << 32)) == "00000002"

    df = spark.createDataFrame([(1, "en"), (2, "fr")],
                               "doc_id long, lang string")
    with pytest.raises(ValueError, match="counts must be positive"):
        temperature_rebalance(df, "lang", "doc_id", total_n=1,
                              counts={"en": 0, "fr": 5})
    with pytest.raises(ValueError, match="counts must be positive"):
        temperature_rebalance(df, "lang", "doc_id", total_n=1,
                              counts={"en": -2})


def test_winnow_span_candidates_guarantee_and_bounds(spark):
    """winnow_span_candidates (r11): any pair sharing >= k+w-1 tokens
    is flagged (winnowing guarantee), candidates are always a SUBSET of
    the exact every-position k-gram dups (string-verified ownership —
    no fingerprint-collision false drops), and w=1 reproduces the
    exact index."""
    from pandas_db_spark.operators.dedup import (span_dup_ids,
                                                 winnow_span_candidates)

    k, w = 8, 4
    shared = " ".join(f"s{i}" for i in range(k + w - 1))  # 11 tokens
    short = " ".join(f"t{i}" for i in range(k))           # k only
    docs = spark.createDataFrame([
        (0, "a b c " + shared + " x y z q r s t u v"),
        (1, "m n o p " + shared + " zz ww qq rr ss tt"),   # >= k+w-1 dup
        (2, "own1 " + short + " tailone tailtwo tailthree tailfour "
            "tailfive tailsix tailseven"),
        (3, "own2 " + short + " othera otherb otherc otherd othere "
            "otherf otherg"),                              # k-only dup
        (4, " ".join(f"u{i}" for i in range(25))),         # unique
    ], "doc_id long, text string")

    got = {r[0] for r in
           winnow_span_candidates(docs, k=k, w=w).collect()}
    exact = {r[0] for r in span_dup_ids(docs, k=k).collect()}
    assert 1 in got                       # guaranteed catch
    assert 4 not in got
    assert got <= exact                   # never a false candidate
    # k-only overlap (below the k+w-1 floor) may legitimately be missed
    assert exact == {1, 3}
    # w=1: every position selected -> identical to the exact index
    got1 = {r[0] for r in
            winnow_span_candidates(docs, k=k, w=1).collect()}
    assert got1 == exact


def test_classifier_fit_multiclass_recovers_languages(spark):
    """classifier_fit_multiclass (r11): one-vs-rest fit on a planted
    3-class function-word corpus recovers every label via argmax;
    weights are per-class separating (each class's own marker bigram
    gets that class's largest weight); error contracts fire."""
    import pytest
    from pandas_db_spark.operators.lm import (classifier_fit_multiclass,
                                              classifier_score_multiclass)

    filler = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"]
    marks = {"de": "der der der", "en": "the the the", "fr": "les les les"}
    labs = ["de", "en", "fr"]
    rows = [(i, filler[i % 3] + " " + marks[labs[i % 3]], labs[i % 3])
            for i in range(45)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y string")
    models = classifier_fit_multiclass(docs, "y", n_buckets=128,
                                       n_iter=25, lr=1.0)
    assert sorted(models) == labs
    got = {r["doc_id"]: r["pred_label"] for r in
           classifier_score_multiclass(docs, models).collect()}
    assert len(got) == 45
    assert all(got[i] == labs[i % 3] for i in range(45))

    with pytest.raises(ValueError, match=">= 2 distinct"):
        classifier_fit_multiclass(
            spark.createDataFrame([(0, "a b c", "en"), (1, "d e f", "en")],
                                  "doc_id long, text string, y string"),
            "y", n_buckets=64, n_iter=2)
    with pytest.raises(ValueError, match="non-empty"):
        classifier_score_multiclass(docs, {})
    with pytest.raises(ValueError, match="share n_buckets"):
        classifier_score_multiclass(
            docs, {"a": ([0.0] * 64, 0.0), "b": ([0.0] * 32, 0.0)})


def test_auto_minhash_geometry_modes(spark):
    """auto_minhash_geometry (r11): the recall-guaranteed mode holds
    miss <= target at the threshold within the permutation budget and
    maximizes rows (candidate selectivity); the balanced mode places
    the S-curve midpoint near the threshold; minhash_pairs(bands='auto')
    still finds planted near-dups at a non-default threshold."""
    import pytest
    from pandas_db_spark.operators.dedup import (auto_minhash_geometry,
                                                 minhash_pairs)

    for t in (0.3, 0.5, 0.8, 0.95):
        b, r = auto_minhash_geometry(128, t, miss_target=1e-6)
        assert b * r <= 128
        assert (1 - t ** r) ** b <= 1e-6
        # no deeper r admits the guarantee within the budget
        if r < 128:
            import math
            p = t ** (r + 1)
            b2 = max(1, math.ceil(math.log(1e-6) / math.log1p(-p)))
            assert b2 * (r + 1) > 128

    # balanced mode: S-curve midpoint lands near t (between 0.25-0.75)
    b, r = auto_minhash_geometry(128, 0.8)
    mid = 1 - (1 - 0.8 ** r) ** b
    assert 0.25 < mid < 0.75

    with pytest.raises(ValueError, match="threshold"):
        auto_minhash_geometry(128, 1.0)
    with pytest.raises(ValueError, match="miss_target"):
        auto_minhash_geometry(128, 0.8, miss_target=0.0)

    # end-to-end: planted half-overlap pair found at t=0.45 with 'auto'
    # (the fixed (32,4) geometry misses ~1 in 8 true pairs down here)
    base = [f"w{i}" for i in range(40)]
    a = " ".join(base)
    btxt = " ".join(base[:26] + [f"x{i}" for i in range(14)])
    docs = spark.createDataFrame(
        [(0, a), (1, btxt), (2, " ".join(f"z{i}" for i in range(40)))],
        "doc_id long, text string")
    got = minhash_pairs(docs, "text", "doc_id", threshold=0.45,
                        bands="auto", rows="auto").collect()
    pairs = {(r2["id_a"], r2["id_b"]) for r2 in got} if got and "id_a" in got[0].__fields__ else {tuple(sorted((x[0], x[1]))) for x in got}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


# ---------------------------------------------------------------------
# containment_pairs (asymmetric subset-dup) — r12 part 4
# ---------------------------------------------------------------------

def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A 10-word doc quoted verbatim inside a 60-word doc: Jaccard is
    ~8/56 (far below any dedup threshold) but containment is 1.0 — the
    quote-farm / wrapper-page shape.  Unrelated docs stay unpaired."""
    short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(50))
    other = " ".join(f"unrelated{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string")

    jac = D.jaccard_pairs(df, "text", "doc_id", threshold=0.5,
                          max_df=None)
    assert jac.count() == 0

    cont = D.containment_pairs(df, "text", "doc_id", threshold=0.9,
                               max_df=None).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    r = cont[0]
    # all 8 of the short doc's 3-gram shingles appear in the long doc
    assert r["n_inter"] == r["n_a"] == 8 and r["n_b"] == 58


def test_containment_matches_brute_force(spark, db):
    """sf0.001 documents at t=0.6: operator == all-pairs python replay
    over the same shingle sets."""
    rows = db.documents.df.select("doc_id", "text").collect()

    def sh(t):
        ws = t.strip().split(" ")
        if len(ws) >= 3:
            return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
        return {" ".join(ws)}

    sets = {r["doc_id"]: sh(r["text"]) for r in rows}
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter and inter / min(len(sets[a]), len(sets[b])) >= 0.6:
                want[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    got = {(r["id_a"], r["id_b"]): (r["n_inter"], r["n_a"], r["n_b"])
           for r in D.containment_pairs(
               db.documents.df, "text", "doc_id", threshold=0.6,
               max_df=None).collect()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------
# jaccard_pairs_prefix (SSJoin/PPJoin prefix filtering) — r12 part 4
# ---------------------------------------------------------------------

def test_prefix_jaccard_equals_capped_free_index(db):
    """On the real sf0.001 corpus the prefix generator must reproduce
    the exact inverted index (max_df=None) pair-for-pair."""
    want = {(r["id_a"], r["id_b"]): round(r["jaccard"], 12)
            for r in D.jaccard_pairs(db.documents.df, "text", "doc_id",
                                     threshold=0.8,
                                     max_df=None).collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 12)
           for r in D.jaccard_pairs_prefix(
               db.documents.df, "text", "doc_id",
               threshold=0.8).collect()}
    assert got == want and len(got) > 0


def test_prefix_jaccard_survives_template_corpus_where_cap_loses(spark):
    """Template farm: 10 docs sharing a 30-token boilerplate frame,
    each with 2 unique slot tokens — every cross-doc SHARED shingle is
    boilerplate (df=10), every rare shingle is doc-unique.  All 45
    pairs have J = 28/32 = 0.875.  The capped inverted index
    (max_df=2) finds NONE of them — every shared shingle is above the
    cap, the documented recall trade; prefix filtering finds all 45
    with no cap, because the lemma is order-independent: a 28-token
    intersection cannot avoid a |A|-floor(t|A|)+1 prefix."""
    frame = " ".join(f"boiler{i}" for i in range(30))
    docs = [(i, frame + f" uniqA{i} uniqB{i}") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    import warnings as W
    with W.catch_warnings():
        W.simplefilter("ignore")
        capped = {(r["id_a"], r["id_b"]) for r in
                  D.jaccard_pairs(df, "text", "doc_id", threshold=0.85,
                                  max_df=2).collect()}
    assert capped == set()  # the cap's documented miss, total here

    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.jaccard_pairs_prefix(df, "text", "doc_id",
                                  threshold=0.85).collect()}
    assert len(got) == 45 and set(got.values()) == {28 / 32}


def test_prefix_jaccard_validation(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        D.jaccard_pairs_prefix(df, "text", "doc_id", threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        D.jaccard_pairs_prefix(df, "text", "doc_id", threshold=1.5)
    # t=1.0 (exact-duplicate mode): prefix length 1, still lossless
    dup = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w"), (3, "p q r s")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           D.jaccard_pairs_prefix(dup, "text", "doc_id",
                                  threshold=1.0).collect()}
    assert got == {(1, 2)}
