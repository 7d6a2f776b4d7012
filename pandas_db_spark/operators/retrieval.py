"""Lexical retrieval / term weighting over the ``documents`` table.

Training-data curation leans on lexical statistics constantly — term/
document frequencies for stopword discovery and vocabulary pruning,
TF-IDF vectors as cheap features, BM25 scoring for "find corpus docs
matching this probe query" (e.g. contamination triage, topic sampling).
The reference engine (pandas-db) has no retrieval surface; this module is
beyond-parity capability, defined against exact SQL oracles.

Scale shape (the part that matters at 100 TB):

* Tokenization is the same whitespace rule as ``functions.text.tokens``
  — one narrow JVM pass, no Python.
* BM25 filters the exploded token stream to the QUERY'S terms *before*
  any shuffle: the keyed aggregation moves only postings that can score,
  a few rows per matching document, never the corpus token stream.
* Document length rides the explode (``dl`` is carried alongside each
  token), so no second join against a doc-length table.
* Global scalars (N, avgdl) are one aggregate collected to the driver —
  two numbers, then folded back in as literals; the classic
  broadcast-scalar pattern.
* Top-k is ``orderBy().limit(k)`` → Spark's TakeOrderedAndProject —
  per-partition heaps, no global sort.

Float discipline: scores involve ``ln`` whose last-ulp rounding is not
contractually identical across engines, so oracle-checked queries return
RANKS (integers, ties broken by doc_id) rather than raw scores — the
same device as ``ann_topk``.  Raw scores remain available to users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pandas_db_spark.session import tiny_df
from pandas_db_spark.streaming.sink import compact, hadoop_fs, write_batch

from pandas_db_spark.functions.text import tokens


def _postings(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, dl, term) exploded token stream; dl = token count carried
    along so downstream scoring never re-joins a doc-length table."""
    toks = tokens(F.col(text_col))
    # explode_outer + generated-column filter: plain explode would make
    # Catalyst infer `size(tokens) > 0` and evaluate the tokenization a
    # second time inside the scan's filter (see decontam._shingle_index).
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.size(toks).alias("dl"),
                        F.explode_outer(toks).alias("term"))
            .where(F.col("term").isNotNull()))


def _doc_term_freqs(docs: DataFrame, text_col: str,
                    id_col: str) -> DataFrame:
    """(term, doc_id, dl, tf) per-document term frequencies with ZERO
    shuffle — the r14 replacement for ``explode + groupBy(term,
    doc_id)`` wherever the FULL (unfiltered) tf table is built.

    Every token of a document lives in one row, so tf never needs a
    keyed shuffle: sort the token array in place (``array_sort``), find
    the run starts with an index filter, and emit one ``(term, tf)``
    struct per run — a per-doc run-length encode, all codegen'd JVM
    array expressions.  Measured 4x faster than the groupBy shape at
    sf0.1 (noop sink 1.74 -> 0.40 s per half-corpus batch) because the
    hash partial-aggregation over every raw token occurrence and the
    (term, doc_id) Exchange disappear outright.

    Output is row-identical to the groupBy shape (verified with
    ``exceptAll`` both ways plus the oracle suite): ``tokens`` always
    returns >= 1 element for non-NULL text (``split`` of '' is ['']),
    so ``sequence(0, size-1)`` is well-formed, and NULL text yields a
    NULL array that ``explode`` drops — the explode_outer + not-null
    filter dance in :func:`_postings` is unnecessary here.  Keep the
    query-term-filtered scorers (``bm25_topk``) on the explode path:
    filtering a handful of terms before the shuffle is cheaper than
    sorting every doc's full token array."""
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.array_sort(toks).alias("st"))
    return _tf_from_sorted(base)


def _tf_from_sorted(base: DataFrame) -> DataFrame:
    """The run-length-encode half of :func:`_doc_term_freqs`, over a
    ``(doc_id, st)`` frame whose ``st`` is the doc's SORTED token array
    — split out (r14) so callers can attach ``observe`` metrics to the
    doc-level node before the explode (``append_bm25_stream_batch``
    rides its corpus scalars on this seam)."""
    base = base.withColumn("starts", F.expr(
        "filter(sequence(0, size(st) - 1), "
        "i -> i = 0 OR st[i] != st[i-1])"))
    runs = F.expr(
        "transform(starts, (s, j) -> named_struct("
        "'term', st[s], "
        "'tf', coalesce(get(starts, j + 1), size(st)) - s))")
    return (base.select("doc_id", F.size("st").cast("long").alias("dl"),
                        F.explode(runs).alias("r"))
            .select(F.col("r.term").alias("term"), "doc_id", "dl",
                    F.col("r.tf").cast("long").alias("tf")))


def term_stats(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-term corpus statistics: document frequency ``df`` and
    collection frequency ``cf`` (total occurrences).  One explode → one
    keyed shuffle with map-side partial aggregation; the stopword /
    vocabulary-pruning primitive."""
    return (_postings(docs, text_col, id_col)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count(F.lit(1)).alias("cf")))


def ngram_stats(docs: DataFrame, text_col: str, id_col: str,
                n: int = 3) -> DataFrame:
    """Per-n-gram corpus statistics: ``(gram, df, cf)`` over word
    n-grams with EVERY occurrence counted (unlike the dedup families'
    distinct shingle sets) — the corpus-analysis primitive behind
    boilerplate detection ("which 3-grams dominate the crawl?"),
    contamination triage, and duplicate-n-gram quality metrics at the
    corpus rather than per-document level (functions/text.py
    top_bigram_frac is the per-document sibling).

    Same shape as :func:`term_stats`: one positional explode (narrow)
    → one keyed groupBy with map-side partial aggregation — the shuffle
    carries one row per distinct gram per task, so Zipf-distributed
    gram mass compresses before the wire.  Docs shorter than ``n``
    tokens contribute nothing."""
    from pandas_db_spark.functions.text import tokens
    t = docs.select(F.col(id_col).alias("doc_id"),
                    tokens(F.col(text_col)).alias("toks"))
    g = (t.where(F.size("toks") >= n)
          .select("doc_id", F.explode(F.transform(
              F.sequence(F.lit(1), F.size("toks") - n + 1),
              lambda i: F.concat_ws(" ", F.slice("toks", i, n))))
              .alias("gram")))
    return (g.groupBy("gram")
             .agg(F.countDistinct("doc_id").alias("df"),
                  F.count(F.lit(1)).alias("cf")))


def tf_idf(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Sparse TF-IDF matrix: (doc_id, term, tf, df, tfidf) with
    ``tfidf = tf · ln(N / df)``.  One keyed shuffle — (term) for df; tf
    comes shuffle-free from the per-doc run-length encode
    (:func:`_doc_term_freqs`, r14).  N is a broadcast scalar.
    ``tfidf`` is a double — see the module note on cross-engine ln
    determinism."""
    tf = (_doc_term_freqs(docs, text_col, id_col)
          .select("doc_id", "term", "tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N rides the plan as a broadcast one-row frame (scalar-subquery
    # shape) instead of an eager collect — zero jobs at construction
    # (r8, same discipline as reshape's winsorize/standardize).
    nd = docs.agg(F.countDistinct(F.col(id_col))
                  .cast("double").alias("__n_docs"))
    return (tf.join(df, "term")
            .crossJoin(F.broadcast(nd))
            .select("doc_id", "term", "tf", "df",
                    (F.col("tf") * F.log(F.col("__n_docs") /
                                         F.col("df"))).alias("tfidf")))


def _drop_table_and_location(spark, table_name: str) -> None:
    """DROP the catalog table, then remove an ORPHANED managed-table
    directory if one survives.  A rebuilt index in a FRESH session
    (in-memory catalog) otherwise hits LOCATION_ALREADY_EXISTS: the
    previous session's warehouse directory persists while the new
    catalog has no entry for it, so ``saveAsTable`` refuses the location.

    Safety contract: a REGISTERED table is removed only through ``DROP
    TABLE`` — the catalog deletes the table's real location, wherever it
    is; we never guess a path for it.  The filesystem delete runs only
    when the table is ABSENT from the catalog, and only against the
    default-database managed location ``<warehouse>/<name>`` — the one
    ``saveAsTable`` would claim next.  Qualified names (``db.tbl`` lives
    at ``<warehouse>/db.db/tbl``) are rejected rather than mapped to the
    wrong directory.  Uses the Hadoop FileSystem API, so it works
    identically on local / HDFS / S3A warehouses."""
    if "." in table_name:
        raise ValueError(
            "_drop_table_and_location supports only unqualified "
            f"default-database table names, got {table_name!r} — a "
            "qualified name's managed location is not <warehouse>/<name>")
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    if spark.catalog.tableExists(table_name):
        # DROP failed to unregister (e.g. a view shadows the name):
        # surface that through saveAsTable's own error, don't touch disk.
        return
    try:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, P = hadoop_fs(spark, warehouse)
        path = P(warehouse, table_name.lower())
        if fs.exists(path):
            fs.delete(path, True)
    except Exception:
        # best-effort: if cleanup fails, saveAsTable will surface the
        # location conflict with its own precise error
        pass


def build_inverted_index(docs: DataFrame, text_col: str, id_col: str,
                         table_prefix: str, n_buckets: int = 32) -> None:
    """Materialize a BM25-ready inverted index as THREE catalog tables:

    * ``{prefix}_postings`` (term, doc_id, tf, dl) — bucketed AND sorted
      by ``term``, so a later query's ``term IN (…)`` filter prunes to
      the matching buckets (Spark's bucket pruning; asserted in pytest)
      instead of scanning the full postings list;
    * ``{prefix}_terms`` (term, df) — per-term document frequency;
    * ``{prefix}_meta`` (n_docs, sum_dl, avgdl) — the corpus scalars;
      ``sum_dl`` is the exact integer token total (NULL texts count 0)
      so :func:`append_inverted_index` updates the mean exactly.

    Build cost: one explode + two keyed shuffles, once; after that every
    probe query reads ~|query terms| / ``n_buckets`` of the postings.
    This is the index-once/query-many pattern — at 100 TB the on-the-fly
    :func:`bm25_topk` pays a corpus scan per query, the index pays it
    once."""
    from pandas_db_spark.sources.registry import write_bucketed

    spark = docs.sparkSession
    for suffix in ("_postings", "_terms", "_meta"):
        _drop_table_and_location(spark, table_prefix + suffix)

    tf = (_doc_term_freqs(docs, text_col, id_col)
          .select("term", "doc_id", "dl", "tf"))
    write_bucketed(tf, f"{table_prefix}_postings", ["term"],
                   n_buckets=n_buckets, sort_cols=["term"])
    spark = docs.sparkSession
    (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
       .write.mode("overwrite").saveAsTable(f"{table_prefix}_terms"))
    # avgdl is the EXACT integer token total divided once — NULL-text
    # docs contribute 0 tokens (the explicit when-guard, because
    # non-ANSI size(NULL) is -1, not NULL) while still counting in
    # n_docs, and sum_dl is persisted so append_inverted_index can
    # update the mean exactly instead of re-weighting floats: append
    # meta == rebuild meta bit-for-bit even with NULL texts
    # (ADVICE r11).  For all-non-NULL corpora this equals the previous
    # F.avg (double partial sums of small integers are exact).
    (docs.agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum(F.when(F.col(text_col).isNull(), F.lit(0))
                     .otherwise(F.size(tokens(F.col(text_col)))))
               .cast("long").alias("sum_dl"))
     .select("n_docs", "sum_dl",
             (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
     .write.mode("overwrite").saveAsTable(f"{table_prefix}_meta"))


def bm25_topk_indexed(spark, table_prefix: str, query: str, k: int = 10,
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 top-k served from a :func:`build_inverted_index` index —
    no document scan at all: the bucketed postings table is probed with
    ``term IN (…)`` (bucket-pruned), df and the corpus scalars come from
    the side tables.  Scoring formula identical to :func:`bm25_topk`."""
    q_terms = sorted({t for t in query.strip().split() if t})
    if not q_terms:
        raise ValueError("bm25_topk_indexed: query has no terms")
    meta = spark.table(f"{table_prefix}_meta").collect()[0]
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    tf = spark.table(f"{table_prefix}_postings") \
        .where(F.col("term").isin(q_terms))
    df = (spark.table(f"{table_prefix}_terms")
          .where(F.col("term").isin(q_terms)))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    scored = (tf.join(F.broadcast(df), "term")
              .select("doc_id", (idf * norm).alias("s"))
              .groupBy("doc_id").agg(F.sum("s").alias("score")))
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
           .select("doc_id", "score"))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.select(F.row_number().over(w).alias("rank"),
                       "doc_id", "score"))


def append_bm25_stream_batch(batch_df: DataFrame, batch_id: int,
                             index_dir: str, text_col: str = "text",
                             id_col: str = "doc_id",
                             n_buckets: int = 32) -> None:
    """Write one micro-batch of documents into a STREAMING BM25 index
    directory (r12) — the text-retrieval twin of the IVF streaming
    maintenance's per-batch write, factored out of the ``foreachBatch``
    handler so the driver-gate oracle can replay batches
    deterministically without a checkpoint.

    Layout (plain partitioned parquet, no catalog tables — a stream
    can't run ``ALTER TABLE`` swaps per batch):

    * ``{dir}/postings/batch_id=N/tbucket=B`` — (term, doc_id, tf, dl)
      rows, ``tbucket = xxhash64(term) mod n_buckets``.  A query's
      terms prune to their buckets ACROSS every batch directory
      (partition filters apply at any nesting level — the
      ``run_ivf_index_ingest`` serving trick), so a probe reads
      ~|query terms|/n_buckets of the postings, never the corpus.
    * ``{dir}/meta/batch_id=N`` — one (n_docs, sum_dl) row of EXACT
      integers per batch; serving sums them, so the corpus scalars
      equal a from-scratch batch build bit-for-bit (the r12
      ``sum_dl`` discipline — NULL texts count 0 tokens, in n_docs).

    Both writes are ``streaming.sink.write_batch`` dynamic partition
    overwrites keyed on ``batch_id``: a crash REPLAY of a micro-batch
    rewrites its own partitions instead of double-appending.  Each doc
    id must arrive in exactly one batch — the Structured Streaming
    checkpoint guarantees it; losing the checkpoint and re-ingesting
    double-counts, as with any replay-after-checkpoint-loss.

    One corpus pass per append (r14): the meta scalars ride the
    postings-write job as ``observe`` metrics on the doc-level node
    (observable metrics are exact under task retries — SPARK-29345's
    design goal), instead of a second tokenize-everything aggregation
    job.  ``sum(size(st))`` over the sorted token arrays equals the old
    ``sum(size(tokens(text)))`` exactly (``array_sort`` preserves
    length; NULL text → NULL ``st`` → counted 0, in ``n_docs``), and
    the one-row meta write is a driver-rows ``tiny_df``."""
    from pyspark.sql import Observation
    toks = tokens(F.col(text_col))
    base = batch_df.select(F.col(id_col).alias("doc_id"),
                           F.array_sort(toks).alias("st"))
    obs = Observation()
    base = base.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("st").isNull(), F.lit(0))
               .otherwise(F.size("st"))).cast("long").alias("sum_dl"))
    tf = (_tf_from_sorted(base)
          .select("term", "doc_id", "dl", "tf")
          .withColumn("tbucket", F.pmod(F.xxhash64("term"),
                                        F.lit(n_buckets))))
    write_batch(tf, batch_id, index_dir + "/postings", "tbucket")
    m = obs.get
    sum_dl = m["sum_dl"]
    write_batch(tiny_df(batch_df.sparkSession,
                        [(int(m["n_docs"]),
                          int(sum_dl) if sum_dl is not None else None)],
                        "n_docs long, sum_dl long"),
                batch_id, index_dir + "/meta")


def compact_bm25_stream_index(spark, index_dir: str,
                              checkpoint_dir: str | None = None) -> dict:
    """Fold a streaming BM25 index's per-batch fragmentation
    (:func:`append_bm25_stream_batch` adds one file per touched
    ``tbucket`` per batch, plus one meta file per batch): postings
    rewrite at one file per ``tbucket`` under the reserved
    ``batch_id=-1`` partition, meta rows fold to a single file under
    the same partition — content is row-identical, only the layout
    changes, and serving's integer meta sums are unaffected.  The same
    contract, staged swap, crash rollback and streaming-layout rules as
    ``similarity.compact_index`` (both fold through
    ``streaming.sink.compact``): run OFFLINE, keep the checkpoint, pass
    ``checkpoint_dir`` to refuse compaction while a batch is
    started-but-uncommitted."""
    report = compact(spark, index_dir,
                     {"postings": "tbucket", "meta": None}, checkpoint_dir)
    if "postings" not in report:
        raise ValueError(f"{index_dir} holds no /postings dataset — "
                         "not a streaming BM25 index directory")
    return report


def bm25_topk_streamed(spark, index_dir: str, query: str, k: int = 10,
                       k1: float = 1.2, b: float = 0.75,
                       n_buckets: int = 32) -> DataFrame:
    """BM25 top-k served from a streaming index directory
    (:func:`append_bm25_stream_batch` / ``run_bm25_index_ingest``) as
    of the last drained batch — no rebuild, no document scan.

    Plan shape: the query's terms hash to their ``tbucket`` values on
    the DRIVER (``utils.xxhash64_str`` — bit-identical to the JVM hash,
    zero jobs), the postings read prunes to those bucket
    partitions across every batch directory, per-term df is counted
    from the PRUNED rows (each (term, doc) pair appears once because
    each doc arrives in one batch), and the corpus scalars are the
    exact-integer sums of the per-batch meta rows — so the served
    ranking equals :func:`bm25_topk_indexed` over a from-scratch batch
    build of the same corpus.  ``n_buckets`` must match the ingest's
    (it is part of the pinned geometry, like the IVF centroids)."""
    from pandas_db_spark.utils import xxhash64_str
    q_terms = sorted({t for t in query.strip().split() if t})
    if not q_terms:
        raise ValueError("bm25_topk_streamed: query has no terms")
    buckets = sorted({xxhash64_str(t) % n_buckets for t in q_terms})
    meta = (spark.read.parquet(index_dir + "/meta")
            .agg(F.sum("n_docs").alias("n"),
                 F.sum("sum_dl").alias("s")).collect()[0])
    n_docs = int(meta["n"])
    avgdl = (int(meta["s"]) / n_docs) if n_docs else 0.0
    tf = (spark.read.parquet(index_dir + "/postings")
          .where(F.col("tbucket").isin(buckets)
                 & F.col("term").isin(q_terms)))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    scored = (tf.join(F.broadcast(df), "term")
              .select("doc_id", (idf * norm).alias("s"))
              .groupBy("doc_id").agg(F.sum("s").alias("score")))
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
           .select("doc_id", "score"))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.select(F.row_number().over(w).alias("rank"),
                       "doc_id", "score"))


def token_rarity(docs: DataFrame, text_col: str, id_col: str,
                 broadcast_vocab: bool = True) -> DataFrame:
    """Per-document corpus-frequency profile — the exact-integer rarity
    signal: ``(doc_id, n_tokens, sum_cf, mean_cf_e4)`` where ``sum_cf``
    sums each token's collection frequency and ``mean_cf_e4`` is the
    mean scaled by 10⁴ under integer floor division (deterministic
    across engines — no float accumulation anywhere).

    Low mean frequency ⇒ rare-token-heavy text (OCR noise, gibberish,
    or genuinely novel content) — the cheap pre-filter before LM-based
    perplexity scoring.  Plan: two passes over the exploded stream (one
    to build the vocab cf table, one to join it back) + one keyed
    groupBy per doc.  ``broadcast_vocab`` fits Zipfian vocabularies
    (≈10⁷ terms ≈ 100 MB) in a broadcast; set False to shuffle-join the
    vocab when the corpus is pathological (no natural-language Zipf
    decay, e.g. random hex)."""
    cf = term_stats(docs, text_col, id_col).select("term", "cf")
    if broadcast_vocab:
        cf = F.broadcast(cf)
    p = _postings(docs, text_col, id_col)
    per_doc = (p.join(cf, "term")
               .groupBy("doc_id")
               .agg(F.first("dl").cast("long").alias("n_tokens"),
                    F.sum("cf").alias("sum_cf")))
    # Exact scaled mean in pure long arithmetic (no float, no decimal
    # rescale-rounding): split into quotient·10⁴ + remainder·10⁴ div n.
    # Overflow-free while mean_cf < 9·10¹⁴ — a 100 TB text corpus tops
    # out around mean_cf ≈ 2·10¹³ (every token the same word), with
    # margin; r·10⁴ ≤ n·10⁴ never overflows for any real doc length.
    return per_doc.select(
        "doc_id", "n_tokens", "sum_cf",
        F.expr("(sum_cf div n_tokens) * 10000 "
               "+ (sum_cf % n_tokens) * 10000 div n_tokens")
        .alias("mean_cf_e4"))


def unigram_surprisal(docs: DataFrame, text_col: str, id_col: str,
                      broadcast_vocab: bool = True) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    unigram LM: ``avg_nll = -(1/n) Σ ln(cf(t) / total_tokens)`` — the
    classic perplexity-proxy quality score (high ⇒ surprising ⇒ rare
    vocabulary).  Same plan shape as :func:`token_rarity`.  Returns
    doubles (ln); rank or bucket the output rather than hash-comparing
    raw values across engines."""
    cf = term_stats(docs, text_col, id_col).select("term", "cf")
    total = cf.agg(F.sum("cf")).collect()[0][0]
    lp = cf.select("term",
                   (F.log(F.col("cf").cast("double"))
                    - F.log(F.lit(float(total)))).alias("logp"))
    if broadcast_vocab:
        lp = F.broadcast(lp)
    p = _postings(docs, text_col, id_col)
    return (p.join(lp, "term")
            .groupBy("doc_id")
            .agg((-F.avg("logp")).alias("avg_nll"),
                 F.count(F.lit(1)).alias("n_tokens")))


def bigram_surprisal(docs: DataFrame, text_col: str, id_col: str,
                     broadcast_lm: bool = True) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    BIGRAM LM: ``avg_nll2 = -(1/(n-1)) Σ ln(c(w₋₁w) / c(w₋₁·))`` — a
    sharper fluency/repetition signal than the unigram form (word-salad
    scores high even when its unigram profile looks normal, because its
    bigrams are near-uniform).

    MLE conditional probabilities; scoring the training corpus itself,
    so every bigram has been seen (no smoothing needed — a document
    scored against a DIFFERENT corpus's LM should add it).  Plan: one
    bigram explode feeding both the LM counts (one keyed shuffle) and
    the scoring join (broadcast LM by default — bigram vocabularies are
    Zipfian like unigrams); docs with < 2 tokens are omitted (no
    bigrams to score)."""
    from pandas_db_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.element_at(toks, i).alias("w1"),
                           F.element_at(toks, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    per_doc = (docs.select(F.col(id_col).alias("doc_id"),
                           F.explode_outer(bigrams).alias("bg"))
               .where(F.col("bg").isNotNull())
               .select("doc_id", F.col("bg.w1").alias("w1"),
                       F.col("bg.w2").alias("w2")))
    lm = (per_doc.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("c2")))
    lm1 = lm.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = lm.join(lm1, "w1").select(
        "w1", "w2",
        (F.log(F.col("c2").cast("double"))
         - F.log(F.col("c1").cast("double"))).alias("logp"))
    if broadcast_lm:
        lm = F.broadcast(lm)
    return (per_doc.join(lm, ["w1", "w2"])
            .groupBy("doc_id")
            .agg((-F.avg("logp")).alias("avg_nll2"),
                 F.count(F.lit(1)).alias("n_bigrams")))


def bm25_topk(docs: DataFrame, text_col: str, id_col: str, query: str,
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents for a probe query under BM25
    (Lucene form: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Returns (rank, doc_id, score) ordered by score desc, doc_id asc —
    the output id column is always named ``doc_id`` (callers passing a
    different ``id_col`` re-alias, as :func:`hybrid_topk` does).
    The corpus never shuffles: postings are filtered to the query's terms
    first, so the aggregation input is ~|matching docs| · |query terms|
    rows regardless of corpus size.
    """
    q_terms = sorted({t for t in query.strip().split() if t})
    if not q_terms:
        raise ValueError("bm25_topk: query has no terms")

    # N and avgdl ride the plan as a broadcast one-row frame (r9, same
    # lazy-construction discipline as tf_idf/build_vocab: the previous
    # construction-time collect() tokenized the ENTIRE corpus eagerly
    # before any action; the indexed sibling reads them from its meta
    # table).  cast("double") of a count and the avg itself reproduce
    # the collected float values bit-for-bit, so oracle hashes are
    # unchanged.
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg(F.size(tokens(F.col(text_col)))).alias("__avgdl"))

    p = (_postings(docs, text_col, id_col)
         .where(F.col("term").isin(q_terms)))
    tf = (p.groupBy("doc_id", "term")
          .agg(F.first("dl").alias("dl"), F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl")))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(stats))
              .select("doc_id", (idf * norm).alias("s"))
              .groupBy("doc_id").agg(F.sum("s").alias("score")))
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
           .select("doc_id", "score"))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.select(F.row_number().over(w).alias("rank"),
                       "doc_id", "score"))


def hybrid_topk(docs: DataFrame, emb: DataFrame, query: str,
                query_vec_id: int, k: int = 10, fetch_k: int = 50,
                k_rrf: int = 60, text_col: str = "text",
                id_col: str = "doc_id", emb_id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Hybrid sparse+dense retrieval via Reciprocal Rank Fusion
    (Cormack et al. 2009): fetch the BM25 top-``fetch_k`` for ``query``
    and the exact-cosine top-``fetch_k`` for the query vector, fuse with
    ``rrf = Σ 1/(k_rrf + rank)`` (a list a doc is absent from
    contributes 0), return the fused top-``k`` as
    ``(rank, doc_id, in_bm25, in_dense)``.

    Plan shape at 100 TB: both branches are already scale-proven — BM25
    never shuffles the corpus (term-filtered postings), the dense side
    is a broadcast-query brute scan with per-partition top-k — and the
    fusion joins two ≤ fetch_k-row frames, so AQE broadcasts both.
    Output is integer/boolean-only: ranks fuse through ``1/(k_rrf+r)``
    doubles, identical IEEE ops in any engine, so the fused order (ties
    broken by doc_id) hashes bit-stably."""
    from pandas_db_spark.operators.similarity import ann_topk_brute

    # bm25_topk's output id column is fixed at "doc_id" regardless of the
    # input id_col it tokenized by — re-alias so id_col != "doc_id" works.
    bm = (bm25_topk(docs, text_col, id_col, query, k=fetch_k)
          .select(F.col("doc_id").alias(id_col),
                  F.col("rank").alias("__rb")))
    dn = (ann_topk_brute(emb, [query_vec_id], k=fetch_k,
                         id_col=emb_id_col)
          .select(F.col("neighbor_id").alias(id_col),
                  F.col("rank").alias("__rd")))
    one = F.lit(1.0)
    zero = F.lit(0.0)
    fused = (bm.join(dn, id_col, "full_outer")
             .select(id_col,
                     (F.coalesce(one / (F.lit(k_rrf) + F.col("__rb")), zero)
                      + F.coalesce(one / (F.lit(k_rrf) + F.col("__rd")),
                                   zero)).alias("__rrf"),
                     F.col("__rb").isNotNull().alias("in_bm25"),
                     F.col("__rd").isNotNull().alias("in_dense")))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("__rrf"), F.asc(id_col))
    return (fused.select(F.row_number().over(w).alias("rank"), id_col,
                         "in_bm25", "in_dense")
            .where(F.col("rank") <= k))


def build_vocab(docs: DataFrame, text_col: str, id_col: str,
                min_df: int = 1, max_df_frac: float = 1.0,
                max_size: int | None = None) -> DataFrame:
    """Document-frequency-pruned vocabulary: ``(term, df, cf, term_id)``
    with contiguous ids assigned by descending collection frequency
    (ties: term ascending) — the feature-hashing-free vocabulary builder
    (CountVectorizer-style pruning): ``min_df`` drops hapax/noise terms,
    ``max_df_frac`` drops stopword-like terms present in more than that
    fraction of documents, ``max_size`` caps the vocabulary at the most
    frequent survivors.

    Scale shape: one :func:`term_stats` pass (explode + keyed agg with
    map-side partials), the df-bound filters are narrow, and the id
    assignment sorts only the SURVIVING vocabulary (≈10⁵-10⁷ rows after
    pruning — Zipf guarantees the blowup is in the pruned tail), via a
    range-partitioned sort + the broadcast-offset ordinal, never a
    single-task window."""
    if min_df < 1:
        raise ValueError("build_vocab: min_df must be >= 1")
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError("build_vocab: max_df_frac must be in (0, 1]")
    from pandas_db_spark.plans import ordinal as O

    stats = term_stats(docs, text_col, id_col).where(F.col("df") >= min_df)
    if max_df_frac < 1.0:
        # The df bound rides the plan as a broadcast one-row frame —
        # the corpus countDistinct fires only when the bound is actually
        # used (this branch) and only at execution, never construction
        # (r8; previously an unconditional eager collect).  The double
        # multiply + bigint cast reproduces Python's int(frac * n)
        # truncation bit-for-bit, so oracle hashes are unchanged.
        nd = docs.agg(F.countDistinct(F.col(id_col)).alias("__nd"))
        stats = (stats.crossJoin(F.broadcast(nd))
                 .where(F.col("df") <=
                        (F.lit(max_df_frac) * F.col("__nd"))
                        .cast("bigint"))
                 .drop("__nd"))
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    arranged = (stats.repartitionByRange(n_parts, F.desc("cf"),
                                         F.asc("term"))
                     .sortWithinPartitions(F.desc("cf"), F.asc("term")))
    numbered, _n = O.with_ordinal_and_count(arranged)
    out = numbered.withColumn(
        "term_id", F.col(O.ORDINAL_COL).cast("long")).drop(O.ORDINAL_COL)
    if max_size is not None:
        if max_size < 1:
            raise ValueError("build_vocab: max_size must be >= 1")
        out = out.where(F.col("term_id") < max_size)
    return out.select("term", "df", "cf", "term_id")


def append_inverted_index(docs_new: DataFrame, text_col: str, id_col: str,
                          table_prefix: str, n_buckets: int = 32,
                          check_ids: bool = True) -> None:
    """Append new documents to a :func:`build_inverted_index` index —
    the text-retrieval twin of ``similarity.append_ivf_index`` (r11).
    Unlike the vector index there is NO fitted geometry to pin, so the
    appended index is EXACTLY what a from-scratch rebuild over the
    union produces (pytest asserts postings/df/served-ranking
    equality; ``avgdl`` updates from the persisted exact integer token
    total ``sum_dl``, so it equals the rebuild's BIT-FOR-BIT — NULL
    texts included, which count 0 tokens on both paths; a pre-r12 meta
    without ``sum_dl`` falls back to float re-weighting, exact up to
    association):

    * ``{prefix}_postings`` — the new docs' (term, doc_id, tf, dl) rows
      APPEND into the bucketed table with the same
      ``bucketBy(n_buckets, term)`` spec, so bucket pruning on
      ``term IN (…)`` keeps working over old and new files alike
      (``n_buckets`` must match the build's).
    * ``{prefix}_terms`` — per-term df is a MERGE, not an append: the
      old table full-outer-joins the new docs' df and the sum lands in
      a staged table swapped in via ``ALTER TABLE RENAME`` (the old
      table must outlive the stage write that reads it).
    * ``{prefix}_meta`` — ``n_docs`` and ``sum_dl`` add as exact
      integers; ``avgdl = sum_dl / n_docs`` recomputes from the totals.

    ``check_ids`` pays one doc_id semi-probe of the postings to fail
    loudly on re-ingested ids (double-counted tf would silently
    inflate that doc's score).  Run OFFLINE between query batches —
    the three writes are not transactional across tables."""
    spark = docs_new.sparkSession
    postings_t = f"{table_prefix}_postings"
    terms_t = f"{table_prefix}_terms"
    meta_t = f"{table_prefix}_meta"
    for t in (postings_t, terms_t, meta_t):
        if not spark.catalog.tableExists(t):
            raise ValueError(f"{t} does not exist — build the index "
                             "with build_inverted_index first")
    if check_ids:
        dup = (docs_new.select(F.col(id_col).alias("doc_id")).distinct()
               .join(spark.table(postings_t).select("doc_id"),
                     "doc_id", "left_semi").limit(5).collect())
        if dup:
            raise ValueError(
                f"append to {table_prefix}: doc ids already indexed "
                f"(first few: {[r[0] for r in dup]}) — duplicate "
                "postings would double-count tf")

    from pandas_db_spark.sources.registry import write_bucketed

    tf = (_doc_term_freqs(docs_new, text_col, id_col)
          .select("term", "doc_id", "dl", "tf"))
    write_bucketed(tf, postings_t, ["term"], n_buckets=n_buckets,
                   sort_cols=["term"], mode="append")

    new_df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_new"))
    merged = (spark.table(terms_t)
              .join(new_df, "term", "full_outer")
              .select("term",
                      (F.coalesce("df", F.lit(0))
                       + F.coalesce("df_new", F.lit(0))).alias("df")))
    stage_t = terms_t + "_stage"
    _drop_table_and_location(spark, stage_t)
    merged.write.mode("overwrite").saveAsTable(stage_t)
    _drop_table_and_location(spark, terms_t)
    spark.sql(f"ALTER TABLE {stage_t} RENAME TO {terms_t}")

    old = spark.table(meta_t).collect()[0]
    stats = docs_new.agg(
        F.count(F.lit(1)).alias("n"),
        # same NULL-text guard as the build: size(NULL) is -1 under
        # non-ANSI Spark, and a NULL-text doc must contribute 0 tokens
        # while still counting in n_docs (ADVICE r11)
        F.sum(F.when(F.col(text_col).isNull(), F.lit(0))
               .otherwise(F.size(tokens(F.col(text_col)))))
         .alias("sum_dl")).collect()[0]
    n_new, dl_new = int(stats["n"]), int(stats["sum_dl"] or 0)
    n_total = int(old["n_docs"]) + n_new
    if "sum_dl" in old.__fields__ and old["sum_dl"] is not None:
        # r12 meta persists the exact integer token total, so the
        # appended mean IS the rebuild's mean bit-for-bit
        sum_total = int(old["sum_dl"]) + dl_new
        avgdl = (sum_total / n_total) if n_total else 0.0
    else:
        # pre-r12 index without sum_dl: float re-weighting (exact up
        # to float association, the documented legacy tolerance)
        sum_total = int(round(float(old["avgdl"]) * int(old["n_docs"]))
                        ) + dl_new
        avgdl = ((float(old["avgdl"]) * int(old["n_docs"]) + dl_new)
                 / n_total) if n_total else 0.0
    (tiny_df(spark, [(n_total, sum_total, avgdl)],
             "n_docs long, sum_dl long, avgdl double")
     .write.mode("overwrite").saveAsTable(meta_t + "_stage2"))
    _drop_table_and_location(spark, meta_t)
    spark.sql(f"ALTER TABLE {meta_t}_stage2 RENAME TO {meta_t}")


def phrase_match_counts(docs: DataFrame, text_col: str, id_col: str,
                        phrase: str,
                        max_df: int | None = 100_000) -> DataFrame:
    """Exact token-sequence phrase search — ``(doc_id, n_matches)`` for
    every document containing the phrase's tokens CONSECUTIVELY (the
    positional-index query a bag-of-words BM25 structurally cannot
    answer: "new york" must not match "york ... new").  Overlapping
    occurrences all count ("a a" occurs twice in "a a a"), the
    positional-index convention.

    Plan shape (the 100 TB story): positions explode with
    ``posexplode``, rows are PRUNED to the phrase's terms before
    anything shuffles (the bm25_topk postings discipline — the corpus
    never shuffles, only the query terms' postings), then ONE
    ``groupBy(doc)`` collects a position array per phrase slot via
    conditional aggregation, and the consecutive-position check is a
    codegen'd JVM fold over those arrays (``filter`` +
    ``array_contains``) — one Exchange total, no m-way self-join, no
    Python.  A phrase term's posting list for one doc is bounded by
    that doc's length, so per-group memory is document-scale.

    ``max_df`` (VERDICT r13 Next #8 — the ``mode()``/hub-cap valve
    pattern): the pruning discipline is only as good as the phrase —
    a stopword phrase ("the the the" over web text) prunes to nearly
    the whole corpus and the groupBy degrades to a corpus shuffle.
    Before shuffling, each term's document frequency is counted (one
    map-side-combinable aggregate over the pruned postings, never a
    collect); a term in more than ``max_df`` documents raises with a
    remediation message.  ``max_df=None`` disables the valve for
    corpora where the scan is intended."""
    terms = [t for t in phrase.strip().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    toks = tokens(F.col(text_col))
    pos = (docs.select(F.col(id_col).alias("doc_id"),
                       F.posexplode_outer(toks).alias("pos", "term"))
           .where(F.col("term").isin(terms)))
    if max_df is not None:
        hot = (pos.groupBy("term")
               .agg(F.countDistinct("doc_id").alias("df"))
               .where(F.col("df") > max_df)
               .orderBy(F.col("df").desc()).limit(5).collect())
        if hot:
            worst = ", ".join(f"{r['term']!r} (df={int(r['df'])})"
                              for r in hot)
            raise ValueError(
                f"phrase term(s) exceed max_df={max_df}: {worst}.  A "
                "term this common prunes to nearly the whole corpus "
                "and the per-doc position collect degrades to a "
                "corpus-scale shuffle; drop the stopword from the "
                "phrase, or pass max_df=None (or a higher cap) if the "
                "scan is intended.")
    slots = [F.collect_list(F.when(F.col("term") == t, F.col("pos")))
             .alias(f"__p{i}") for i, t in enumerate(terms)]
    per_doc = pos.groupBy("doc_id").agg(*slots)
    if len(terms) == 1:
        n = F.size("__p0")
    else:
        # anchor on the first term's positions: a start position p is a
        # match iff slot i contains p + i for every subsequent slot
        n = F.size(F.filter("__p0", lambda p: _phrase_chain(p, terms)))
    return (per_doc.select("doc_id", n.cast("long").alias("n_matches"))
            .where(F.col("n_matches") > 0))


def _phrase_chain(p, terms):
    """p is the candidate start position; require term i at p + i for
    every subsequent phrase slot (sorted-int array_contains, codegen'd)."""
    cond = None
    for i in range(1, len(terms)):
        c = F.array_contains(F.col(f"__p{i}"), p + F.lit(i))
        cond = c if cond is None else cond & c
    return cond


def phrase_topk(docs: DataFrame, text_col: str, id_col: str,
                phrase: str, k: int = 10,
                max_df: int | None = 100_000) -> DataFrame:
    """Top-k documents by exact phrase occurrence count —
    ``(rank, doc_id, n_matches)`` with the deterministic
    ``(n_matches DESC, doc_id)`` tie-break (TakeOrdered, no global
    sort).  ``max_df`` is the stopword-phrase valve of
    :func:`phrase_match_counts`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    m = phrase_match_counts(docs, text_col, id_col, phrase,
                            max_df=max_df)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("n_matches").desc(), "doc_id")
    return (m.orderBy(F.col("n_matches").desc(), "doc_id").limit(k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "doc_id", "n_matches"))
