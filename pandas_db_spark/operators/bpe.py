"""Distributed BPE (byte-pair-encoding) tokenizer training.

The missing link between corpus curation and a trainable dataset: the
merge table a BPE tokenizer needs, learned from the corpus itself
(Sennrich et al. 2016 — the standard public algorithm, word-level
variant: pairs never merge across word boundaries).

Algorithm (exact, not sampled — sampling is the caller's choice):

    repeat n_merges times:
      1. count adjacent symbol pairs across all word segmentations,
         weighted by word frequency;
      2. pick the most frequent pair (ties: lexicographically smallest —
         an explicit determinism contract, where naive implementations
         inherit dict order);
      3. merge that pair into one symbol everywhere it occurs.

Scale shape — the trick that makes iterative BPE tractable on Spark:

* the corpus collapses ONCE to its word-frequency table (`groupBy word`
  — one shuffle; 100 TB of text is ~10⁷ distinct words, i.e. megabytes)
  and every merge round then runs over the word table, NOT the corpus;
* each round is one aggregate job over the persisted word table: pair
  counts via a JVM higher-order ``aggregate`` over the symbol arrays —
  no Python in the loop — then a driver-side top-1 (the only collect:
  one row per round);
* the merge rewrite is a narrow ``aggregate``-fold over each word's
  symbol array (again pure JVM), checkpointed every few rounds to stop
  lineage growth through ``plans.checkpoint.truncate_lineage`` (reliable
  ``DataFrame.checkpoint`` when the session has a checkpoint dir, else
  ``localCheckpoint``) as the iterative connected components.

Not SQL-expressible (iterative fixpoint) — correctness is established
against a line-for-line reference implementation in the test suite
instead of a DuckDB oracle, the same policy as ``ann_ivf``.

Round-trip cost: one driver fetch per ROUND.  ``merges_per_round``
batches the top-m symbol-disjoint pairs per round (see
:func:`bpe_train`) — measured receipt on the sf0.01 documents slice
(doc_id < 2000), 200-merge budget, local[32]: sequential 31 s vs
``merges_per_round=8`` 6.6 s (**4.7×**); both paths dry at the same
~107-merge fixpoint of that corpus's tiny vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pandas_db_spark.plans.checkpoint import truncate_lineage

_EOW = "</w>"   # end-of-word marker, standard in the public algorithm


def word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over whitespace-tokenized text — the ONE corpus pass;
    everything iterative happens on this (tiny) table."""
    return (docs.select(F.explode(F.split(F.trim(F.col(text_col)),
                                          r"\s+")).alias("word"))
                .where(F.col("word") != "")
                .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _initial_symbols(words: DataFrame) -> DataFrame:
    """Split each word into characters + end-of-word marker."""
    chars = F.split(F.col("word"), "")
    return words.select(
        "word", "freq",
        F.concat(F.filter(chars, lambda c: c != F.lit("")),
                 F.array(F.lit(_EOW))).alias("syms"))


def _pair_counts(seg: DataFrame) -> DataFrame:
    """(a, b, count) of adjacent symbol pairs, freq-weighted — one JVM
    explode over zip(syms, syms[1:]), one shuffle of pair keys."""
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1), "
        "(s, i) -> struct(s AS a, syms[i + 1] AS b))")  # [] is 0-based
    return (seg.where(F.size("syms") > 1)
               .select(F.explode(pairs).alias("p"), "freq")
               .groupBy("p.a", "p.b")
               .agg(F.sum("freq").alias("count")))


def _merge_pair(seg: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every adjacent (a, b) into the fused symbol — a pure-JVM
    left fold: append each symbol, fusing when the accumulator's tail is
    `a` and the incoming symbol is `b` (left-to-right, non-overlapping —
    the reference algorithm's scan order)."""
    merged = F.expr(
        f"""aggregate(syms, cast(array() as array<string>),
            (acc, s) -> CASE WHEN size(acc) > 0
                              AND element_at(acc, -1) = {_lit(a)}
                              AND s = {_lit(b)}
                        THEN concat(slice(acc, 1, size(acc) - 1),
                                    array(concat({_lit(a)}, {_lit(b)})))
                        ELSE concat(acc, array(s)) END)""")
    return seg.select("word", "freq", merged.alias("syms"))


def _lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _select_disjoint(rows, m: int) -> list[tuple[str, str]]:
    """Greedy top-m batch whose pairs share NO symbols (nor collide with
    a batch member's fused symbol): merging symbol-disjoint pairs cannot
    create or destroy an occurrence of another batch member, so applying
    the batch left-to-right equals applying each merge one at a time
    (property-tested).  The top pair is always taken."""
    batch: list[tuple[str, str]] = []
    used: set[str] = set()
    for r in rows:
        if len(batch) == m:
            break
        a, b = r["a"], r["b"]
        if {a, b, a + b} & used:
            continue
        batch.append((a, b))
        used |= {a, b, a + b}
    return batch


def bpe_train(docs: DataFrame, text_col: str, n_merges: int,
              checkpoint_every: int = 8,
              merges_per_round: int = 1) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list (the tokenizer artifact).  Driver traffic: ONE top-m rows
    fetch per round.  See module docstring for the scale argument.

    ``merges_per_round=1`` (default) is the exact reference algorithm:
    pair counts are recomputed after every merge.  ``merges_per_round=m``
    is the standard public batching optimization (used by fast BPE
    trainers): each round selects the top-m symbol-disjoint pairs from
    ONE counting pass and applies them in one rewrite — ~m× fewer Spark
    jobs and driver round-trips, the practical setting for a 32k-vocab
    production train.  Within a batch the rewrite is exactly sequential
    (disjointness makes the merges commute — property-tested); ACROSS a
    batch the counts are stale, so the learned list can diverge from the
    strict sequential order when a freshly-fused symbol's pair would
    have outranked a later batch member — the documented approximation
    every batched trainer makes.  Measured on the synthetic 500-doc
    corpus at 80 merges (test_bpe.py pins these): m=2 keeps 0.84
    merge-list overlap with the sequential trainer and bit-identical
    compression; m=8 drops overlap to ~0.54 on that tie-heavy text but
    costs only ~5.7 % compression — pick m by how much list fidelity
    (vs pure compression) matters downstream."""
    from pyspark import StorageLevel

    if n_merges <= 0:
        raise ValueError("bpe_train: n_merges must be positive")
    if merges_per_round <= 0:
        raise ValueError("bpe_train: merges_per_round must be positive")
    seg = _initial_symbols(word_freqs(docs, text_col))
    seg = seg.persist(StorageLevel.MEMORY_AND_DISK)
    merges: list[tuple[str, str]] = []
    rounds = 0
    try:
        while len(merges) < n_merges:
            m = min(merges_per_round, n_merges - len(merges))
            # over-fetch 4m then greedy-filter to disjoint pairs: the
            # fetch is still one tiny driver result per ROUND, not per
            # merge
            top = (_pair_counts(seg)
                   .orderBy(F.desc("count"), F.asc("a"), F.asc("b"))
                   .limit(max(4 * m, 1)).collect())
            top = [r for r in top if r["count"] >= 2]
            if not top:
                break  # nothing left worth merging
            batch = _select_disjoint(top, m)
            merges.extend(batch)
            nxt = seg
            for a, b in batch:
                # chained projections collapse into ONE codegen pass
                # (CollapseProject) — a batch costs one job, not m
                nxt = _merge_pair(nxt, a, b)
            rounds += 1
            if rounds % checkpoint_every == 0:
                # truncate lineage: chained array-folds would otherwise
                # grow the plan linearly (graph.py discipline)
                nxt = truncate_lineage(nxt)
            else:
                nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
            seg.unpersist()
            seg = nxt
    finally:
        seg.unpersist()
    return merges


def bpe_segment(docs: DataFrame, text_col: str,
                merges: list[tuple[str, str]], id_col: str,
                checkpoint_every: int = 16) -> DataFrame:
    """Apply a learned merge list: (id, tokens array<string>) per doc.
    Same JVM fold as training, applied per word then flattened —
    ``checkpoint_every`` bounds plan depth for long merge lists."""
    seg = docs.select(
        F.col(id_col),
        F.expr(f"""transform(split(trim({text_col}), '\\\\s+'),
                   w -> concat(filter(split(w, ''), c -> c != ''),
                               array('{_EOW}')))""").alias("wsyms"))
    for i, (a, b) in enumerate(merges):
        fold = (
            f"""transform(wsyms, syms ->
                aggregate(syms, cast(array() as array<string>),
                 (acc, s) -> CASE WHEN size(acc) > 0
                                   AND element_at(acc, -1) = {_lit(a)}
                                   AND s = {_lit(b)}
                             THEN concat(slice(acc, 1, size(acc) - 1),
                                         array(concat({_lit(a)},
                                                      {_lit(b)})))
                             ELSE concat(acc, array(s)) END))""")
        seg = seg.select(id_col, F.expr(fold).alias("wsyms"))
        if (i + 1) % checkpoint_every == 0:
            seg = truncate_lineage(seg)
    return seg.select(id_col, F.flatten("wsyms").alias("tokens"))
