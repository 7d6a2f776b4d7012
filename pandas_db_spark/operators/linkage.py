"""Blocked fuzzy record linkage (entity resolution).

The classic two-phase ER shape — **block, then compare** — expressed
Spark-first: a cheap deterministic blocking key (substring, phonetic
code, sorted-token prefix, …) turns the quadratic all-pairs comparison
into an equi-join Catalyst can hash-partition, and the expensive string
metric runs only inside blocks.  At 100 TB the blocking key IS the
algorithm: candidate volume is Σ_b |L_b|·|R_b| over blocks, so a key
with bounded block sizes keeps the join linear-ish in the data while
the metric (JVM ``levenshtein``, codegen'd, no Python) prices each
candidate.

Why not similarity-join on shingles (``operators/dedup.py``)?  Edit
distance and set similarity disagree exactly where record linkage
lives: "Jon Smith" vs "John Smith" shares almost no 3-gram shingles of
words but is edit distance 1; conversely two long documents can share
every shingle while being globally different.  Dedup owns documents;
linkage owns NAMES/KEYS — short strings, typo-scale differences,
cross-source conventions.

Exactness contract: with ``max_dist`` given, a pair is returned iff its
blocking keys are EQUAL and ``levenshtein ≤ max_dist`` — blocking
recall is the caller's choice of key (a pair whose keys differ is
never compared; that is the documented trade, same as every production
ER system), while within-block results are exact integers and
hash-replayable in SQL (DuckDB's ``levenshtein`` is the same
Wagner–Fischer distance).

Reference scope note: the reference engine (pandas-db) has no fuzzy
join; this is beyond-parity capability for multi-source corpus
curation (joining crawl metadata to registries, canonicalizing author/
host/product names before grouping).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fuzzy_join(left: DataFrame, right: DataFrame,
               text_l, text_r, id_l: str, id_r: str,
               block_l, block_r, max_dist: int,
               max_block: int | None = 10_000) -> DataFrame:
    """Blocked fuzzy join: ``(id_l, id_r, dist)`` for every cross pair
    whose blocking keys are equal and ``levenshtein(text_l, text_r) <=
    max_dist``.  ``text_*`` / ``block_*`` accept a column name or any
    Column expression (``F.substring(F.col("name"), -4, 4)``,
    ``F.soundex("name")``, …); NULL texts and NULL blocking keys never
    match (SQL join semantics).

    Plan shape: project each side to (id, text, key) → equi-join on the
    key (hash-partitioned both sides, AQE-skew-splittable) → one
    codegen'd ``levenshtein`` per candidate.  Spark's three-argument
    ``levenshtein(l, r, threshold)`` is used so the DP matrix
    short-circuits at ``max_dist`` — comparisons price O(max_dist·len)
    instead of O(len²), the standard banded trick.

    ``max_block`` bounds the quadratic cliff: blocking keys whose
    LEFT-side frequency exceeds it are excluded from the join, and the
    number of excluded keys is counted eagerly and WARNED — the
    no-silent-cap contract (``jaccard_pairs(max_df=)``).  A key that
    hot usually means a degenerate blocking choice (empty string,
    "UNKNOWN"), which a real ER run wants surfaced, not silently
    ground through."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    # Reserved internal names (the interval_join guard, ADVICE r12): an
    # input frame already carrying __bk/__idl/... would make the block
    # expressions and the equi-join resolve ambiguously — refuse loudly.
    reserved = {"__bk", "__idl", "__idr", "__tl", "__tr"}
    clash = sorted((set(left.columns) | set(right.columns)) & reserved)
    if clash:
        raise ValueError(
            f"fuzzy_join: column name(s) {clash} collide with the "
            "operator's reserved internal names — rename them upstream")
    lt = left.select(_as_col(id_l).alias("__idl"),
                     _as_col(text_l).alias("__tl"),
                     _as_col(block_l).alias("__bk"))
    rt = right.select(_as_col(id_r).alias("__idr"),
                      _as_col(text_r).alias("__tr"),
                      _as_col(block_r).alias("__bk"))
    if max_block is not None:
        hot = (lt.groupBy("__bk").agg(F.count(F.lit(1)).alias("__n"))
               .where(F.col("__n") > max_block))
        n_hot = hot.count()
        if n_hot:
            import warnings
            warnings.warn(
                f"fuzzy_join: {n_hot} blocking key(s) with left-side "
                f"frequency > {max_block} excluded from comparison — "
                "pairs under those keys are NOT returned; choose a more "
                "selective blocking key if they matter", stacklevel=2)
            lt = lt.join(hot.select("__bk"), "__bk", "left_anti")
    dist = F.levenshtein("__tl", "__tr", max_dist)
    out = (lt.join(rt, "__bk")
           .select("__idl", "__idr", dist.alias("dist"))
           .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist)))
    nl = id_l if isinstance(id_l, str) else "id_l"
    nr = id_r if isinstance(id_r, str) else "id_r"
    if nl == nr:  # self-join: disambiguate
        nl, nr = nl + "_l", nr + "_r"
    return out.select(F.col("__idl").alias(nl),
                      F.col("__idr").alias(nr),
                      F.col("dist").cast("long").alias("dist"))


def fuzzy_self_pairs(df: DataFrame, text_col, id_col: str, block,
                     max_dist: int,
                     max_block: int | None = 10_000) -> DataFrame:
    """Within-table fuzzy duplicate candidates: ``(id_a, id_b, dist)``
    with ``id_a < id_b`` — :func:`fuzzy_join` of a table against itself
    with the mirror-pair halving.  Feed the output to
    ``graph.keep_components`` / ``keep_components_by`` for the
    transitive survivor policy, exactly like the shingle-based pair
    generators."""
    out = fuzzy_join(df, df, text_col, text_col, id_col, id_col,
                     block, block, max_dist, max_block=max_block)
    # fuzzy_join aliases both sides to id_col; rename positionally
    a, b, d = out.columns
    return (out.select(F.col(a).alias("id_a"), F.col(b).alias("id_b"),
                       F.col(d).alias("dist"))
            .where(F.col("id_a") < F.col("id_b")))


def sorted_neighborhood_pairs(df: DataFrame, key, id_col: str,
                              window: int = 5, text_col=None,
                              max_dist: int | None = None) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernández & Stolfo's
    merge/purge, SIGMOD 1995): order the corpus by a sorting key, then
    compare each record only with the ``window - 1`` records that
    follow it — ``(id_a, id_b, rank_gap[, dist])`` with ``id_a`` the
    lower-ranked record.  The complement of :func:`fuzzy_join`'s hash
    blocking: equality blocking misses near-miss KEYS (a typo in the
    blocking attribute lands the record in a different block), while a
    sorted neighborhood keeps lexically-close keys adjacent, so key
    typos still pair as long as the sort prefix survives.

    ``key`` is a column name or expression; ties order by ``id_col``
    so the rank — and therefore the output — is fully deterministic.
    With ``text_col`` + ``max_dist``, pairs are verified with the
    banded three-argument ``levenshtein`` (O(max_dist·len)) like the
    rest of the module; without them every windowed pair is returned
    (the caller applies its own comparator).

    Plan shape (the 100 TB story): ONE range-repartition Exchange on
    (key, id) + in-partition sorts, then the shuffle-free broadcast
    ordinal (`plans/ordinal.py` — range partitions are ordered, so
    partition-ordinal IS global rank), then one equi-join keyed on the
    rank with the left side exploded over the ``window - 1`` offsets —
    never a global single-task window, never an all-pairs product.
    Output size is bounded by ``n · (window - 1)`` BY CONSTRUCTION —
    the skew story needs no hot-key cap because no key, however
    frequent, can emit more than ``window - 1`` pairs per record."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if (text_col is None) != (max_dist is None):
        raise ValueError(
            "pass text_col and max_dist together (or neither)")
    if max_dist is not None and max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    from pandas_db_spark.plans.ordinal import (ORDINAL_COL,
                                              with_ordinal_and_count)

    cols = [_as_col(id_col).alias("__id"), _as_col(key).alias("__k")]
    if text_col is not None:
        cols.append(_as_col(text_col).alias("__t"))
    base = df.select(*cols).where(F.col("__k").isNotNull())
    n_part = max(2, df.sparkSession.sparkContext.defaultParallelism)
    ranked = with_ordinal_and_count(
        base.repartitionByRange(n_part, F.col("__k"), F.col("__id"))
            .sortWithinPartitions("__k", "__id"))[0]
    a_cols = [F.col("__id").alias("id_a"),
              F.col(ORDINAL_COL).alias("__ra")]
    b_cols = [F.col("__id").alias("id_b"),
              F.col(ORDINAL_COL).alias("__rb")]
    if text_col is not None:
        a_cols.append(F.col("__t").alias("__ta"))
        b_cols.append(F.col("__t").alias("__tb"))
    a = (ranked.select(*a_cols)
         .withColumn("__gap", F.explode(
             F.sequence(F.lit(1), F.lit(window - 1))))
         .withColumn("__rb", F.col("__ra") + F.col("__gap")))
    out = (a.join(ranked.select(*b_cols), "__rb")
           .select("id_a", "id_b",
                   F.col("__gap").cast("int").alias("rank_gap"),
                   *([F.levenshtein("__ta", "__tb", max_dist)
                      .alias("dist")] if text_col is not None else [])))
    if text_col is not None:
        out = out.where((F.col("dist") >= 0)
                        & (F.col("dist") <= max_dist)) \
                 .withColumn("dist", F.col("dist").cast("long"))
    return out
