"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line of SCALARS on stdout.  The per-query map is too
long for one stdout line and lives in BENCH_DETAIL_c{cpus}.json; the
per-core suffix keeps a scaling re-run at a different $SPARK_GRAFT_CPUS
from clobbering the main run's detail, and only a run at the main core
count (32) mirrors it to BENCH_DETAIL.json for older consumers:
    {"metric": "...", "value": N, "unit": "sec", "n_queries": K,
     "detail": "BENCH_DETAIL.json", "sf": ...}

Process recycling (VERDICT r12 #4): the headline set is measured in
$SPARK_GRAFT_BENCH_PROCS sequential FRESH subprocesses (default 4), each
a fixed contiguous slice of the headline order in its own JVM, because a
single ever-growing session accumulated GC/storage pressure that
inflated later queries' numbers by ~1.24× with unchanged plans.
Per-query JVM age at measurement is recorded (detail "jvm_uptime") so
any residual drift is attributable by construction.

Each query is run ``SPARK_GRAFT_BENCH_ITERS`` times (default 3) and the
reported number is the per-query MINIMUM: single-shot wall time on a shared
machine proved ±30% noisy run-to-run (r3 vs r4 measured the identical tree
30% apart), and the min is the standard low-variance estimator of the
plan's true cost — GC pauses, page-cache misses, and JIT warmup only ever
ADD time.  All iteration timings are preserved under "runs" for drift
diagnosis, and candidate-pair counts for the LSH dedup queries are logged
to stderr so a perf drift can be attributed to candidate volume vs
environment (VERDICT r4 asked for exactly this instrumentation).

Pinned r5 diagnosis of the r2→r4 ``dedup_embedding`` drift (1.81 → 3.34 →
13.18 s across bit-identical code): NOT a candidate-volume cliff — sign-LSH
candidates are flat at 4025 pairs @ sf0.1 (see the diag line) and isolated
repeats of the query are stable at ~1.3-1.9 s.  The single-shot numbers
were measuring JVM GC / storage-memory pressure from the 17 queries run
before it (shared cached shingle frames), which best-of-N now removes:
r5 best-of-3 = 1.88 s ≈ the r2 value.

``value`` is the total of per-query minimums over the headline set
(collect() to exhaust the plan, but results stay on the executors until the
final fetch — no driver-side loops).  For queries whose RESULT is large
(events_resample_1h returns the full 1M-row grid at sf0.1) the number is
dominated by driver row materialization, not the plan: measured r7 after
the obs-persist fix, the resample plan executes in 1.06 s (count) vs
5.87 s (collect of 1,047,915 rows) — the bench floor is the fetch, not
the plan.  The estimator stays collect() for comparability; read
large-result rows with that in mind.  Two r7 headline additions carry
similar caveats: ``events_attribution`` (~6 s) is a REAL stream-stream
interval join — the time is streaming machinery (two stateful sides ×
32 state-store partitions, micro-batch commit), not plan cost; and
``dedup_minhash_incremental`` (~2.3 s) is CANDIDATE-VERIFY bound, not
store-scan bound — measured split at sf0.1: batch signatures 1.6 s,
banded candidate join 1.4 s, exact verify of 119 candidates 1.6 s, and
the in-query store-signature build (5.9 s cold) disappears in the real
rolling-ingest regime where signatures load from the persisted store
(the store's TEXT is touched only for the 119 candidates).  Query set covers the engine's main
cost centers: scan + filter pushdown, hash-agg groupBy, broadcast join,
partitioned window, raw SQL join, and the LLM-pipeline operators
(dedup / ANN / text analysis).
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    "groupby_q1",        # filter → hash agg (map-side partial)
    "join_native",       # broadcast join + agg
    "join_supplier_volume",  # fact + 2 broadcast dims, decimal-exact revenue
    "join_sql",          # raw SQL 3-table join
    "window_rank",       # partitioned window (keyed shuffle)
    "join_asof",         # as-of join: union + keyed running-last, 1 shuffle
    "join_range",        # interval join: bucket-exploded equi join
    "join_salted",       # skew-salted large-large join
    "sort_limit",        # global top-k (TakeOrderedAndProject)
    "filter_gt",         # pushdown scan
    "agg_sum_avg",       # single-pass column aggregates
    "value_counts",      # groupBy count + order
    # LLM-pipeline operators (added as they land in the registry)
    "dedup_exact",
    "dedup_minhash",
    "dedup_embedding",
    "text_quality",
    "ann_topk",
    "events_tumbling",
    "pack_sequences",     # per-chunk window + broadcast offsets (r5 op)
    "decontam_pairs",     # broadcast eval-shingle probe (r5 op)
    "sample_stratified",  # two-phase deterministic top-n per stratum (r5 op)
    "groupby_quantiles",  # exact per-group percentile array agg (r5 op)
    "dedup_components",   # pairs -> transitive clusters, large/small-star (r6 op)
    "bm25_topk",          # query-term-filtered postings + TakeOrdered (r6 op)
    "events_enrich_nation",  # stream-static broadcast join, availableNow (r6 op)
    "doc_chunks",         # zero-shuffle sliding token windows (r6 op)
    "events_funnel",      # keyed HOF scan over sorted per-user events (r6 op)
    "quality_checks",     # 6-rule expectation suite in one agg pass (r6 op)
    "events_rolling_avg", # trailing-5 keyed window, decimal frame sums (r6 op)
    "corr_lineitem",      # exact-moment correlation, one scan (r6 op)
    "events_resample_1h",  # grid explode + as-of ffill, no join node (r6 op)
    "dedup_minhash_incremental",  # banded probe vs signature store (r7 add per VERDICT r6 #6)
    "events_attribution",  # stream-stream interval join, availableNow (r7 add)
    "dedup_embedding_ivf",  # IVF-routed dedup: within-list pairs, exact verify (r9 add per VERDICT r8 #3)
    "strip_dup_spans",    # span-level substring dedup: positional k-gram index (r9 add)
    "lm_score_bigram",    # bigram-LM quality scoring, lazy corpus scalars (r9 add)
    "dsir_weights",       # DSIR hashed-n-gram importance weights (r9 add)
    "top_ngrams",         # corpus n-gram stats, TakeOrdered top-20 (r9 add)
    "ccnet_buckets",      # LM-rank thirds via broadcast-offset ordinal (r9 add)
    "winnow_fp",          # MOSS winnowed fingerprint index, shuffle-free (r9 add)
    "ann_pq",             # PQ ADC scan over 8-byte codes + exact re-rank (r9 add)
    "decontam_bloom",     # join-free Bloom-bitmap eval-overlap probe (r9 add)
    "gopher_rules",       # 7 MassiveText quality rules, one scan, int compares (r9 add)
    "hybrid_topk",        # BM25 + dense RRF fusion of two top-50 branches (r9 add)
    # (semdedup is an invariant GATE query — correctness surface, not a
    #  perf surface; like ann_ivf_recall etc. it stays out of HEADLINE.
    #  Its machinery — kmeans assign + within_group_pairs — is benched
    #  through dedup_embedding_ivf.)
    "cap_per_source",     # per-domain cap via WindowGroupLimit partial top-n (r9 add)
    "gopher_repetition",  # 13 repetition rules, explode+agg, one n-gram Generate (r9 add)
    "c4_line_clean",      # C4 line filter, zero-shuffle HOF projection (r10 add)
    "c4_rules",           # C4 page rules over the cleaned page, one scan (r10 add)
    "strip_repeated_lines",  # within-page line dedup, zero-shuffle (r10 add)
    "classifier_score",   # hashed linear quality classifier, pure-JVM fold (r10 add)
    "strip_boilerplate",  # corpus-global paragraph strip: pair-count shuffle + narrow strip (r10 add)
    "sample_temperature", # UniMax/mT5 temperature mixing, zero-shuffle filter (r10 add)
    "blocklist_screen",   # C4 bad-words filter, one alternation regex scan (r10 add)
    "url_screen",         # RefinedWeb URL screen, anchored-regex projection (r10 add)
    "corpus_drift",       # snapshot TVD drift: pre-aggregated vocab full-outer join (r10 add)
    "span_candidates_winnowed",  # winnowed ~2/(w+1)-density span index, string-verified (r11 add)
    "bm25_stream_topk",   # streaming BM25 index: 2-batch build + tbucket-pruned serve (r12 add)
    "graph_pagerank",     # fixed-point PageRank: 6 one-job iterations, rank vector broadcast vs stationary edges (r12 add)
    "dedup_components_incremental",  # quotient-graph CC append: batch-bounded CC + broadcast relabel scan (r12 add)
    "stream_drift_tvd",   # 2-batch drift monitor replay: vocab-sized folds, exact-int TVD (r12 add)
    "events_transitions", # Markov edges: sessionize+lead in one sort, map-side pair counts (r12 add)
    "pca_invariant",      # exact-int Gram fit (one Arrow pass) + JVM projection variance check (r12 add)
    "graph_triangles",    # degree-oriented wedge join, O(sqrt(m)) out-degree bound (r12 add)
    "k_anonymity",        # quasi-group count broadcast anti join, corpus never shuffles (r12 add)
    "stream_drift_alert", # 2-batch monitor replay + DECIMAL(38) threshold compare (r12 add)
    "k_anonymity_generalized",  # whole generalization-level search in ONE GROUPING SETS pass (r12 add)
    "graph_clustering",   # degree agg + sparse triangle left join on the wedge-join plan (r12 add)
    "graph_kcore",        # parallel H-index iteration to the coreness fixpoint (r12 part 4)
    "graph_hits",         # 4 max-normalized BIGINT hub/authority rounds (r12 part 4)
    "graph_bfs",          # frontier BFS vs stationary edges, 6 hops (r12 part 4)
    "graph_common_neighbors",  # center-keyed adjacency self-join pair counts (r12 part 4)
    "sessions_overlap",   # interval x interval chunked overlap self-join (r12 part 4)
    "dedup_containment",  # asymmetric containment via shared inverted index (r12 part 4)
    "link_customer_supplier",  # blocked banded-levenshtein ER join (r12 part 4)
    "part_copurchase",    # bipartite projection, one groupBy + in-array pairs (r12 part 4)
    "vocab_top_streamed", # heavy hitters served from the monitor counts store (r12 part 4)
    "graph_degree_moments",  # assortativity moments, one agg over deg-joined edges (r12 part 4)
    "dedup_jaccard_prefix",  # lossless PPJoin prefix index: rarest-shingle postings, no cap (r12 part 4)
    "events_islands",     # gaps-and-islands coverage fold, one keyed shuffle (r12 part 4)
    "graph_lpa",          # 4 synchronous LPA rounds, keyed count + struct-argmax (r12 part 4)
    "mm_phash_pairs",     # dHash banding + bit_count verify, MinHash shape on media (r12 part 4)
    "referential_checks", # FK orphan suite: dim-marker joins into ONE agg pass (r12 part 4)
    "graph_sssp",         # frontier Bellman-Ford, 6 hop-bounded relaxation rounds (r12 part 4)
    "events_concurrency", # global sweep-line prefix sum, broadcast-offset two-phase (r12 part 4)
    "price_outliers",     # exact median + MAD robust outlier screen, 3 bounded jobs (r12 part 4)
    "mm_ppm_pipeline",    # real stdlib netpbm decode + pixel dHash + resize, Arrow-batched (r13 add)
    "heavy_hitters_mg",   # bounded Misra-Gries store: 2-batch fold + value-threshold trims (r13 add)
    "distinct_sketch_stream",  # HLL sketch store: one KB row/batch, JVM union-merge serve (r13 add)
    "events_value_histq",  # streaming histogram store: 2-batch fold + ppm-exact bracket serve (r13 add)
    "link_sorted_neighborhood",  # rank + window ER blocking, one range exchange + ordinal (r13 add)
    "phrase_topk",        # positional phrase search over term-pruned postings, one shuffle (r13 add)
    "events_value_qsummary",  # domain-free quantile store: rank-stratified fold + ppm serve (r14 add)
    "events_type_qsummary",   # keyed quantile store: per-type fold, group-adaptive stride (r14 add)
    "mm_bmp_pipeline",    # BMP decode: row flip + BGR swap + padding strip + dHash, Arrow-batched (r14 add)
    "kmv_sample_stream",  # KMV bottom-k distinct sample: 2-batch fold + merged bottom-64 serve (r14 add)
    # (kmv_estimate_stream and kmv_overlap_stream serve from the same
    #  fold shape kmv_sample_stream benches — one bench row for the
    #  KMV family.)
    # (mm_wav_pipeline shares mm_bmp_pipeline's plan shape — one codec
    #  bench row for the r14 planted-payload pair is enough.
    #  qsummary_bound/qsummary_restratify are invariant/valve GATE
    #  queries over the same fold events_value_qsummary benches.)
    # (link_customer_dups shares link_customer_supplier's plan shape.)
    # (graph_pagerank_seeded / _weighted share graph_pagerank's plan
    #  shape — one bench row for the power-iteration family is enough.)
    # (classifier_fit_score / langid_fit_score are iterative FITS —
    #  n_iter driver-reduced gradient steps, ~25 s by construction —
    #  correctness surface like semdedup, not a perf surface; their
    #  scoring half is benched through classifier_score.)
]


def _diag_candidate_counts(spark, sf_dir: str) -> None:
    """Log LSH candidate-pair volumes to stderr.

    The three LSH queries' cost is Σ bucket-pair expansion + exact verify;
    if a bench number drifts while these counts are stable, the drift is
    environmental (GC/page cache), not a plan cliff."""
    try:
        from pandas_db_spark.queries import get_db
        from pandas_db_spark.operators import dedup as D
        from pandas_db_spark.operators import similarity as S

        db = get_db(spark, sf_dir)
        diag: dict[str, int] = {}

        # dedup_minhash candidates (32 bands x 4 rows over 3-shingles)
        sh = D._shared_shingles(db.documents.df, "text", "doc_id", 3, True)
        sig = D.minhash_signatures(sh, "doc_id", 128)
        diag["minhash_candidates"] = D._band_pairs(
            sig, "doc_id", 32, 4).count()

        # sign-LSH candidates (shared by ann_cosine_pairs + dedup_embedding)
        # — auto geometry since r8, so the diag reports the same bands/rows
        # the queries actually use at this corpus size
        n_vec = db.embeddings.df.count()
        bands, rows = S.auto_sign_geometry(n_vec, 0.95)
        keyed = S._sign_bands(db.embeddings.df, "vec_id", "embedding",
                              dim=64, bands=bands, rows=rows, seed=42)
        diag["signlsh_candidates"] = D._bucket_pairs(
            keyed, ["band", "bh"], "id").count()
        diag["signlsh_bands"] = bands
        diag["signlsh_rows"] = rows

        # IVF within-list candidates (dedup_embedding_ivf, r9): volume is
        # Σ_list C(occupancy, 2) deduped across probes — drift here means
        # list occupancy changed (corpus density), not environment.
        # Same corpus as the query (25 planted copies) and the operator's
        # own auto_nlist, so the diag tracks exactly what the query runs.
        from pyspark.sql import functions as F
        e = db.embeddings.df.select("vec_id", "embedding")
        planted = (e.where(F.col("vec_id") < 25)
                   .withColumn("vec_id", F.col("vec_id") + 1_000_000))
        ext = e.unionByName(planted)
        nlist = S.auto_nlist(n_vec + 25)
        cent = S._fit_centroids(ext, nlist, 2048, "vec_id", "embedding")
        assigns = S._assign_lists_multi(ext, cent, 2, "vec_id", "embedding")
        diag["ivf_candidates"] = D._bucket_pairs(
            assigns.withColumnRenamed("vec_id", "id"),
            ["list_id"], "id").count()
        diag["ivf_nlist"] = nlist

        print("# diag " + json.dumps(diag), file=sys.stderr)
    except Exception as exc:  # diagnostics must never fail the bench
        print(f"# diag failed: {exc!r}", file=sys.stderr)


# Result sizes above this get the extra noop-sink "engine time" row —
# below it, fetch cost is noise and the split would just slow the bench.
ENGINE_SPLIT_MIN_ROWS = 50_000

# r11 (VERDICT r10 #8): queries whose best wall time reaches this also
# get the split regardless of result size, so a future regression on any
# slow query is attributable (plan vs fetch vs environment) without
# archaeology.
ENGINE_SPLIT_MIN_SEC = 1.0


def _measure(names, sf_dir: str, iters: int) -> dict:
    """Measure one group of queries in THIS process's Spark session —
    the worker half of the process-recycled bench.

    Per-query ``jvm_uptime`` records how many seconds old the JVM was
    when the query's measurement started, so session-accumulation drift
    is attributable BY CONSTRUCTION (VERDICT r12 #4: the single
    ever-growing 85-query session showed 1.24× common-set inflation that
    a fresh session didn't reproduce)."""
    from pandas_db_spark.session import get_spark
    import __spark_entry__ as ent

    t_session = time.perf_counter()
    spark = get_spark()
    registry = ent.queries()

    # Warm the JVM + parquet footers + Python UDF workers once so the
    # numbers measure the engine, not session/interpreter startup.
    try:
        registry["filter_gt"](spark, sf_dir).count()
        from pyspark.sql import functions as F, types as T
        noop = F.pandas_udf(lambda s: s, T.LongType())
        spark.range(1000, numPartitions=int(
            os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
            noop("id")).count()
    except Exception:
        pass

    out: dict = {"timings": {}, "medians": {}, "runs": {},
                 "result_rows": {}, "engine": {}, "failed": [],
                 "jvm_uptime": {}}
    first = True
    for name in names:
        fn = registry.get(name)
        if fn is None:
            continue
        if first:
            # the group's FIRST query absorbs the fresh JVM's whole
            # warmup (codegen/JIT/shuffle spin-up — measured: a first
            # iteration 2.7x its settled time); one untimed run takes
            # that hit so the timed iterations measure the engine
            first = False
            try:
                fn(spark, sf_dir).collect()
            except Exception:
                pass  # the timed loop will surface the failure
        out["jvm_uptime"][name] = round(time.perf_counter() - t_session, 2)
        samples: list = []
        errored = False
        n_rows = 0
        for _ in range(iters):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                n_rows = len(df.collect())
                samples.append(time.perf_counter() - t0)
            except Exception:
                errored = True
                break  # a failing query won't heal on retry
        out["runs"][name] = [round(x, 4) for x in samples]
        if errored:
            # ANY failure marks the query failed — a success on an earlier
            # iteration must not mask an intermittent error, and NaN would
            # make the output line invalid JSON.
            out["failed"].append(name)
            continue
        out["result_rows"][name] = n_rows
        best = min(samples)
        out["timings"][name] = round(best, 4)
        out["medians"][name] = round(sorted(samples)[len(samples) // 2], 4)
        # Engine-vs-fetch split (VERDICT r7 #7): when the RESULT is large
        # the collect number is dominated by driver row materialization,
        # not the plan — time a noop-sink execution alongside so plan
        # improvements aren't masked by fetch cost.
        if n_rows > ENGINE_SPLIT_MIN_ROWS or best >= ENGINE_SPLIT_MIN_SEC:
            es: list = []
            try:
                for _ in range(iters):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop") \
                        .mode("overwrite").save()
                    es.append(time.perf_counter() - t0)
                out["engine"][name] = round(min(es), 4)
            except Exception:
                pass  # the split is diagnostic; never fails the bench
    if os.environ.get("SPARK_GRAFT_BENCH_DIAG", "1") != "0":
        _diag_candidate_counts(spark, sf_dir)
    return out


def _group_slices(names: list, procs: int) -> list:
    """FIXED contiguous assignment: group i gets names[b_i:b_{i+1}] with
    rounded proportional bounds (``round(i*len/k)`` — banker's rounding,
    NOT ceil-division; the distinction matters because these exact
    bounds are the round-over-round comparability contract, ADVICE r13)
    — a deterministic function of (HEADLINE order, procs), so a query's
    group never depends on runtime state and round-over-round numbers
    compare like-for-like."""
    k = max(1, min(procs, len(names)))
    bounds = [round(i * len(names) / k) for i in range(k + 1)]
    return [names[bounds[i]:bounds[i + 1]] for i in range(k)]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    # Optional comma-separated subset (scaling rehearsals run the top-N
    # most expensive queries at big SFs in bounded chunks).
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = ([n for n in HEADLINE if n in only_env.split(",")]
                if only_env else list(HEADLINE))

    group = os.environ.get("SPARK_GRAFT_BENCH_GROUP")
    if group:
        # ---- worker mode: measure one fixed slice in this fresh JVM ----
        gi, k = (int(x) for x in group.split("/"))
        res = _measure(_group_slices(headline, k)[gi], sf_dir, iters)
        with open(os.environ["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
            json.dump(res, fh)
        return 0

    load_start = os.getloadavg()
    # Process-recycling policy (VERDICT r12 #4): the headline set runs in
    # SPARK_GRAFT_BENCH_PROCS fresh subprocesses (default 4, sequential —
    # never concurrent, they'd contend for the 32 cores), each with its
    # own JVM, so best-of-N is taken inside a session at most ~1/4 the
    # old lifetime and GC/storage accumulation can't compound across the
    # whole 85-query set.  PROCS=1 restores the single-session bench.
    procs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PROCS", "4")))
    slices = [sl for sl in _group_slices(headline, procs) if sl]
    merged: dict = {"timings": {}, "medians": {}, "runs": {},
                    "result_rows": {}, "engine": {}, "failed": [],
                    "jvm_uptime": {}, "group_of": {}}
    if len(slices) == 1:
        res = _measure(slices[0], sf_dir, iters)
        merged.update({k: res[k] for k in
                       ("timings", "medians", "runs", "result_rows",
                        "engine", "jvm_uptime")})
        merged["failed"] = res["failed"]
        merged["group_of"] = {n: 0 for n in slices[0]}
    else:
        import subprocess
        import tempfile
        for gi, names in enumerate(slices):
            fd, path = tempfile.mkstemp(prefix=f"bench_g{gi}_",
                                        suffix=".json")
            os.close(fd)
            env = dict(os.environ,
                       SPARK_GRAFT_BENCH_GROUP=f"{gi}/{len(slices)}",
                       SPARK_GRAFT_BENCH_OUT=path)
            if gi != 0:  # candidate-count diag runs once, in group 0
                env["SPARK_GRAFT_BENCH_DIAG"] = "0"
            proc = subprocess.run([sys.executable,
                                   os.path.abspath(__file__)], env=env)
            res = None
            try:
                with open(path) as fh:
                    res = json.load(fh)
            except Exception:
                pass
            finally:
                try:
                    os.unlink(path)
                except OSError:
                    pass
            if res is None:
                # whole-group crash: every query in it counts as failed
                print(f"# group {gi} produced no result "
                      f"(exit {proc.returncode})", file=sys.stderr)
                merged["failed"].extend(names)
                continue
            for key in ("timings", "medians", "runs", "result_rows",
                        "engine", "jvm_uptime"):
                merged[key].update(res[key])
            merged["failed"].extend(res["failed"])
            merged["group_of"].update({n: gi for n in names})

    timings = merged["timings"]
    total = sum(timings.values())
    first_iter_total = sum(r[0] for n, r in merged["runs"].items()
                           if r and n not in merged["failed"])

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The stdout line carries SCALARS ONLY (VERDICT r12 #3: the 85-query
    # per-query map pushed the line past the driver's stdout-tail capture
    # window and BENCH_r12.json recorded parsed: null — same failure the
    # r9 full dump had).  The per-query map, iteration runs, medians,
    # engine-vs-fetch split, result rows, JVM uptimes, and group
    # assignment all live in BENCH_DETAIL.json next to this script.
    # Per-core-count detail path (VERDICT r14 #2/what's-wrong #3): the
    # driver's 8-core scaling run used to clobber the 32-core per-query
    # detail because both wrote the same BENCH_DETAIL.json, leaving
    # PERF scaling.per_query empty.  The detail now lands in
    # BENCH_DETAIL_c{cpus}.json (cpus also embedded in the record);
    # BENCH_DETAIL.json is still written as a compatibility copy for
    # consumers that read the fixed name, but only by a run at the main
    # core count — a scaling re-run must not clobber it either.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    detail_name = f"BENCH_DETAIL_c{cpus}.json"
    detail_files = [detail_name] + (["BENCH_DETAIL.json"]
                                    if cpus == 32 else [])
    out = {
        "metric": f"headline_total_wall_min{iters}",
        "value": round(total, 4),
        "unit": "sec",
        "first_iter_total": round(first_iter_total, 4),
        "iters": iters,
        "n_queries": len(timings),
        "n_failed": len(merged["failed"]),
        "procs": len(slices),
        "cpus": cpus,
        # 1/5/15-min load BEFORE and AFTER the run: a shared-machine
        # artifact carries its own noise context (VERDICT r7 #1)
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "sf": sf_val,
        "detail": detail_name,
    }
    if merged["failed"]:
        out["failed"] = merged["failed"]
    detail = {
        **out,
        "queries": timings,
        "queries_median": merged["medians"],
        "runs": merged["runs"],
        # engine-only (noop sink) time for large-result queries: the
        # matching `queries` entry minus this is driver-fetch cost
        "engine_queries": merged["engine"],
        # best excluding each query's FIRST iteration in its fresh JVM:
        # iterative queries pay heavy JIT/codegen warmup on iteration 1
        # (measured: graph_kcore 13.4 s cold -> 6.6 s settled), so this
        # is the number comparable to the old warm-session history,
        # while `queries` (min over all) stays the headline estimator
        "queries_warm": {n: round(min(r[1:]), 4)
                         for n, r in merged["runs"].items()
                         if len(r) > 1 and n not in merged["failed"]},
        "result_rows": {n: r for n, r in merged["result_rows"].items()
                        if r > ENGINE_SPLIT_MIN_ROWS},
        # seconds of JVM age when each query's measurement began, and
        # which fresh subprocess measured it
        "jvm_uptime": merged["jvm_uptime"],
        "group_of": merged["group_of"],
        "recycling_policy": (
            f"{len(slices)} sequential fresh subprocesses, fixed "
            "contiguous slices of HEADLINE order (ceil-division bounds); "
            "per-query best-of-N never crosses a JVM boundary"),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        for fname in detail_files:
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(detail, fh, indent=1)
        print("# detail " + json.dumps(detail), file=sys.stderr)
    except Exception as exc:  # detail is diagnostic; never fail the bench
        print(f"# detail dump failed: {exc!r}", file=sys.stderr)
    print(json.dumps(out))
    return 1 if merged["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
