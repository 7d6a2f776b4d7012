"""One cold benchmark process: start Spark, open the ``Database``, signal
ready on stdout, then (unless it is a set-up probe) run the workload's timed
body, check every output, and write a result JSON file.

Started by ``run.py`` as ``python3 worker.py CONFIG_JSON`` with the run's
private scratch directory as cwd. Not meant to be run by hand.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import sys
import time
import traceback
import types

from checks import canon, result_hash, same_value
from tracing import Tracer
from workloads import freeze

FACADE = "facade_session"


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _run_facade(db, script, tracer, ops):
    from facade import LAYER, run_call
    seen = set()
    results = []
    for i, call in enumerate(script):
        first = call not in seen
        seen.add(call)
        err = None
        t0 = time.perf_counter()
        with tracer.span("op", index=i, kind=call[0]):
            with tracer.span(LAYER[call[0]]):
                try:
                    value = run_call(db, call)
                except Exception:
                    value, err = None, traceback.format_exc(limit=3)
        ops.append({"name": call[0], "ms": (time.perf_counter() - t0) * 1e3,
                    "first": first, "error": err})
        results.append(value)
    return results


def _check_facade(data_dir, script, results, ops):
    import duckdb
    from facade import expected
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("orders", "lineitem", "customer", "nation", "region", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    memo: dict = {}
    for call, got, op in zip(script, results, ops):
        if op["error"]:
            continue
        if call not in memo:
            memo[call] = expected(con, call)
        want = memo[call]
        if call[0] == "query":
            ok = result_hash(*got) == result_hash(*want)
        elif call[0] == "summary" and call[3] == "unique":
            ok = sorted(map(canon, got)) == sorted(map(canon, want))
        else:
            ok = same_value(got, want)
        if not ok:
            op["error"] = f"mismatch: got {str(got)[:200]} want {str(want)[:200]}"
    con.close()


def _run_batch(spark, data_dir, order, expected, tracer, ops):
    from pandas_db_spark.queries import queries
    fns = queries()
    for name in order:
        err, plan_ms = None, None
        t0 = time.perf_counter()
        with tracer.span("op", query=name):
            try:
                with tracer.span("queries.build"):
                    df = fns[name](spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.action"):
                    rows = df.collect()
            except Exception:
                err, t1 = traceback.format_exc(limit=3), time.perf_counter()
        t2 = time.perf_counter()
        if err is None:
            got = list(result_hash(df.columns, rows))
            if got != expected[name]:
                err = f"hash mismatch: got {got} want {expected[name]}"
            if tracer.enabled:
                plan_ms = _plan_ms(spark, df)
        ops.append({"name": name, "ms": (t2 - t0) * 1e3,
                    "build_ms": (t1 - t0) * 1e3, "first": True,
                    "error": err, "plan_ms": plan_ms})


def _plan_ms(spark, df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s query
    execution, from its phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return float(sum(conv[k].durationMs() for k in conv.keySet()))


def _instrument(tracer, db):
    """Traced run only: spans around the operator and streaming layers and
    the façade memo, installed by wrapping their public functions wherever
    the package has bound them."""
    import pandas_db_spark
    for mod in pkgutil.walk_packages(pandas_db_spark.__path__, "pandas_db_spark."):
        importlib.import_module(mod.name)
    layers = {}
    for modname, mod in list(sys.modules.items()):
        if modname == "pandas_db_spark.operators.graph":
            layer = "operators.graph"
        elif modname.startswith("pandas_db_spark.streaming."):
            layer = "streaming"
        else:
            continue
        for attr, fn in vars(mod).items():
            if (isinstance(fn, types.FunctionType) and not attr.startswith("_")
                    and fn.__module__ == modname):
                layers[id(fn)] = (fn, tracer.wrap(layer, fn))
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("pandas_db_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            hit = layers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    cache = db.cache
    memo = cache.memo

    def traced_memo(key, compute):
        with tracer.span("cache.memo", hit=cache.enabled and key in cache):
            return memo(key, compute)
    cache.memo = traced_memo


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    tracer = Tracer(cfg["trace"], run=cfg["run_id"])
    with tracer.span("session.start"):
        from pandas_db_spark.session import get_spark
        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer.enabled:
        import pandas_db_spark.database as database
        database.discover_tables = tracer.wrap("sources.registry",
                                               database.discover_tables)
    with tracer.span("database.open"):
        from pandas_db_spark.queries import get_db
        db = get_db(spark, cfg["data_dir"])
    print("ready", flush=True)
    if cfg["probe"]:
        spark.stop()
        return 0
    if tracer.enabled:
        _instrument(tracer, db)
    ops: list[dict] = []
    with tracer.span("body"):
        if cfg["workload"] == FACADE:
            script = freeze(cfg["script"])
            results = _run_facade(db, script, tracer, ops)
        else:
            _run_batch(spark, cfg["data_dir"], cfg["order"], cfg["expected"], tracer, ops)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    cores = spark.sparkContext.defaultParallelism
    versions = {"spark": spark.version,
                "java": spark._jvm.java.lang.System.getProperty("java.version")}
    if cfg["workload"] == FACADE:
        _check_facade(cfg["data_dir"], script, results, ops)
    cache = {"entries": len(db.cache)}
    spark.stop()
    # Per-call clocks exclude the output checks, so the body is their sum.
    out = {"ops": ops, "body_s": sum(o["ms"] for o in ops) / 1e3,
           "peak_rss_mb": rss, "cores": cores, "versions": versions,
           "cache": cache}
    if tracer.enabled:
        tracer.dump(os.path.join(os.getcwd(), "spans.jsonl"))
    with open(cfg["result_path"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
