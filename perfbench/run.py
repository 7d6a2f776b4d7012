"""The repository's benchmark: cold-process workloads over the
``pandas_db_spark`` façade and query registry.

    python3 perfbench/run.py --workload facade_session --seed 1 --seconds 40 --trace 0

Each run starts fresh processes (``local[<nproc>]``, one closed-loop
client) on sf 0.1 synthetic tables that ``datagen.py`` builds once per
checkout under ``perfbench/_build/``. JIT and codegen warm-up stay in the
timed body, as every fresh batch process or session pays them. The seed
sets the façade call script or the registry query order; the data are
fixed. ``--seconds`` sizes the façade script (five calls a second, so 40 s
gives 200 calls); a registry run is one pass over its fixed query set.

Every output is checked: registry results against stored DuckDB oracle
hashes (``expected.json``), façade results against DuckDB on the same
parquet files. A wrong result or an exception counts as a failed call.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start to an open ``Database``, median of
  SETUP_SAMPLES cold set-ups;
- ``body_s``: the timed body, the sum of per-call wall times (a registry
  call is the query function plus ``collect()``; hashing is outside);
- ``call_p50_ms``, ``call_p95_ms``: per-call latency. The p95 needs ten
  calls beyond it; a registry pass has too few, so there it is the median;
- ``first_call_p50_ms``: median over each call's first occurrence.

``--trace 1`` runs the body twice, untraced then traced (Spark event log
on, spans around each layer), and reports the per-layer metrics in
``metrics.PER_LAYER``; ``metrics.MOVES`` says which end-to-end metric each
should move on which workload. The last stdout line is the result JSON;
the lines before it record the machine (load, CPU steal, a calibration
spin, versions, commit) and per-call detail, such as Spark jobs per call.
"""

from __future__ import annotations

import argparse
import fcntl
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SF = 0.1
WORKLOADS = ("facade_session", "registry_ops")
# Façade calls per second of --seconds: a cold session makes about five
# calls a second on 4 cores, and 200 calls leave ten beyond the p95.
FACADE_CALLS_PER_S = 5
# Cold set-ups per run (the worker's own plus probes); two keep a façade
# run near 70 s.
SETUP_SAMPLES = 2
# A run gives up, killing its workers, after this many seconds: it must
# exit within three minutes.
RUN_DEADLINE_S = 170
# Spark driver heap: ample for sf 0.1, and it keeps a run's JVM near 2-3 GB
# resident instead of growing toward the package's 8 GB default.
DRIVER_MEM = "3g"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _spin_ms() -> float:
    """Fixed pure-Python work; its time tracks the machine's speed."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return (time.perf_counter() - t) * 1e3


def _machine() -> dict:
    return {"loadavg": os.getloadavg(), "nproc": len(os.sched_getaffinity(0)),
            "spin_ms": _spin_ms(), "cpu": _cpu_times()}


def _git_commit() -> str | None:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def build_data() -> str:
    """Generate the tables once per checkout (under a lock) and check their
    digest against the one the stored oracle hashes were taken on."""
    data_dir = os.path.join(HERE, "_build", f"sf{SF}")
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    with open(os.path.join(HERE, "_build", "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(data_dir, "DIGEST")
        if not os.path.exists(stamp):
            tmp = data_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            digest = datagen.write(tmp, SF)
            with open(os.path.join(tmp, "DIGEST"), "w") as f:
                f.write(digest)
            shutil.rmtree(data_dir, ignore_errors=True)
            os.rename(tmp, data_dir)
        with open(stamp) as f:
            digest = f.read().strip()
    if digest != expected_hashes()["data_digest"]:
        raise SystemExit(f"generated data digest {digest} differs from the "
                         "one in expected.json; the oracle hashes do not apply")
    return data_dir


def expected_hashes() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies left to
    an init that does not reap them do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


class Child:
    """One cold worker process in its own process group, so that it and
    its JVM are stopped together."""

    def __init__(self, cfg: dict, run_dir: str, env: dict, deadline: float):
        self.deadline = deadline
        cfg_path = os.path.join(run_dir, f"cfg-{cfg['run_id']}.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log = open(os.path.join(run_dir, f"stderr-{cfg['run_id']}.log"), "w+")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=self.log,
            text=True, start_new_session=True)

    def wait_ready(self) -> float:
        """Seconds from process start to the worker's ready line."""
        for line in self.proc.stdout:
            if line.strip() == "ready":
                return time.perf_counter() - self.t0
        self.finish()
        raise RuntimeError("worker failed during set-up:\n" + self.tail())

    def finish(self) -> int:
        """Wait for the worker and its JVM (which holds the stdout pipe
        open until it exits); kill the group at the deadline."""
        try:
            self.proc.communicate(timeout=max(1.0, self.deadline - time.monotonic()))
            code = self.proc.returncode
        except subprocess.TimeoutExpired:
            code = -1
        for sig in (signal.SIGTERM, signal.SIGKILL):
            end = time.monotonic() + 10
            while _group_alive(self.proc.pid) and time.monotonic() < end:
                try:
                    os.killpg(self.proc.pid, sig)
                except ProcessLookupError:
                    break
                time.sleep(0.2)
        self.proc.wait()
        self.log.close()
        return code

    def tail(self) -> str:
        with open(self.log.name) as f:
            return "".join(f.readlines()[-30:])


def _env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "TZ": "UTC",
        "PYTHONPATH": ROOT + os.pathsep + HERE,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell")
    return env


def run_body(workload: str, seed: int, seconds: int, run_dir: str, data_dir: str,
             trace: bool, run_id: str, deadline: float) -> tuple[float, dict]:
    """One cold worker running the timed body; returns its set-up seconds
    and its result record."""
    cfg = {"workload": workload, "data_dir": data_dir, "trace": trace,
           "probe": False, "run_id": run_id,
           "result_path": os.path.join(run_dir, f"result-{run_id}.json")}
    if workload == "facade_session":
        cfg["script"] = workloads.facade_script(seed, FACADE_CALLS_PER_S * seconds)
    else:
        cfg["order"] = workloads.batch_order(workload, seed)
        stored = expected_hashes()["queries"]
        cfg["expected"] = {n: stored[n] for n in cfg["order"]}
    child = Child(cfg, run_dir, _env(run_dir, trace), deadline)
    setup = child.wait_ready()
    code = child.finish()
    if code != 0 or not os.path.exists(cfg["result_path"]):
        raise RuntimeError(f"worker exited {code}:\n" + child.tail())
    with open(cfg["result_path"]) as f:
        return setup, json.load(f)


def setup_probe(run_dir: str, data_dir: str, run_id: str, deadline: float) -> float:
    cfg = {"workload": "probe", "data_dir": data_dir, "trace": False,
           "probe": True, "run_id": run_id, "result_path": ""}
    child = Child(cfg, run_dir, _env(run_dir, False), deadline)
    setup = child.wait_ready()
    if child.finish() != 0:
        raise RuntimeError("set-up probe failed:\n" + child.tail())
    return setup


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_DEADLINE_S

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pandas_db_spark") is None:
        print("pandas_db_spark is not importable from the checkout root",
              file=sys.stderr)
        return 2
    data_dir = build_data()
    before = _machine()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, "_build"))
    try:
        if args.trace:
            _, plain = run_body(args.workload, args.seed, args.seconds, run_dir,
                                data_dir, False, "plain", deadline)
            _, traced = run_body(args.workload, args.seed, args.seconds, run_dir,
                                 data_dir, True, "traced", deadline)
            spans = metrics.load_spans(os.path.join(run_dir, "spans.jsonl"))
            jobs = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
            values, detail = metrics.per_layer(traced, plain, spans, jobs)
            result = traced
        else:
            setups = []
            setup, result = run_body(args.workload, args.seed, args.seconds,
                                     run_dir, data_dir, False, "main", deadline)
            setups.append(setup)
            for i in range(SETUP_SAMPLES - 1):
                setups.append(setup_probe(run_dir, data_dir, f"probe{i}", deadline))
            values = metrics.end_to_end(result, statistics.median(setups))
            detail = {"setup_samples_s": setups}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = _machine()
    steal = [a - b for a, b in zip(after["cpu"], before["cpu"])]
    env_record = {
        "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
        "cpu_steal_share": steal[7] / max(1, sum(steal)) if len(steal) > 7 else None,
        "nproc": before["nproc"], "calibration_spin_ms": [before["spin_ms"], after["spin_ms"]],
        "versions": result["versions"], "commit": _git_commit(),
        "workload": args.workload, "seed": args.seed, "trace": args.trace}
    print(json.dumps({"environment": env_record}))
    by_kind: dict = {}
    for o in result["ops"]:
        k = by_kind.setdefault(o["name"], [0, 0.0])
        k[0] += 1
        k[1] += o["ms"]
    detail["calls_and_ms_by_name"] = by_kind
    print(json.dumps({"detail": detail, "errors": [
        {"op": o["name"], "error": o["error"][-300:]} for o in result["ops"] if o["error"]]}))
    units = metrics.UNITS
    failed = sum(1 for o in result["ops"] if o["error"])
    print(json.dumps({
        "correct": failed == 0, "attempted": len(result["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
