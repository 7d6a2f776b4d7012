"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import datetime
import decimal
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402
from checks import canon, result_hash, same_value  # noqa: E402
from tracing import Span, Tracer, attribute, read_event_log, self_times  # noqa: E402


def _declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# -- seeded inputs -----------------------------------------------------------

def test_facade_script_is_determined_by_the_seed():
    a = workloads.facade_script(7, 200)
    assert a == workloads.facade_script(7, 200)
    assert a != workloads.facade_script(8, 200)
    assert len(a) == 200


def test_facade_script_mix_and_repeats_do_not_depend_on_the_seed():
    mixes = []
    for seed in (1, 2, 3):
        script = workloads.facade_script(seed, 200)
        first = []
        for call in script:
            if call not in first:
                first.append(call)
        assert len(script) - len(first) == 50  # REPEAT_SHARE of 200
        mixes.append(collections.Counter(c[0] for c in first))
    assert mixes[0] == mixes[1] == mixes[2]
    assert set(mixes[0]) == {k for k, _ in workloads.KIND_MIX}


def test_scripted_calls_survive_a_json_round_trip():
    script = workloads.facade_script(3, 60)
    assert workloads.freeze(json.loads(json.dumps(script))) == tuple(script)


def test_batch_order_is_a_seeded_permutation():
    for wl, families in workloads.BATCH.items():
        order = workloads.batch_order(wl, 5)
        assert order == workloads.batch_order(wl, 5)
        i = 0
        for fam in families:  # families keep their place; the seed shuffles within
            assert sorted(order[i:i + len(fam)]) == sorted(fam)
            i += len(fam)
        assert i == len(order)
    assert (workloads.batch_order("registry_ops", 1)
            != workloads.batch_order("registry_ops", 2))


# -- percentiles and declared metrics ----------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(200)]
    assert metrics.percentile(xs, 95) == pytest.approx(189.95)
    with pytest.raises(ValueError):
        metrics.percentile(xs[:199], 95)
    assert metrics.percentile(xs[:100], 90) == pytest.approx(89.9)


def test_printed_metric_names_are_declared():
    spec = _declared()
    assert set(metrics.END_TO_END) == {m["name"] for m in spec["end_to_end"]}
    assert set(metrics.PER_LAYER) == {m["name"] for m in spec["per_layer"]}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert metrics.UNITS[m["name"]] == m["unit"]
    assert {w["name"] for w in spec["workloads"]} == {
        "facade_session", *workloads.BATCH}
    assert set(metrics.MOVES) == set(metrics.PER_LAYER)
    for moves in metrics.MOVES.values():
        for e2e, wl in moves:
            assert e2e in metrics.END_TO_END and wl in {"facade_session", *workloads.BATCH}

    ops = [{"name": "agg", "ms": float(i + 1), "first": i % 4 != 0, "error": None}
           for i in range(200)]
    result = {"ops": ops, "body_s": 20.0, "cores": 4, "peak_rss_mb": 900.0,
              "cache": {"entries": 3}}
    assert set(metrics.end_to_end(result, 5.0)) == set(metrics.END_TO_END)
    spans = [Span(0, "body", 0.0, 10.0), Span(1, "op", 1.0, 2.0, 0,
                                              attrs={"index": 0, "kind": "agg"})]
    values, _ = metrics.per_layer(result, result, spans, {})
    assert set(values) == set(metrics.PER_LAYER)


# -- spans and job attribution -----------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [Span(0, "op", 0.0, 10.0),
             Span(1, "a", 1.0, 3.0, 0), Span(2, "b", 2.0, 4.0, 0),
             Span(3, "c", 5.0, 6.0, 0), Span(4, "d", 5.2, 5.5, 3)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[3] == pytest.approx(1.0 - 0.3)
    assert st[4] == pytest.approx(0.3)


def test_jobs_go_to_the_innermost_span_containing_their_submission():
    spans = [Span(0, "body", 0.0, 10.0), Span(1, "op", 1.0, 5.0, 0),
             Span(2, "queries.build", 1.5, 3.0, 1), Span(3, "op", 6.0, 9.0, 0)]
    owner = attribute(spans, {10: 2.0, 11: 4.0, 12: 5.5, 13: 7.0, 14: 11.0})
    assert owner == {10: 2, 11: 1, 12: 0, 13: 3, 14: None}


def test_tracer_wrap_spans_only_the_outermost_call_of_a_layer():
    tr = Tracer(True)

    def inner():
        return 1

    def outer():
        return wrapped_inner() + 1

    wrapped_inner = tr.wrap("layer", inner)
    wrapped_outer = tr.wrap("layer", outer)
    with tr.span("op"):
        assert wrapped_outer() == 2
    assert [(s.name, s.parent) for s in tr.spans] == [("op", None), ("layer", 0)]
    assert Tracer(False).spans == []


def test_event_log_totals_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 1.5e8, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 5e7, "JVM GC Time": 0}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    job = read_event_log(str(tmp_path))[0]
    assert (job.submit, job.tasks, job.shuffle_bytes) == (1.5, 2, 1024)
    assert job.run_s == pytest.approx(0.3)
    assert job.cpu_s == pytest.approx(0.2)


# -- output checks -----------------------------------------------------------

def test_result_hash_ignores_row_and_column_order():
    a = result_hash(["x", "y"], [(1, "a"), (2, None)])
    b = result_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != result_hash(["x", "y"], [(1, "a"), (2, "b")])


def test_canonical_values_agree_across_engine_types():
    import numpy as np
    assert canon(np.int64(3)) == canon(3)
    assert canon(-0.0) == canon(0.0)
    assert canon(decimal.Decimal("1.50")) == canon(decimal.Decimal("1.5"))
    assert canon(datetime.datetime(2024, 1, 1)) == "t2024-01-01T00:00:00"
    assert same_value(0.1 + 0.2, 0.3)
    assert not same_value(1.0, 1.001)
    assert same_value({"a": 1, "b": 2.0}, {"b": 2.0, "a": 1})
