"""Self-tests of the benchmark; they need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import client  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_declared_workloads_are_the_client_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_declared_end_to_end_metrics_are_the_untraced_output():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == client.END_TO_END
    assert all(m["better"] == "lower" for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_declared_per_layer_metrics_are_the_traced_output():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == client.PER_LAYER


def test_every_workload_op_is_registered_with_an_oracle():
    sys.path.insert(0, os.path.dirname(HERE))
    from multi_crm_cross_sell_spark.plans import all_queries

    reg = all_queries()
    for w in WORKLOADS.values():
        assert w.inputs in inputs.SETS
        for op in w.ops:
            assert reg[op.query].oracle, op.query


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("cache"))
    return {s: {n: inputs.build(cache, s, n) for n in inputs.SETS} for s in (3, 4)}


def _read(d, table):
    return pq.read_table(os.path.join(d, f"{table}.parquet"))


def test_same_seed_same_inputs(built, tmp_path):
    again = inputs.build(str(tmp_path), 3, "full")
    for t in inputs.TABLES:
        assert _read(again, t).equals(_read(built[3]["full"], t)), t


def test_relabel_keeps_structure_and_changes_strings(built):
    a, b = built[3]["full"], built[4]["full"]
    for t in inputs.TABLES:
        ta, tb, base = _read(a, t), _read(b, t), _read(inputs.BASE, t)
        assert ta.num_rows == tb.num_rows == base.num_rows
        for c in base.column_names:
            if c in inputs.TEXT_COLUMNS.get(t, ()):
                va, vb, v0 = (x.column(c).to_pylist() for x in (ta, tb, base))
                assert va != vb
                assert [len(s) for s in va] == [len(s) for s in v0]
                # a bijection on words keeps token equality
                assert len(set(va)) == len(set(v0))
            elif c != "embedding":
                assert ta.column(c).equals(base.column(c)), (t, c)


def test_sign_flip_keeps_every_dot_product(built):
    def vecs(d):
        return np.array(_read(d, "embeddings").column("embedding").to_pylist(), dtype=np.float32)

    v0, v1 = vecs(inputs.BASE), vecs(built[3]["full"])
    assert not np.array_equal(v0, v1)
    np.testing.assert_array_equal(np.abs(v0), np.abs(v1))
    np.testing.assert_array_equal(v0[:50] @ v0[:50].T, v1[:50] @ v1[:50].T)


def test_nightly_delta_is_one_day_of_consecutive_events(built):
    ev = _read(built[3]["nightly"], "events").to_pandas()
    assert len(ev) == inputs.DELTA_EVENTS
    assert ev["ts"].is_monotonic_increasing
    assert ev["ts"].max() - ev["ts"].min() < np.timedelta64(2, "D")
    full = _read(built[3]["full"], "events").to_pandas().sort_values(["ts", "event_id"])
    i = full.index[full["event_id"] == ev["event_id"].iloc[0]][0]
    pos = list(full.index).index(i)
    assert full["event_id"].iloc[pos : pos + len(ev)].tolist() == ev["event_id"].tolist()


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,500", 1500.0),
        ("30.2 KiB", 30.2 * 1024),
        ("678 ms", 0.678),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n1.3 s (0 ms, 1 ms, 1.2 s (stage 3.0: task 7))", 1.3),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 KiB, ...)", 2.0 * 1024 * 1024),
    ],
)
def test_metric_value(text, value):
    assert layers.metric_value(text) == pytest.approx(value)


def test_job_seconds_counts_overlap_once():
    jobs = [
        {"submissionTime": 1000, "completionTime": 3000},
        {"submissionTime": 2000, "completionTime": 4000},
        {"submissionTime": 6000, "completionTime": 7000},
        {"submissionTime": 9000, "completionTime": 9500},
    ]
    assert layers.job_seconds(jobs, 0, 8000) == (3, 4.0)


def test_layer_of():
    assert layers.layer_of("multi_crm_cross_sell_spark.operators.dedup") == "operators"
    assert layers.layer_of("multi_crm_cross_sell_spark.sources.sinks") == "sinks"
    assert layers.layer_of("multi_crm_cross_sell_spark.streaming.sinks") == "sinks"
    assert layers.layer_of("multi_crm_cross_sell_spark.streaming.stateful") == "streaming"
    assert layers.layer_of("multi_crm_cross_sell_spark.sources.bronze") == "sources"
    assert layers.layer_of("multi_crm_cross_sell_spark.plans.crm") is None
    assert layers.layer_of("multi_crm_cross_sell_spark.session") is None


def test_spans_self_time_excludes_children():
    import time

    spans = layers.Spans()

    def inner():
        time.sleep(0.05)

    def outer(child):
        child()
        time.sleep(0.02)

    inner_w, outer_w = spans._wrap(inner, "functions"), spans._wrap(outer, "operators")
    outer_w(inner_w)
    got = spans.take()
    assert got["operators.calls"] == 1
    assert 0.015 < got["operators.self_s"] < 0.045
    assert 0.045 < got["functions.self_s"] < 0.08
