"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The command-line test runs the benchmark end to end (about two
minutes); the others use one small in-process session.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
from collections import defaultdict

import pytest

import gen
import run
import workloads as W
from spans import Span, SparkProbe, Tracer, critical_path, self_times

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def test_generators_are_deterministic_per_seed():
    day = dt.date(2024, 1, 1)
    a, b = gen.esg_sources(5, 1, day), gen.esg_sources(5, 1, day)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c = gen.esg_sources(6, 1, day)
    assert not c["esgi_indicators"].equals(a["esgi_indicators"])

    t1, t2 = gen.tpch_tables(3, 0.001), gen.tpch_tables(3, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not gen.tpch_tables(4, 0.001)["lineitem"].equals(t1["lineitem"])


def test_esg_inputs_follow_fixture_conventions():
    t = gen.esg_sources(1, 1, dt.date(2024, 3, 1))
    periods = t["esgi_indicators"].column("period_start").to_pylist()
    assert all(p.day == 1 for p in periods)
    assert dt.date(2024, 3, 1) in periods
    assert set(t["esgi_indicators"].column("data_name").to_pylist()) \
        == set(gen.INDICATORS)


def test_declared_input_schemas_match_inference(spark, tmp_path):
    tables = gen.esg_sources(2, 1, dt.date(2024, 1, 1))
    paths = W.land(tables, str(tmp_path / "in"))
    for name, path in paths.items():
        assert spark.read.parquet(path).schema == \
            W.input_schema(tables[name]), name


def _span(i, layer, start, end, parent=None):
    return Span(i, f"s{i}", layer, 1, parent, start, end)


def test_self_times_add_up_with_concurrent_children():
    spans = [_span(1, "harness", 0.0, 10.0),
             _span(2, "dag", 1.0, 9.0, 1),
             _span(3, "job", 2.0, 6.0, 2),   # two jobs overlap
             _span(4, "job2", 4.0, 8.0, 2),
             _span(5, "io", 4.5, 5.5, 3)]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(10.0)
    assert st["harness"] == pytest.approx(2.0)
    assert st["io"] == pytest.approx(0.5)   # shared with job2


def test_pool_thread_spans_nest_under_the_submitting_call():
    tracer = Tracer(enabled=True)
    inner = {}

    def job():
        with tracer.span("job", "pipelines.ingest") as s:
            inner["span"] = s

    with tracer.op(1, "op"):
        with tracer.span("dag", "pipelines.dag") as dag:
            t = threading.Thread(target=job)
            t.start()
            t.join(timeout=10)
    assert not t.is_alive()
    assert inner["span"].parent == dag.id and inner["span"].op == 1
    st = self_times(tracer.of_op(1))
    assert sum(st.values()) == pytest.approx(
        max(s.end for s in tracer.spans) - min(s.start for s in tracer.spans))


def test_critical_path_follows_dependencies():
    d = {"a": 2.0, "b": 1.0, "c": 5.0, "d": 1.0}
    deps = {"b": ["a"], "d": ["b", "c"]}
    assert critical_path(d, deps) == pytest.approx(6.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail(list(range(10))) is None
    q, v = run.tail([float(i) for i in range(100)])
    assert q == 90 and v == 89.0


def test_traced_op_spans_account_for_wall_time(spark, tmp_path):
    wl = W.LakehouseRW(spark, str(tmp_path), seed=3, rows=2_000)
    wl.setup()
    tracer = Tracer()
    h = run.Harness(spark, wl, tracer, None)
    h.run_pass(wl.warmup_ops(), "warmup", -1)
    counters = defaultdict(float)
    h.probe = SparkProbe(spark)
    tracer.enabled = True
    wl.instrument(tracer, counters)
    try:
        h.run_pass(wl.pass_ops(0), "traced", 0)
    finally:
        tracer.enabled = False
        tracer.unwrap_all()
    assert all(r.error is None for r in h.records)
    assert len(h.traced_ops) == 11
    for op_id, rec in h.traced_ops:
        spans = tracer.of_op(op_id)
        root = [s for s in spans if s.layer == "harness"][0]
        assert sum(self_times(spans).values()) == pytest.approx(
            root.end - root.start, rel=1e-9)
        assert root.end - root.start <= rec.wall_s
        layers = {s.layer for s in spans}
        assert "io.versioned" in layers or rec.name == "datasource_read"
        assert rec.spark.get("spark.jobs", 0) >= 1
    assert counters["io.versioned.reads"] >= 5


def test_poisoned_feed_fails_the_gate_and_skips_downstream(spark,
                                                           tmp_path):
    wl = W.NightlyDag(spark, str(tmp_path), seed=4, scale=1, poison=True)
    wl.setup()
    h = run.Harness(spark, wl, Tracer(), None)
    h.run_pass(wl.pass_ops(1), "untraced", 1)
    (rec,) = h.records
    assert rec.error is not None
    result = wl.results[-1]
    assert result["esgi_to_raw"] == "ok"
    assert result["validate_raw_electricity"].startswith("error")
    for job in ("electricity_decarb", "scope_overview",
                "import_actual_elect", "transfer_suggest"):
        assert result[job].startswith("skipped")
    failed = sum(r.error is not None for r in h.records)
    assert failed / len(h.records) == 1.0


def test_command_prints_every_named_metric_with_its_unit():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, declared in ((0, spec["end_to_end"]),
                            (1, spec["per_layer"])):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "lakehouse_rw", "--seed", "1", "--seconds", "1",
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed",
                               "metrics"}
        assert result["correct"] and result["failed"] == 0
        got = result["metrics"]
        assert set(got) == {m["name"] for m in declared}
        for m in declared:
            assert got[m["name"]]["unit"] == m["unit"]
            assert any(line.split()[:1] == [m["name"]]
                       and m["unit"] in line.split() for line in lines)
