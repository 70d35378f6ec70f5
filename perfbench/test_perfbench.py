"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def _dataset_bytes(out_dir: str, seed: int) -> dict[str, bytes]:
    ev = gen.events_table(seed, 3000)
    docs, _ = gen.documents_table(seed, 200)
    vecs, _ = gen.embeddings_table(seed, 200)
    gen.write_dataset(out_dir, ev, docs, vecs)
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _dataset_bytes(str(tmp_path / "a"), 7)
    b = _dataset_bytes(str(tmp_path / "b"), 7)
    c = _dataset_bytes(str(tmp_path / "c"), 8)
    assert a == b
    for t in ("events.parquet", "documents.parquet", "embeddings.parquet"):
        assert a[t] != c[t], t


def test_generator_plants_stated_properties():
    ev = gen.events_table(3, 47 * 400)
    routes = gen.route_counts(ev)
    assert abs(routes["logs"] / ev.num_rows - gen.ERROR_SHARE) < 0.02
    docs, clusters = gen.documents_table(3, 1000)
    planted = sum(len(c) for c in clusters)
    assert abs(planted / docs.num_rows - gen.DUP_DOC_SHARE) < 0.01
    assert all(len(c) >= 2 for c in clusters)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(10))) is None
    t = stats.tail(list(range(11)))
    assert t == {"value": 0, "percentile": round(100 / 11, 2), "n": 11}
    t = stats.tail([float(x) for x in range(100, 0, -1)])
    assert t["value"] == 90.0 and t["percentile"] == 90.0 and t["n"] == 100
    assert sum(1 for x in range(1, 101) if x > t["value"]) == 10
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": None}


def test_self_time_subtracts_children():
    spans = [Span(0, "a", 0, None, 0.0, 10.0), Span(1, "b", 0, 0, 1.0, 4.0),
             Span(2, "c", 0, 0, 5.0, 6.0), Span(3, "d", 0, 1, 2.0, 3.0)]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeCollector:
    """Collector stand-in whose first routed drop stalls."""

    def __init__(self, stall_s: float):
        self.stall_s = stall_s
        self.calls = 0

    def run_collector_pipeline(self, spark, land, out_dir):
        self.calls += 1
        if self.calls == 1:
            time.sleep(self.stall_s)
        # The routing summary counts the whole sink; compaction, which
        # would start a new one, is stubbed out.
        routes = {"logs": 0, "taskMetrics": 0}
        for ev in self.wl.landed_events:
            for k, v in gen.route_counts(ev).items():
                routes[k] += v
        return _Rows([{"metrics_type": k, "n_records": v} for k, v in routes.items()])

    def run_streaming_stage_agg(self, spark, drop_dir, out_dir):
        return _Rows([{"n_tasks": workloads.DROP_RECORDS}])

    def run_windowed_rollup(self, spark, drop_dir):
        return _Rows([{"n_events": workloads.DROP_RECORDS}])


class _FakeObs:
    def __init__(self, wl):
        self.wl = wl

    def stage_agg_skewness(self, _df):
        return _Rows([{"n_tasks": sum(self.wl.route_truth.values())}])


def test_open_loop_stall_makes_following_drops_late(tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "DROP_RECORDS", 50)
    monkeypatch.setattr(workloads, "INGEST_INTERVAL_S", 0.2)
    wl = workloads.Ingest(str(tmp_path), seed=1)
    wl.col = _FakeCollector(stall_s=0.7)
    wl.col.wl = wl
    wl.obs = _FakeObs(wl)
    wl.spark, wl.tracer = None, Tracer(None, enabled=False)
    monkeypatch.setattr(wl, "_sink_frame", lambda: None)
    monkeypatch.setattr(wl, "_compact", lambda rec: None)
    fails = workloads.Failures()
    drops = wl.run(0.6, fails)

    assert fails.failed == 0, fails.notes
    assert [d["due_s"] for d in drops] == pytest.approx([0.0, 0.2, 0.4])
    # The stall on drop 0 delays drops 1 and 2: each lands late, and its
    # latency runs from its due time, not from when it finally started.
    assert drops[0]["generator_late_s"] < 0.1
    assert drops[1]["generator_late_s"] >= 0.4
    assert drops[2]["generator_late_s"] >= 0.2
    for d in drops:
        assert d["freshness_s"] >= d["generator_late_s"]
        assert d["landed_s"] == pytest.approx(d["due_s"] + d["generator_late_s"], abs=0.02)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_exits_nonzero_without_the_package(tmp_path):
    dst = tmp_path / "bare"
    shutil.copytree(HERE, dst / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), dst)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=dst, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


class _NoSpans:
    spans: list = []
    overhead_s = 0.0

    def epoch(self, perf):
        return perf

    def stream_progress(self):
        return {}


@pytest.mark.parametrize("workload, cycle", [
    ("ingest", {"freshness_s": 1.0, "records": 10, "drop_bytes": 100}),
    ("curation", {"suite_s": 1.0, "docs": 10, "calls": {}}),
])
def test_layer_metrics_match_their_definitions(workload, cycle):
    record = {"cycles": [cycle], "get_spark_s": 1.0, "run_wall_s": 2.0, "task_slots": 2,
              "rss": {"jvm_mb": 1.0, "python_mb": 1.0}}
    wl = type("W", (), {"name": workload})()
    layers = metrics.annotate(metrics.per_layer(wl, _NoSpans(), {}, record), workload)
    assert set(layers) == set(metrics.PER_LAYER) | {
        k for k, v in metrics.DETAIL.items() if v[1] == workload}
    assert layers["session.get_spark_s"] == {"value": 1.0, "unit": "s", "moves": "setup_s"}
