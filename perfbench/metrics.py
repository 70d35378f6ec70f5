"""Metric definitions and their computation from a run's cycle records and
spans. ``END_TO_END`` and ``PER_LAYER`` are what the result line reports and
what ``BENCHMARK.json`` lists; ``test_perfbench.py`` keeps the two in step.

Every reported metric is defined for every workload, because each run must
report all of them. Metrics of one workload's own layers (streaming
progress, dedup precision, ...) are defined in ``DETAIL`` and go into the
run record's ``layers`` section, each with its unit and the end-to-end
metric it should move (``annotate``).
"""

from __future__ import annotations

from datetime import datetime, timezone

from spans import self_times
from stats import median

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "cpu_ms_per_item": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, end-to-end metric it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s"),
    "sources.self_s_per_cycle": ("s", "lower", "latency_p50_s"),
    "engine.calls_per_cycle": ("count", "lower", "latency_p50_s"),
    "engine.call_p50_s": ("s", "lower", "latency_p50_s"),
    "engine.plan_ms_per_call": ("ms", "lower", "latency_p50_s"),
    "engine.job_free_frac": ("ratio", "lower", "latency_p50_s"),
    "spark.jobs_per_cycle": ("count", "lower", "latency_p50_s"),
    "spark.stages_per_cycle": ("count", "lower", "latency_p50_s"),
    "spark.tasks_per_cycle": ("count", "lower", "latency_p50_s"),
    "spark.input_bytes_per_cycle": ("bytes", "lower", "cpu_ms_per_item"),
    "spark.shuffle_write_bytes_per_cycle": ("bytes", "lower", "cpu_ms_per_item"),
    "spark.executor_run_s_per_cycle": ("s", "lower", "cpu_ms_per_item"),
    "spark.executor_cpu_s_per_cycle": ("s", "lower", "cpu_ms_per_item"),
    "spark.gc_s_per_cycle": ("s", "lower", "cpu_ms_per_item"),
    "spark.core_busy_frac": ("ratio", "higher", "latency_p50_s"),
    "process.jvm_rss_mb": ("MB", "lower", "peak_rss_mb"),
    "process.python_rss_mb": ("MB", "lower", "peak_rss_mb"),
    "trace.overhead_frac": ("ratio", "lower", "latency_p50_s"),
    "trace.blocking_self_frac": ("ratio", "higher", "latency_p50_s"),
}

# Workload-specific layer metrics in the run record:
# name -> (unit, workload, end-to-end metric it should move)
DETAIL = {
    "streaming.collector.route_s": ("s", "ingest", "latency_p50_s, cpu_ms_per_item"),
    "streaming.collector.stage_close_s": ("s", "ingest", "latency_p50_s, cpu_ms_per_item"),
    "streaming.collector.rollup_s": ("s", "ingest", "latency_p50_s, cpu_ms_per_item"),
    "streaming.batches_per_drop": ("count", "ingest", "latency_p50_s"),
    "streaming.trigger_ms": ("ms", "ingest", "latency_p50_s"),
    "streaming.add_batch_ms": ("ms", "ingest", "latency_p50_s"),
    "streaming.query_planning_ms": ("ms", "ingest", "latency_p50_s"),
    "streaming.wal_commit_ms": ("ms", "ingest", "latency_p50_s"),
    "streaming.state_commit_ms": ("ms", "ingest", "latency_p50_s"),
    "operators.observability.plan_ms": ("ms", "ingest", "latency_p50_s"),
    "operators.observability.exec_s": ("s", "ingest", "latency_p50_s"),
    "spark.jobs_per_panel": ("count", "ingest", "latency_p50_s"),
    "spark.stages_per_panel": ("count", "ingest", "latency_p50_s"),
    "spark.tasks_per_panel": ("count", "ingest", "latency_p50_s"),
    "spark.input_bytes_per_panel": ("bytes", "ingest", "latency_p50_s"),
    "spark.shuffle_write_bytes_per_panel": ("bytes", "ingest", "latency_p50_s"),
    "sink.files_per_drop": ("count", "ingest", "latency_p50_s"),
    "sink.bytes_per_record": ("bytes", "ingest", "latency_p50_s"),
    "sources.compaction.compact_s": ("s", "ingest", "latency_p50_s"),
    "sources.compaction.bytes_rewritten_per_byte_ingested": ("ratio", "ingest", "latency_p50_s"),
    "sources.load_tables_s": ("s", "curation", "latency_p50_s"),
    "operators.dedup.exact_s": ("s", "curation", "latency_p50_s"),
    "operators.dedup.minhash_lsh_s": ("s", "curation", "latency_p50_s"),
    "operators.dedup.containment_banded_s": ("s", "curation", "latency_p50_s"),
    "operators.pipeline.dup_groups_s": ("s", "curation", "latency_p50_s"),
    "operators.pipeline.curation_v2_s": ("s", "curation", "latency_p50_s"),
    "operators.similarity.embedding_dup_groups_s": ("s", "curation", "latency_p50_s"),
    "operators.dedup.lsh_candidate_pairs": ("count", "curation", "cpu_ms_per_item"),
    "operators.dedup.verified_pairs": ("count", "curation", "cpu_ms_per_item"),
    "operators.dedup.lsh_precision": ("ratio", "curation", "cpu_ms_per_item"),
    "operators.dedup.repeat_call_ratio": ("ratio", "curation", "latency_p50_s"),
    "operators.pipeline.cc_jobs": ("count", "curation", "latency_p50_s"),
    "spark.shuffle_write_bytes_per_suite": ("bytes", "curation", "cpu_ms_per_item"),
    "spark.spill_bytes_per_suite": ("bytes", "curation", "cpu_ms_per_item"),
    "spark.tasks_per_suite": ("count", "curation", "cpu_ms_per_item"),
    "operators.pipeline.planted_doc_recall": ("ratio", "curation", "none: output quality"),
    "operators.similarity.planted_vec_recall": ("ratio", "curation", "none: output quality"),
}


def annotate(layers: dict, workload: str) -> dict:
    """Each layer metric with its unit and the end-to-end metric it should
    move. A value that neither ``PER_LAYER`` nor ``DETAIL`` lists for
    ``workload`` raises, and so does a listed one that is missing."""
    spec = {k: (v[0], v[2]) for k, v in PER_LAYER.items()}
    spec.update((k, (v[0], v[2])) for k, v in DETAIL.items() if v[1] == workload)
    if set(layers) != set(spec):
        raise KeyError(f"layer metrics differ from their definitions: "
                       f"{sorted(set(layers) ^ set(spec))}")
    return {k: {"value": v, "unit": spec[k][0], "moves": spec[k][1]}
            for k, v in layers.items()}


def _ms(seconds):
    return None if seconds is None else 1e3 * seconds


def select(values: dict, spec: dict) -> dict:
    return {k: {"value": values[k], "unit": spec[k][0]} for k in spec}


def cycle_latencies(wl, cycles: list[dict]) -> list[float]:
    """Per-cycle latency: a drop's freshness, or a corpus's suite time."""
    key = "freshness_s" if wl.name == "ingest" else "suite_s"
    return [c[key] for c in cycles if c.get(key) is not None]


def end_to_end(wl, record: dict) -> dict:
    items = sum(c[wl.item_key] for c in record["cycles"])
    return {"setup_s": record["setup_s"],
            "latency_p50_s": median(cycle_latencies(wl, record["cycles"])),
            "cpu_ms_per_item": 1e3 * record["run_cpu_s"] / items if items else None,
            "peak_rss_mb": record["rss"]["total_mb"]}


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def per_layer(wl, tracer, counts: dict, record: dict) -> dict:
    spans = [s for s in tracer.spans if s.cycle >= 0]
    selfs = self_times(spans)
    n = max(1, len(record["cycles"]))
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += children.get(x.id, [])
        return out

    def inclusive(s, key):
        return sum(counts.get(x.id, {}).get(key, 0) for x in subtree(s))

    top = [s for s in spans if s.parent is None and not s.name.startswith("bench.")]
    total = {k: sum(c[k] for c in counts.values()) for k in
             ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
              "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s")}
    busy_wall = sum(s.dur for s in top)

    job_covered = 0.0
    for s in top:
        iv = []
        for x in subtree(s):
            for a, b in counts.get(x.id, {}).get("job_intervals", []):
                ea, eb = _epoch(a), _epoch(b)
                if ea is not None and eb is not None:
                    iv.append((ea, eb))
        job_covered += _covered(iv, tracer.epoch(s.start), tracer.epoch(s.end))

    out = {
        "session.get_spark_s": record["get_spark_s"],
        "sources.self_s_per_cycle": sum(selfs[s.id] for s in spans
                                        if s.name.startswith("sources.")) / n,
        "engine.calls_per_cycle": len(top) / n,
        "engine.call_p50_s": median([s.dur for s in top]),
        "engine.plan_ms_per_call": _ms(median([s.dur for s in spans if s.name.endswith(".plan")])),
        "engine.job_free_frac": 1 - job_covered / busy_wall if busy_wall else None,
        "spark.jobs_per_cycle": total["jobs"] / n,
        "spark.stages_per_cycle": total["stages"] / n,
        "spark.tasks_per_cycle": total["tasks"] / n,
        "spark.input_bytes_per_cycle": total["input_bytes"] / n,
        "spark.shuffle_write_bytes_per_cycle": total["shuffle_write_bytes"] / n,
        "spark.executor_run_s_per_cycle": total["executor_run_s"] / n,
        "spark.executor_cpu_s_per_cycle": total["executor_cpu_s"] / n,
        "spark.gc_s_per_cycle": total["gc_s"] / n,
        "spark.core_busy_frac": total["executor_run_s"] / (busy_wall * record["task_slots"])
        if busy_wall else None,
        "process.jvm_rss_mb": record["rss"]["jvm_mb"],
        "process.python_rss_mb": record["rss"]["python_mb"],
        "trace.overhead_frac": tracer.overhead_s / record["run_wall_s"],
        "trace.blocking_self_frac": sum(s.dur for s in top if s.attrs.get("blocking"))
        / sum(cycle_latencies(wl, record["cycles"])),
    }
    detail = _ingest_detail if wl.name == "ingest" else _curation_detail
    out.update(detail(spans, record, counts, inclusive, tracer))
    return out


def _ingest_detail(spans, record, counts, inclusive, tracer) -> dict:
    cyc = record["cycles"]
    panels = [s for s in spans if s.name == "operators.observability.stage_agg_skewness"]
    progress = [p for ps in tracer.stream_progress().values() for p in ps]
    dur = lambda key: median([p.get("durationMs", {}).get(key) for p in progress])  # noqa: E731
    state_commit = [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))
                    for p in progress if p.get("stateOperators")]
    files = [c.get("sink_files_per_drop") for c in cyc]
    drop_bytes = [c["drop_bytes"] / c["records"] for c in cyc]
    return {
        "streaming.collector.route_s": median([c.get("route_s") for c in cyc]),
        "streaming.collector.stage_close_s": median([c.get("stage_close_s") for c in cyc]),
        "streaming.collector.rollup_s": median([c.get("rollup_s") for c in cyc]),
        "streaming.batches_per_drop": len(progress) / max(1, len(cyc)),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.state_commit_ms": median(state_commit),
        "operators.observability.plan_ms": _ms(median([
            s.dur for s in spans if s.name == "operators.observability.plan"])),
        "operators.observability.exec_s": median([
            s.dur for s in spans if s.name == "operators.observability.exec"]),
        "spark.jobs_per_panel": median([inclusive(s, "jobs") for s in panels]),
        "spark.stages_per_panel": median([inclusive(s, "stages") for s in panels]),
        "spark.tasks_per_panel": median([inclusive(s, "tasks") for s in panels]),
        "spark.input_bytes_per_panel": median([inclusive(s, "input_bytes") for s in panels]),
        "spark.shuffle_write_bytes_per_panel": median(
            [inclusive(s, "shuffle_write_bytes") for s in panels]),
        "sink.files_per_drop": median(files),
        "sink.bytes_per_record": median(drop_bytes),
        "sources.compaction.compact_s": median([c.get("compact_s") for c in cyc]),
        "sources.compaction.bytes_rewritten_per_byte_ingested": median(
            [c.get("compact_bytes_ratio") for c in cyc]),
    }


def _curation_detail(spans, record, counts, inclusive, tracer) -> dict:
    cyc = record["cycles"]
    calls = lambda name: median([c["calls"].get(name) for c in cyc])  # noqa: E731
    by_name = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    suites = {}
    for s in spans:
        if not s.name.startswith("bench."):
            c = counts.get(s.id, {})
            acc = suites.setdefault(s.cycle, {"shuffle": 0, "spill": 0, "tasks": 0})
            acc["shuffle"] += c.get("shuffle_write_bytes", 0)
            acc["spill"] += c.get("spill_bytes", 0)
            acc["tasks"] += c.get("tasks", 0)
    return {
        "sources.load_tables_s": median([c.get("load_s") for c in cyc]),
        "operators.dedup.exact_s": calls("operators.dedup.exact"),
        "operators.dedup.minhash_lsh_s": calls("operators.dedup.minhash_lsh"),
        "operators.dedup.containment_banded_s": calls("operators.dedup.containment_banded"),
        "operators.pipeline.dup_groups_s": calls("operators.pipeline.dup_groups"),
        "operators.pipeline.curation_v2_s": calls("operators.pipeline.curation_v2"),
        "operators.similarity.embedding_dup_groups_s":
            calls("operators.similarity.embedding_dup_groups"),
        "operators.dedup.lsh_candidate_pairs": median([c.get("lsh_candidate_pairs") for c in cyc]),
        "operators.dedup.verified_pairs": median([c.get("verified_pairs") for c in cyc]),
        "operators.dedup.lsh_precision": median([c.get("lsh_precision") for c in cyc]),
        "operators.dedup.repeat_call_ratio": median([c.get("repeat_call_ratio") for c in cyc]),
        "operators.pipeline.cc_jobs": median(
            [inclusive(s, "jobs") for s in by_name("operators.pipeline.dup_groups")]),
        "spark.shuffle_write_bytes_per_suite": median([a["shuffle"] for a in suites.values()]),
        "spark.spill_bytes_per_suite": median([a["spill"] for a in suites.values()]),
        "spark.tasks_per_suite": median([a["tasks"] for a in suites.values()]),
        "operators.pipeline.planted_doc_recall":
            median([c.get("planted_doc_recall") for c in cyc]),
        "operators.similarity.planted_vec_recall":
            median([c.get("planted_vec_recall") for c in cyc]),
    }
