"""Spans around every call the benchmark makes into the engine, Spark's own
counts per span, and process/host readings.

With tracing off a span only takes two clock readings, which the workloads
need for their own latencies. With tracing on each span also gets its own
Spark job group; at the end of the run the job ids of every group are read
from the status tracker, and their stages' metrics from the application's
REST API (the endpoint ``sources/live_metrics.py`` reads). Streaming queries
run their micro-batch jobs under a job group named after the query's run id,
so a ``StreamingQueryListener`` maps each run id to the span that started
it and records the query's progress reports. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    cycle: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    run_ids: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its child spans cover."""
    out = {s.id: s.dur for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.dur
    return out


class Tracer:
    """Records spans for one single-threaded workload."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cycle = -1
        self.t0 = time.perf_counter()
        self.wall0 = time.time()
        self.overhead_s = 0.0  # job-group calls and listener callbacks in the run
        self.readout_s = 0.0  # time spent reading Spark's counts afterwards
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._progress: list[dict] = []
        self._run_span: dict[str, int] = {}
        self._listener = None
        if enabled:
            self._listener = _make_listener(self)
            spark.streams.addListener(self._listener)

    def epoch(self, perf: float) -> float:
        """A ``perf_counter`` reading as epoch seconds (Spark's job times)."""
        return self.wall0 + (perf - self.t0)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.cycle, parent, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            t = time.perf_counter()
            s.group = f"pb-{s.id}"
            self.spark.sparkContext.setJobGroup(s.group, name)
            self.overhead_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                outer = self._stack[-1] if self._stack else None
                if outer is not None and outer.group:
                    self.spark.sparkContext.setJobGroup(outer.group, outer.name)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.overhead_s += time.perf_counter() - t

    def _on_query_started(self, run_id: str, t: float) -> None:
        # Called synchronously inside DataStreamWriter.start(), while the
        # span that started the query is the innermost open one.
        with self._lock:
            if self._stack:
                self._run_span[run_id] = self._stack[-1].id
                self._stack[-1].run_ids.append(run_id)
            self.overhead_s += time.perf_counter() - t

    def _on_progress(self, p: dict, t: float) -> None:
        with self._lock:
            self._progress.append(p)
            self.overhead_s += time.perf_counter() - t

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # --- read-out at the end of the run -----------------------------------
    def spark_counts(self) -> dict[int, dict]:
        """Span id → Spark counts of the jobs its own job group (and the
        streaming queries it started) ran. Empty when tracing is off."""
        if not self.enabled:
            return {}
        t = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        span_jobs: dict[int, list[int]] = {}
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(s.group))
            for rid in s.run_ids:
                jobs += list(tracker.getJobIdsForGroup(rid))
            span_jobs[s.id] = jobs
        base = _rest_base(sc)
        app = sc.applicationId
        jobs_by_id = _await_rest_jobs(base, app, {j for js in span_jobs.values() for j in js})
        stages: dict[int, list[dict]] = {}
        for st in _rest(base, f"applications/{app}/stages"):
            if st["status"] == "COMPLETE":
                stages.setdefault(st["stageId"], []).append(st)
        out = {sid: {"jobs": len(jobs), "stages": 0, "tasks": 0, "input_bytes": 0,
                     "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0,
                     "executor_cpu_s": 0.0, "gc_s": 0.0, "job_intervals": []}
               for sid, jobs in span_jobs.items()}
        owner = {j: sid for sid, jobs in span_jobs.items() for j in jobs}
        counted: set[int] = set()
        # A later job that reuses a shuffle lists the earlier job's map stage
        # as skipped; each stage counts once, for the first job that ran it.
        for j in sorted(owner):
            info = jobs_by_id.get(j)
            if info is None:
                continue
            c = out[owner[j]]
            c["job_intervals"].append((info["submissionTime"], info.get("completionTime")))
            for stage_id in info["stageIds"]:
                if stage_id in counted:
                    continue
                counted.add(stage_id)
                for st in stages.get(stage_id, []):
                    c["stages"] += 1
                    c["tasks"] += st["numCompleteTasks"]
                    c["input_bytes"] += st["inputBytes"]
                    c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    c["executor_run_s"] += st["executorRunTime"] / 1e3
                    c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    c["gc_s"] += st["jvmGcTime"] / 1e3
        self.readout_s += time.perf_counter() - t
        return out

    def stream_progress(self) -> dict[int, list[dict]]:
        """Span id → progress reports of the streaming queries it started."""
        with self._lock:
            out: dict[int, list[dict]] = {}
            for p in self._progress:
                sid = self._run_span.get(p["runId"])
                if sid is not None:
                    out.setdefault(sid, []).append(p)
            return out

    def dump(self, path: str, counts: dict[int, dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                c = {k: v for k, v in counts.get(s.id, {}).items() if k != "job_intervals"}
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "cycle": s.cycle, "parent": s.parent,
                    "start_s": s.start - self.t0, "end_s": s.end - self.t0,
                    "self_s": selfs[s.id], "spark": c, "attrs": s.attrs,
                }) + "\n")


def _make_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        # Each callback's time counts as tracing overhead: the started
        # callback blocks start(), and every callback holds the GIL.
        def onQueryStarted(self, event):
            tracer._on_query_started(str(event.runId), time.perf_counter())

        def onQueryProgress(self, event):
            t = time.perf_counter()
            tracer._on_progress(json.loads(event.progress.json), t)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _rest_base(sc) -> str:
    # The UI listens on every interface; talk to it over loopback.
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1"


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
        return json.loads(r.read())


def _await_rest_jobs(base: str, app: str, wanted: set[int], timeout_s: float = 10.0) -> dict:
    """The status store is filled from the listener bus asynchronously;
    wait until every wanted job shows as finished."""
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = {j["jobId"]: j for j in _rest(base, f"applications/{app}/jobs")}
        done = all(j in jobs and jobs[j]["status"] != "RUNNING" for j in wanted)
        if done or time.monotonic() > deadline:
            return jobs
        time.sleep(0.2)


# --- process and host readings -------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and the
    processes it started."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def peak_rss_mb() -> dict:
    """Peak resident set (VmHWM) of this Python process and of the processes
    it started (the Spark JVM), in MB."""
    me = os.getpid()
    py = _status_kb(me, "VmHWM") / 1024
    jvm = sum(_status_kb(p, "VmHWM") for p in _descendants(me)) / 1024
    return {"python_mb": py, "jvm_mb": jvm, "total_mb": py + jvm}


def steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    return int(fields[8]) if len(fields) > 8 else None


def loadavg_1m() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


class HostProbe:
    """Steal jiffies/s and 1-minute load over a run. Recorded only: no run
    is ever dropped or rescaled by these values."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.steal0 = steal_jiffies()
        self.load0 = loadavg_1m()

    def read(self) -> dict:
        dt = time.monotonic() - self.t0
        steal1 = steal_jiffies()
        rate = None
        if self.steal0 is not None and steal1 is not None and dt > 0:
            rate = (steal1 - self.steal0) / dt
        return {"steal_jiffies_per_s": rate, "loadavg_1m_start": self.load0,
                "loadavg_1m_end": loadavg_1m(), "cpus": len(os.sched_getaffinity(0))}
