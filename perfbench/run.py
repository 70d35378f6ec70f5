"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,curation} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, starts a Spark session through the
package's ``get_spark``, sets up and warms the workload, measures for
``--seconds``, checks the outputs, and prints two JSON lines on stdout: the
full run record, then the result line (``correct``, ``attempted``,
``failed``, ``metrics``). ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans (written to ``.perfbench_runs/``) and reports
the per-layer metrics. Exits 2 without a result when the package is absent.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and size
    the session."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    # Two task threads leave the other cores to the Python driver and the
    # JVM's own threads. On a 4-core host, ingest drops took as long with
    # two as with four, used 10% less CPU, and slowed less when the host's
    # neighbours took CPU time.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell')


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from workloads import PKG

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    import gen
    import metrics
    import spans as tracing
    import stats
    from workloads import WORKLOADS, Failures

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    host = tracing.HostProbe()
    wl = WORKLOADS[args.workload](work, args.seed)
    fails = Failures()
    spark = None
    try:
        from guidance_for_analytics_observability_on_aws_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(spark, bool(args.trace))
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t_setup

        tracer.overhead_s = 0.0  # count only what tracing costs inside the window
        t_run, cpu_run = time.perf_counter(), tracing.cpu_s()
        cycles = wl.run(args.seconds, fails)
        run_wall_s = time.perf_counter() - t_run
        run_cpu_s = tracing.cpu_s() - cpu_run
        try:
            wl.final_check(fails)
        except Exception as exc:  # a failed check is reported, not raised
            fails.check(False, f"final check: {type(exc).__name__}: {exc}"[:300])

        rss = tracing.peak_rss_mb()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "setup_s": setup_s, "get_spark_s": get_spark_s,
            "task_slots": spark.sparkContext.defaultParallelism,
            "run_wall_s": run_wall_s, "run_cpu_s": run_cpu_s, "cycles": cycles, "rss": rss,
            "latency": stats.summary(metrics.cycle_latencies(wl, cycles)),
            "inputs": dict(gen.stated_properties(), **wl.props()), "failures": fails.notes,
        }
        if args.trace:
            counts = tracer.spark_counts()
            record["streaming_progress"] = {
                str(k): v for k, v in tracer.stream_progress().items()}
            layers = metrics.per_layer(wl, tracer, counts, record)
            record["layers"] = metrics.annotate(layers, wl.name)
            spans_path = os.path.join(
                ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-spans.jsonl")
            tracer.dump(spans_path, counts)
            record["spans_file"] = os.path.relpath(spans_path, ROOT)
            record["trace_readout_s"] = tracer.readout_s
            out = metrics.select(layers, metrics.PER_LAYER)
        else:
            out = metrics.select(metrics.end_to_end(wl, record), metrics.END_TO_END)
        tracer.close()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["host"] = host.read()
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": fails.failed == 0 and fails.attempted > 0,
        "attempted": max(1, fails.attempted),
        "failed": fails.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
