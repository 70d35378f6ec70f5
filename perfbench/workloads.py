"""The benchmark workloads. Each drives the engine's public functions from
outside, one cycle at a time, and checks the outputs.

``ingest``  open loop, 1 thread: a seeded telemetry drop is due every
            ``INGEST_INTERVAL_S``; the collector ingests it (routed sink,
            stage close, windowed rollup), then one ``stage_agg_skewness``
            panel reads everything ingested so far, then the drop's routed
            files are compacted into a new directory and swapped in. A
            drop's latency (freshness) runs from its due time, so a stall
            delays the drops behind it. A collector is a long-running
            process, so one drop through every call warms it first.
            The routed sink is compacted every ``COMPACT_EVERY`` drops.
``curation`` closed loop, 1 client: each cycle generates a fresh seeded
            corpus and runs the nightly suite over it (dedup, dup groups,
            curation funnel, embedding dup groups). The suite first runs
            once over a corpus of its own: a cold suite's time is
            mostly JIT and class loading, which varies widely between runs
            and says little about the operators.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from stats import median

PKG = "guidance_for_analytics_observability_on_aws_spark"

DROP_RECORDS = 25_000
DROP_SPAN_US = 3_600_000_000  # each drop covers one hour of event time
# About 1.5x one drop's cycle on a 4-core host: a slower host or a slower
# build still keeps up, so a drop's freshness is its own cycle, not a
# backlog that grows with the run's length.
INGEST_INTERVAL_S = 10.0
COMPACT_EVERY = 2
CORPUS_DOCS = 500


class Failures:
    """Counts attempted and failed operations; a failed output check or an
    exception both count as a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(what)


def _sorted_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class Ingest:
    name = "ingest"
    item_key = "records"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.drops: list[dict] = []
        self.gen_id = 0  # drops compacted so far; the live sink is sink/g{gen_id}
        self.comp_dirs: list[str] = []
        self.landed_events = []
        self.route_truth = {"logs": 0, "taskMetrics": 0}
        self.gen_truth = {"logs": 0, "taskMetrics": 0}  # routed into the live sink

    # -- inputs ----------------------------------------------------------
    def _drop_events(self, i: int):
        return gen.events_table(
            self.seed, DROP_RECORDS, first_id=i * DROP_RECORDS,
            t0_us=gen.EPOCH_2024_US + i * DROP_SPAN_US, span_us=DROP_SPAN_US,
            stream=i)

    def _land(self, root: str, i: int, events) -> str:
        d = f"{root}/drop={i:05d}"
        gen.write_table(events, f"{d}/events.parquet")
        return d

    # -- engine calls ----------------------------------------------------
    def setup(self, spark, tracer):
        from importlib import import_module

        self.col = import_module(f"{PKG}.streaming.collector")
        self.obs = import_module(f"{PKG}.operators.observability")
        self.compaction = import_module(f"{PKG}.sources.compaction")
        self.telemetry = import_module(f"{PKG}.sources.telemetry")
        self.spark, self.tracer = spark, tracer
        # Warm-up: one drop of its own through every call.
        ev = gen.events_table(self.seed, DROP_RECORDS, stream=10_000)
        w = f"{self.work}/warmup"
        d = self._land(f"{w}/land", 0, ev)
        self.col.run_collector_pipeline(spark, f"{w}/land", out_dir=f"{w}/sink").collect()
        self.col.run_streaming_stage_agg(spark, d, out_dir=f"{w}/stage").collect()
        self.col.run_windowed_rollup(spark, d).collect()
        routed = spark.read.parquet(f"{w}/sink/routed")
        self.obs.stage_agg_skewness(routed).collect()
        self.compaction.compact_dataset(spark, f"{w}/sink/routed", f"{w}/comp",
                                        partition_cols=["metrics_type"])

    def _sink_frame(self):
        from functools import reduce

        live = f"{self.work}/sink/g{self.gen_id}/routed"
        paths = self.comp_dirs + ([live] if os.path.isdir(live) else [])
        frames = [self.spark.read.parquet(p) for p in paths]
        return reduce(lambda a, b: a.unionByName(b), frames)

    def run(self, seconds: float, fails: Failures) -> list[dict]:
        t0 = time.perf_counter()
        tr = self.tracer
        i = 0
        while True:
            offset = i * INGEST_INTERVAL_S
            if offset >= seconds:
                break
            due = t0 + offset
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            tr.cycle = i
            rec = {"cycle": i, "due_s": offset}
            with tr.span("bench.generate_drop"):
                ev = self._drop_events(i)
                land = f"{self.work}/land/g{self.gen_id}"
                drop_dir = self._land(land, i, ev)
            rec["landed_s"] = time.perf_counter() - t0
            rec["generator_late_s"] = max(0.0, time.perf_counter() - due)
            rec["drop_bytes"] = os.path.getsize(f"{drop_dir}/events.parquet")
            self.landed_events.append(ev)
            for k, v in gen.route_counts(ev).items():
                self.route_truth[k] += v
                self.gen_truth[k] += v
            # The routing summary counts the whole live sink.
            truth = dict(self.gen_truth)
            try:
                sink = f"{self.work}/sink/g{self.gen_id}"
                fails.attempted += 1
                with tr.span("streaming.collector.route", blocking=True) as s:
                    routes = {r["metrics_type"]: r["n_records"] for r in
                              self.col.run_collector_pipeline(self.spark, land, out_dir=sink).collect()}
                rec["route_s"] = s.dur
                fails.check(routes == truth, f"drop {i}: routes {routes} != {truth}")
                fails.attempted += 1
                with tr.span("streaming.collector.stage_close", blocking=True) as s:
                    stage_rows = self.col.run_streaming_stage_agg(
                        self.spark, drop_dir, out_dir=f"{self.work}/stage/{i}").collect()
                rec["stage_close_s"] = s.dur
                fails.check(sum(r["n_tasks"] for r in stage_rows) == DROP_RECORDS,
                            f"drop {i}: stage close lost tasks")
                fails.attempted += 1
                with tr.span("streaming.collector.rollup", blocking=True) as s:
                    rollup = self.col.run_windowed_rollup(self.spark, drop_dir).collect()
                rec["rollup_s"] = s.dur
                fails.check(sum(r["n_events"] for r in rollup) == DROP_RECORDS,
                            f"drop {i}: rollup lost events")
                fails.attempted += 1
                with tr.span("operators.observability.stage_agg_skewness", blocking=True) as s:
                    with tr.span("operators.observability.plan"):
                        df = self.obs.stage_agg_skewness(self._sink_frame())
                    with tr.span("operators.observability.exec"):
                        rows = df.collect()
                rec["panel_s"] = s.dur
                rec["freshness_s"] = time.perf_counter() - due
                total = sum(self.route_truth.values())
                fails.check(sum(r["n_tasks"] for r in rows) == total,
                            f"drop {i}: panel does not include the drop")
                rec["sink_files_per_drop"] = (_count_parquet(f"{sink}/routed")
                                              / (i % COMPACT_EVERY + 1))
                if (i + 1) % COMPACT_EVERY == 0:
                    fails.attempted += 1
                    self._compact(rec)
            except Exception as exc:  # a failed call is a failed op, the run goes on
                fails.check(False, f"drop {i}: {type(exc).__name__}: {exc}"[:300])
            rec["records"] = DROP_RECORDS
            self.drops.append(rec)
            i += 1
        return self.drops

    def _compact(self, rec: dict) -> None:
        """Compact the live sink into a new directory and retire it, so the
        next drop starts a new sink with its own checkpoints."""
        src = f"{self.work}/sink/g{self.gen_id}/routed"
        dst = f"{self.work}/comp/g{self.gen_id}"
        in_bytes = sum(os.path.getsize(f"{self.work}/land/g{self.gen_id}/{d}/events.parquet")
                       for d in os.listdir(f"{self.work}/land/g{self.gen_id}"))
        with self.tracer.span("sources.compaction.compact_dataset") as s:
            self.compaction.compact_dataset(self.spark, src, dst, partition_cols=["metrics_type"])
        rec["compact_s"] = s.dur
        rec["compact_bytes_ratio"] = self.compaction.dataset_bytes(dst) / in_bytes
        self.comp_dirs.append(dst)
        shutil.rmtree(f"{self.work}/sink/g{self.gen_id}")
        self.gen_id += 1
        self.gen_truth = {"logs": 0, "taskMetrics": 0}

    def final_check(self, fails: Failures) -> None:
        """The sink's per-route totals equal the generator's, and the panel
        over the sink equals the batch operator over the union of drops."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        fails.attempted += 2
        sink = self._sink_frame()
        routes = {r["metrics_type"]: r["n"] for r in
                  sink.groupBy("metrics_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        fails.check(routes == self.route_truth, f"sink routes {routes} != {self.route_truth}")
        union = f"{self.work}/union"
        gen.write_table(pa.concat_tables(self.landed_events), f"{union}/events.parquet")
        batch = self.obs.stage_agg_skewness(
            self.telemetry.task_metrics(self.spark.read.parquet(union))).collect()
        fails.check(_sorted_rows(self.obs.stage_agg_skewness(sink).collect()) == _sorted_rows(batch),
                    "stage_agg_skewness over the sink != batch operator over the drops")

    def props(self) -> dict:
        return {"drop_records": DROP_RECORDS, "interval_s": INGEST_INTERVAL_S,
                "compact_every": COMPACT_EVERY,
                "drop_bytes_p50": median([d.get("drop_bytes", 0) for d in self.drops]),
                "sink_bytes": sum(self.compaction.dataset_bytes(d) for d in self.comp_dirs)
                if self.comp_dirs else 0}


class Curation:
    name = "curation"
    item_key = "docs"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.corpora: list[dict] = []

    def setup(self, spark, tracer):
        from importlib import import_module

        self.dedup = import_module(f"{PKG}.operators.dedup")
        self.pipeline = import_module(f"{PKG}.operators.pipeline")
        self.similarity = import_module(f"{PKG}.operators.similarity")
        self.tables = import_module(f"{PKG}.sources.tables")
        self.spark, self.tracer = spark, tracer
        t = self.tables.load_tables(spark, self._write_corpus(10_000, CORPUS_DOCS))
        for _name, build in self._suite(t):
            build().collect()

    def _write_corpus(self, stream: int, n: int) -> str:
        docs, self.doc_clusters = gen.documents_table(self.seed, n, stream=stream)
        vecs, self.vec_clusters = gen.embeddings_table(self.seed, n, stream=stream)
        ev = gen.events_table(self.seed, 1, stream=stream)
        d = f"{self.work}/corpus/{stream}"
        self.table_stats = gen.write_dataset(d, ev, docs, vecs)
        return d

    def _suite(self, t: dict):
        docs, emb = t["documents"], t["embeddings"]
        return [
            ("operators.dedup.exact", lambda: self.dedup.dedup_exact(docs)),
            ("operators.dedup.minhash_lsh", lambda: self.dedup.dedup_minhash_lsh(docs)),
            ("operators.dedup.minhash_lsh_repeat", lambda: self.dedup.dedup_minhash_lsh(docs)),
            ("operators.dedup.containment_banded",
             lambda: self.dedup.dedup_containment_banded(docs)),
            ("operators.pipeline.dup_groups", lambda: self.pipeline.dup_groups(docs)),
            ("operators.pipeline.curation_v2", lambda: self.pipeline.curation_pipeline_v2(docs)),
            ("operators.similarity.embedding_dup_groups",
             lambda: self.similarity.embedding_dup_groups(emb)),
        ]

    def run(self, seconds: float, fails: Failures) -> list[dict]:
        t0 = time.perf_counter()
        tr = self.tracer
        i = 0
        while True:
            # A corpus starts only when the previous one's time says it can
            # finish inside the window.
            elapsed = time.perf_counter() - t0
            if self.corpora and elapsed + self.corpora[-1]["cycle_s"] > seconds:
                break
            start_cycle = time.perf_counter()
            tr.cycle = i
            with tr.span("bench.generate_corpus"):
                d = self._write_corpus(i, CORPUS_DOCS)
            rec = {"cycle": i, "docs": CORPUS_DOCS, "calls": {}}
            start = time.perf_counter()
            results = {}
            try:
                with tr.span("sources.load_tables", blocking=True) as s:
                    t = self.tables.load_tables(self.spark, d)
                rec["load_s"] = s.dur
                for name, build in self._suite(t):
                    fails.attempted += 1
                    with tr.span(name, blocking=True) as s:
                        with tr.span(name + ".plan"):
                            df = build()
                        with tr.span(name + ".exec"):
                            results[name] = df.collect()
                    rec["calls"][name] = s.dur
            except Exception as exc:  # a failed call is a failed op, the run goes on
                fails.check(False, f"corpus {i}: {type(exc).__name__}: {exc}"[:300])
            rec["suite_s"] = time.perf_counter() - start
            self._record_quality(rec, results)
            if i == 0 and len(results) == 7:
                self._check_oracles(d, results, fails)
            rec["cycle_s"] = time.perf_counter() - start_cycle
            self.corpora.append(rec)
            i += 1
        return self.corpora

    def _record_quality(self, rec: dict, res: dict) -> None:
        cand = res.get("operators.dedup.minhash_lsh")
        ver = res.get("operators.dedup.containment_banded")
        if cand is not None and ver is not None:
            rec["lsh_candidate_pairs"] = len(cand)
            rec["verified_pairs"] = len(ver)
            rec["lsh_precision"] = len(ver) / len(cand) if cand else None
        calls = rec["calls"]
        if calls.get("operators.dedup.minhash_lsh"):
            rec["repeat_call_ratio"] = (calls.get("operators.dedup.minhash_lsh_repeat", 0)
                                        / calls["operators.dedup.minhash_lsh"])
        groups = res.get("operators.pipeline.dup_groups")
        if groups is not None:
            rec["planted_doc_recall"] = _recall(
                self.doc_clusters, [r["doc_ids"] for r in groups])
        vgroups = res.get("operators.similarity.embedding_dup_groups")
        if vgroups is not None:
            rec["planted_vec_recall"] = _recall(
                self.vec_clusters, [r["vec_ids"] for r in vgroups])

    def _check_oracles(self, d: str, res: dict, fails: Failures) -> None:
        """First corpus: dedup_exact and dedup_minhash_lsh equal their DuckDB
        oracles over the same parquet."""
        import duckdb
        from importlib import import_module

        oracles = import_module(f"{PKG}.plans.dedup_oracles").DEDUP_ORACLES
        con = duckdb.connect()
        try:
            for t in self.tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            for name, key in [("operators.dedup.exact", "dedup_exact"),
                              ("operators.dedup.minhash_lsh", "dedup_minhash_lsh")]:
                fails.attempted += 1
                cur = con.execute(oracles[key])
                cols = [c[0] for c in cur.description]
                want = sorted(tuple(r[cols.index(c)] for c in sorted(cols)) for r in cur.fetchall())
                got = sorted(tuple(r[c] for c in sorted(cols)) for r in res[name])
                fails.check(got == want, f"{key} differs from its DuckDB oracle")
        finally:
            con.close()

    def final_check(self, fails: Failures) -> None:
        pass

    def props(self) -> dict:
        return {"corpus_docs": CORPUS_DOCS, "corpus_vecs": CORPUS_DOCS,
                "tables": {t: self.table_stats[t] for t in ("documents", "embeddings")}
                if self.corpora else {}}


def _recall(clusters: list[list[int]], found_csv: list[str]) -> float | None:
    """Share of planted (root, member) pairs that land in one found group."""
    group_of = {}
    for g, csv in enumerate(found_csv):
        for x in csv.split(","):
            group_of[int(x)] = g
    pairs = [(c[0], m) for c in clusters for m in c[1:]]
    if not pairs:
        return None
    hit = sum(1 for a, b in pairs if a in group_of and group_of.get(a) == group_of.get(b))
    return hit / len(pairs)


def _count_parquet(path: str) -> int:
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


WORKLOADS = {"ingest": Ingest, "curation": Curation}
