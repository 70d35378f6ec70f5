"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments, so
one seed always yields byte-identical parquet files. The engine only ever
receives these files; the generator also returns the ground truth that the
output checks and the run record need (route counts, planted clusters,
stated input properties).

Tables follow the schema ``sources.tables.EXPECTED_TYPES`` accepts. The
engine derives task-metric records from ``events`` with ``stage_id =
event_id % 47`` and ``metrics_type = 'logs'`` for ``event_type = 'error'``
(``sources/telemetry.py``); the generator plants its skew through exactly
those columns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_STAGES = 47  # telemetry.task_metrics: stage_id = event_id % 47
EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
EMBED_DIM = 64
N_LABELS = 10
EPOCH_2024_US = 1_704_067_200_000_000

# Stated input properties (each run record repeats them).
STRAGGLER_STAGE_SHARE = 5 / N_STAGES
CONSTANT_STAGE_SHARE = 2 / N_STAGES
STRAGGLER_TASK_SHARE = 0.01
ERROR_SHARE = 0.15
DUP_DOC_SHARE = 0.2
DUP_VEC_SHARE = 0.2


def write_table(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def events_table(seed: int, n: int, first_id: int = 0,
                 t0_us: int = EPOCH_2024_US, span_us: int = 30 * 86_400_000_000,
                 stream: int = 0) -> pa.Table:
    """``n`` event rows with ids ``first_id..first_id+n-1`` spread over
    ``[t0_us, t0_us + span_us)``.

    Per-stage values are heavy-tailed across stages (log-normal stage
    scale) and near-normal within a stage, so ordinary stages land in the
    0.5-0.8 skewness bucket. Planted straggler stages give 1% of their
    tasks a 20-100x value (0.8-1.0 bucket); planted constant stages have
    zero range (0.0-0.1 bucket). The 0.1-0.5 bucket is unreachable by the
    engine's formula (max |x - avg| is at least half the range).
    """
    # Stage roles depend on the seed only, so every drop of one run shares them.
    roles = _rng(seed, 99).permutation(N_STAGES)
    n_strag = round(STRAGGLER_STAGE_SHARE * N_STAGES)
    n_const = round(CONSTANT_STAGE_SHARE * N_STAGES)
    straggler = np.zeros(N_STAGES, bool)
    straggler[roles[:n_strag]] = True
    constant = np.zeros(N_STAGES, bool)
    constant[roles[n_strag:n_strag + n_const]] = True
    stage_scale = _rng(seed, 98).lognormal(3.0, 0.8, N_STAGES)

    rng = _rng(seed, 1, stream)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    stage = ids % N_STAGES
    value = stage_scale[stage] * np.clip(rng.normal(1.0, 0.25, n), 0.05, None)
    strag_rows = straggler[stage] & (rng.random(n) < STRAGGLER_TASK_SHARE)
    value[strag_rows] *= rng.uniform(20, 100, int(strag_rows.sum()))
    value[constant[stage]] = 32.0
    value = np.maximum(np.round(value, 2), 0.01)

    p_other = (1 - ERROR_SHARE) / 4
    etype = rng.choice(len(EVENT_TYPES), n, p=[p_other] * 4 + [ERROR_SHARE])
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    k = pa.array(rng.integers(0, 100, n)).cast(pa.string())
    props = pc.binary_join_element_wise('{"k": ', k, "}", "")
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[etype]),
        "value": pa.array(value),
        "props": props,
    })


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    words.difference_update(STOPWORDS)
    return np.array(sorted(words) + STOPWORDS)


def documents_table(seed: int, n_docs: int, stream: int = 0):
    """``n_docs`` documents (ids 0..n-1) and the planted near-dup clusters.

    ``DUP_DOC_SHARE`` of the documents are edited copies of a cluster root
    (2-4 members per cluster, one token substituted per copy, so 3-shingle
    Jaccard to the root is about 0.9). Returns ``(table, clusters)`` with
    ``clusters`` a list of sorted doc-id lists.
    """
    rng = _rng(seed, 2, stream)
    vocab = _vocab(_rng(seed, 97), 4000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf_p /= zipf_p.sum()
    lens = rng.integers(24, 120, n_docs)
    toks = [rng.choice(len(vocab), n, p=zipf_p) for n in lens]

    order = rng.permutation(n_docs)
    n_dup = int(DUP_DOC_SHARE * n_docs)
    clusters, pos = [], 0
    while pos < n_dup:
        size = int(rng.integers(2, 5))
        members = order[pos:pos + size]
        pos += size
        if len(members) < 2:
            break
        root = toks[members[0]]
        for m in members[1:]:
            copy = root.copy()
            copy[rng.integers(0, len(copy))] = rng.integers(0, len(vocab))
            toks[m] = copy
        clusters.append(sorted(int(m) for m in members))

    text = [" ".join(vocab[t]) for t in toks]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], np.int64)),
    })
    return table, clusters


def embeddings_table(seed: int, n_vecs: int, stream: int = 0):
    """Unit vectors with planted near-duplicate groups (same label, cosine
    above 0.99 to the group root). Returns ``(table, clusters)``."""
    rng = _rng(seed, 3, stream)
    vecs = rng.normal(0, 1, (n_vecs, EMBED_DIM)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    order = rng.permutation(n_vecs)
    n_dup = int(DUP_VEC_SHARE * n_vecs)
    clusters, pos = [], 0
    while pos < n_dup:
        members = order[pos:pos + int(rng.integers(2, 4))]
        pos += len(members)
        if len(members) < 2:
            break
        root = members[0]
        for m in members[1:]:
            vecs[m] = vecs[root] + rng.normal(0, 0.02, EMBED_DIM).astype(np.float32)
            labels[m] = labels[root]
        clusters.append(sorted(int(m) for m in members))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return table, clusters


def _tpch_stub() -> dict[str, pa.Table]:
    """One-row TPC-H tables: ``load_tables`` opens every table of the
    dataset, but no benchmark workload reads these."""
    ts = pa.array([EPOCH_2024_US], pa.timestamp("us"))
    i32 = lambda v: pa.array([v], pa.int32())  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(0), "r_name": ["AFRICA"]}),
        "nation": pa.table({"n_nationkey": i32(0), "n_name": ["N0"],
                            "n_regionkey": i32(0)}),
        "customer": pa.table({"c_custkey": [0], "c_name": ["C0"],
                              "c_nationkey": i32(0), "c_acctbal": [0.0],
                              "c_mktsegment": ["BUILDING"]}),
        "supplier": pa.table({"s_suppkey": [0], "s_name": ["S0"],
                              "s_nationkey": i32(0), "s_acctbal": [0.0]}),
        "part": pa.table({"p_partkey": [0], "p_name": ["P0"], "p_brand": ["B"],
                          "p_type": ["T"], "p_size": i32(1),
                          "p_retailprice": [1.0]}),
        "orders": pa.table({"o_orderkey": [0], "o_custkey": [0],
                            "o_orderstatus": ["F"], "o_totalprice": [1.0],
                            "o_orderdate": ts, "o_orderpriority": ["1-URGENT"]}),
        "lineitem": pa.table({"l_orderkey": [0], "l_partkey": [0],
                              "l_suppkey": [0], "l_linenumber": i32(1),
                              "l_quantity": [1.0], "l_extendedprice": [1.0],
                              "l_discount": [0.0], "l_tax": [0.0],
                              "l_returnflag": ["N"], "l_linestatus": ["O"],
                              "l_shipdate": ts}),
    }


def write_dataset(out_dir: str, events: pa.Table, documents: pa.Table,
                  embeddings: pa.Table) -> dict:
    """Write one complete dataset directory; returns rows/bytes per table."""
    tables = dict(_tpch_stub(), events=events, documents=documents,
                  embeddings=embeddings)
    return {
        name: {"rows": t.num_rows, "bytes": write_table(t, f"{out_dir}/{name}.parquet")}
        for name, t in tables.items()
    }


def route_counts(events: pa.Table) -> dict[str, int]:
    """Records per collector route (``metrics_type``) for ``events``."""
    n_err = pc.sum(pc.equal(events["event_type"], "error")).as_py() or 0
    return {"logs": n_err, "taskMetrics": events.num_rows - n_err}


def stated_properties() -> dict:
    return {
        "straggler_stage_share": STRAGGLER_STAGE_SHARE,
        "constant_stage_share": CONSTANT_STAGE_SHARE,
        "straggler_task_share_in_straggler_stages": STRAGGLER_TASK_SHARE,
        "error_log_record_share": ERROR_SHARE,
        "planted_near_dup_doc_share": DUP_DOC_SHARE,
        "planted_near_dup_vec_share": DUP_VEC_SHARE,
    }
