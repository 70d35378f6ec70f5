"""DuckDB oracle SQL for dedup/similarity (group D).

Programmatically generated from the same constants the Spark operators use
(``functions/hashing.py``, ``functions/vectors.py``) so both engines run the
identical integer-hash arithmetic.
"""

from ..functions.hashing import (
    MINHASH_AB,
    MINHASH_BANDS,
    MINHASH_P,
    MINHASH_ROWS,
    md5_int_sql,
)
from ..functions.text import CORPUS_CTE, SHINGLES_SQL
from ..operators.dedup import (
    CDC_DIVISOR,
    CDC_W,
    PARA_KEY,
    PARA_TOKENS,
    SPAN_B1,
    SPAN_B2,
    SPAN_M1,
    SPAN_M2,
)
from ..functions.vectors import QUANTIZE_SQL, SQ_NORM_SQL, dot_sql

DEDUP_ORACLES: dict[str, str] = {}

_GROUP_TAIL = """
SELECT {key},
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM {src}
GROUP BY 1
HAVING COUNT(*) >= 2
"""

DEDUP_ORACLES["dedup_exact"] = f"""
WITH {CORPUS_CTE},
hashed AS (SELECT md5(text) AS fingerprint, doc_id FROM corpus)
{_GROUP_TAIL.format(key="fingerprint", src="hashed")}
"""

_SHINGLED_CTES = f"""
WITH {CORPUS_CTE},
ctoks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
),
shingled AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh
  FROM ctoks WHERE len(toks) >= 3
)
"""

# Shared pair/size CTE scaffolding for D2 (Jaccard) and D14 (containment) —
# one definition so the join/size semantics cannot diverge (mirrors
# operators/dedup.py::_shingle_pair_intersections).
_PAIR_SIZE_CTES = f"""
{_SHINGLED_CTES},
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection_size
  FROM exploded a
  JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

DEDUP_ORACLES["dedup_ngram_jaccard"] = f"""
{_PAIR_SIZE_CTES}
SELECT doc_a, doc_b,
       CAST(intersection_size AS BIGINT) AS intersection_size,
       sa.sz AS size_a, sb.sz AS size_b,
       intersection_size / (sa.sz + sb.sz - intersection_size) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE intersection_size / (sa.sz + sb.sz - intersection_size) >= 0.8
"""

_MINHASH_MINS = ",\n         ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_AB)
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, CAST({j} AS BIGINT) AS band_id, md5({concat}) AS band_hash FROM sig".format(
        j=j,
        concat=" || '-' || ".join(
            f"CAST(mh{j * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
        ),
    )
    for j in range(MINHASH_BANDS)
)

# CTE chain ending in per-doc LSH band buckets — shared by the D3 oracle and
# the pipeline group's dup_groups (connected components) oracle.
MINHASH_BUCKET_CTES = f"""
{_SHINGLED_CTES},
hashed AS (
  SELECT doc_id, {md5_int_sql("shingle", 7)} AS h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM shingled)
),
sig AS (
  SELECT doc_id,
         {_MINHASH_MINS}
  FROM hashed GROUP BY 1
),
buckets AS (
{_BAND_SELECTS}
)"""

DEDUP_ORACLES["dedup_minhash_lsh"] = f"""
{MINHASH_BUCKET_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(DISTINCT a.band_id) AS n_shared_bands
FROM buckets a
JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (h16 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(16)
)
_SIM_EXPR = " + ".join(f"CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(16))

DEDUP_ORACLES["dedup_simhash"] = f"""
WITH {CORPUS_CTE},
tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS token
  FROM corpus
),
hashed AS (SELECT doc_id, {md5_int_sql("token", 4)} AS h16 FROM tok),
bits AS (
  SELECT doc_id,
         {_BIT_SUMS}
  FROM hashed GROUP BY 1
),
sh AS (SELECT doc_id, CAST({_SIM_EXPR} AS BIGINT) AS simhash FROM bits)
{_GROUP_TAIL.format(key="simhash", src="sh")}
"""

_QUANT_CTES = f"""
WITH vecs AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 25 = 0
),
q AS (
  SELECT vec_id, label, {QUANTIZE_SQL} AS qv FROM vecs
),
norms AS (
  SELECT vec_id, label, qv, {SQ_NORM_SQL} AS nrm FROM q
)
"""

DEDUP_ORACLES["dedup_embedding_cosine"] = f"""
{_QUANT_CTES},
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND({dot_sql("a.qv", "b.qv")} /
               sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)), 6) AS cosine
  FROM norms a
  JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.98
"""

_BASE_QUANT_CTES = f"""
WITH q AS (
  SELECT vec_id, label, {QUANTIZE_SQL} AS qv FROM embeddings
),
norms AS (
  SELECT vec_id, label, qv, {SQ_NORM_SQL} AS nrm FROM q
)
"""

DEDUP_ORACLES["similarity_topk_bruteforce"] = f"""
{_BASE_QUANT_CTES},
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM norms qs
  JOIN norms c ON qs.vec_id != c.vec_id
  WHERE qs.vec_id < 8
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
"""

DEDUP_ORACLES["similarity_ivf"] = f"""
{_BASE_QUANT_CTES},
centroids AS (
  SELECT vec_id AS cent_id, qv AS cent_qv, nrm AS cent_nrm FROM norms WHERE vec_id < 8
),
cent_scored AS (
  SELECT n.vec_id, c.cent_id,
         ROUND({dot_sql("n.qv", "c.cent_qv")} /
               sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cent_nrm AS DOUBLE)), 6) AS c_cos
  FROM norms n CROSS JOIN centroids c
),
assign AS (
  SELECT vec_id, cent_id AS cell_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn
    FROM cent_scored
  ) WHERE rn = 1
),
cells AS (
  SELECT n.vec_id, n.qv, n.nrm, a.cell_id FROM norms n JOIN assign a USING (vec_id)
),
scored AS (
  SELECT qs.vec_id AS query_id, qs.cell_id, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM cells qs
  JOIN cells c ON qs.cell_id = c.cell_id AND qs.vec_id != c.vec_id
  WHERE qs.vec_id >= 8 AND qs.vec_id < 24
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked_src
)
SELECT query_id, cell_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 3
"""

DEDUP_ORACLES["similarity_ivf"] = DEDUP_ORACLES["similarity_ivf"].replace(
    "FROM ranked_src", "FROM scored"
)

DEDUP_ORACLES["similarity_ann_lsh"] = f"""
{_BASE_QUANT_CTES},
anchors AS (
  SELECT vec_id AS bit_idx, qv AS a_qv FROM norms WHERE vec_id < 6
),
sigs AS (
  SELECT n.vec_id,
         CAST(SUM(CASE WHEN {dot_sql("n.qv", "a.a_qv")} >= 0 THEN 1 ELSE 0 END
              * CAST(POWER(2, a.bit_idx) AS BIGINT)) AS BIGINT) AS sig
  FROM norms n CROSS JOIN anchors a
  GROUP BY 1
),
bucketed AS (
  SELECT n.vec_id, n.qv, n.nrm, s.sig FROM norms n JOIN sigs s USING (vec_id)
),
scored AS (
  SELECT qs.vec_id AS query_id, qs.sig, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM bucketed qs
  JOIN bucketed c ON qs.sig = c.sig AND qs.vec_id != c.vec_id
  WHERE qs.vec_id >= 100 AND qs.vec_id < 116
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, sig, neighbor_id, rank, cosine FROM ranked WHERE rank <= 3
"""

DEDUP_ORACLES["embedding_centroids"] = f"""
WITH q AS (
  SELECT label, {QUANTIZE_SQL} AS qv FROM embeddings
),
exploded AS (
  SELECT label, unnest(qv) AS qval,
         CAST(generate_subscripts(qv, 1) AS BIGINT) AS dim
  FROM q
)
SELECT label, dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(qval) AS BIGINT) AS sum_q,
       CAST(SUM(qval) AS BIGINT) / COUNT(*) AS centroid_q
FROM exploded GROUP BY 1, 2
"""

DEDUP_ORACLES["similarity_knn_classify"] = f"""
WITH knn AS ({DEDUP_ORACLES["similarity_topk_bruteforce"]}),
votes AS (
  SELECT k.query_id, e.label AS neighbor_label, COUNT(*) AS n_votes
  FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
  GROUP BY 1, 2
),
best AS (
  SELECT query_id, neighbor_label AS predicted_label, n_votes
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY n_votes DESC, neighbor_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT b.query_id, b.predicted_label, b.n_votes,
       e.label AS true_label,
       b.predicted_label = e.label AS correct
FROM best b JOIN embeddings e ON e.vec_id = b.query_id
"""

DEDUP_ORACLES["similarity_ivf_multiprobe"] = f"""
{_BASE_QUANT_CTES},
centroids AS (
  SELECT vec_id AS cent_id, qv AS cent_qv, nrm AS cent_nrm FROM norms WHERE vec_id < 8
),
cent_scored AS (
  SELECT n.vec_id, c.cent_id,
         ROUND({dot_sql("n.qv", "c.cent_qv")} /
               sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cent_nrm AS DOUBLE)), 6) AS c_cos,
         ROW_NUMBER() OVER (PARTITION BY n.vec_id
                            ORDER BY ROUND({dot_sql("n.qv", "c.cent_qv")} /
                              sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cent_nrm AS DOUBLE)), 6) DESC,
                            c.cent_id) AS rn
  FROM norms n CROSS JOIN centroids c
),
assign AS (SELECT vec_id, cent_id AS cell_id FROM cent_scored WHERE rn = 1),
probes AS (SELECT vec_id, cent_id AS probe_cell FROM cent_scored WHERE rn <= 2),
cells AS (
  SELECT n.vec_id, n.qv, n.nrm, a.cell_id FROM norms n JOIN assign a USING (vec_id)
),
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM cells qs
  JOIN probes p ON p.vec_id = qs.vec_id
  JOIN cells c ON p.probe_cell = c.cell_id AND qs.vec_id != c.vec_id
  WHERE qs.vec_id >= 8 AND qs.vec_id < 24
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 3
"""

DEDUP_ORACLES["dedup_containment"] = f"""
{_PAIR_SIZE_CTES}
SELECT doc_a, doc_b,
       CAST(intersection_size AS BIGINT) AS intersection_size,
       sa.sz AS size_a, sb.sz AS size_b,
       intersection_size / sa.sz AS containment_a,
       intersection_size / sb.sz AS containment_b
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE GREATEST(intersection_size / sa.sz, intersection_size / sb.sz) >= 0.9
"""

# D15: exact scoring pruned to the LSH candidate pairs — the oracle runs the
# SAME banding arithmetic (MINHASH_BUCKET_CTES) to form candidates, then the
# same exact pair scoring as D2/D14, intersected. The all-pairs `pairs` CTE
# is fine for the oracle (DuckDB at sf0.01); the Spark side is the one that
# prunes before scoring. The chain ends in `banded_pairs` (the surviving
# verified pairs) so the curation-funnel oracle (P11) can reuse it as its
# dup graph.
BANDED_PAIR_CTES = f"""
{MINHASH_BUCKET_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection_size
  FROM exploded a
  JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
banded_scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(p.intersection_size AS BIGINT) AS intersection_size,
         sa.sz AS size_a, sb.sz AS size_b,
         p.intersection_size / (sa.sz + sb.sz - p.intersection_size) AS jaccard,
         p.intersection_size / sa.sz AS containment_a,
         p.intersection_size / sb.sz AS containment_b
  FROM pairs p
  JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
),
banded_pairs AS (
  SELECT doc_a, doc_b FROM banded_scored
  WHERE jaccard >= 0.8 OR GREATEST(containment_a, containment_b) >= 0.9
)"""

# The final SELECT consumes banded_pairs (not a re-stated predicate) so the
# survivor definition lives in exactly ONE place for D15 and P11 alike.
DEDUP_ORACLES["dedup_containment_banded"] = f"""
{BANDED_PAIR_CTES}
SELECT bs.doc_a, bs.doc_b, bs.intersection_size, bs.size_a, bs.size_b,
       bs.jaccard, bs.containment_a, bs.containment_b
FROM banded_scored bs
JOIN banded_pairs USING (doc_a, doc_b)
"""


def closure_ctes(pair_cte: str) -> str:
    """edges/reach/labels connected-components CTE trio over a named pair
    CTE with (doc_a, doc_b) columns — ONE definition of the transitive
    closure + component-minimum label rule (what ``pipeline.dup_labels``
    emits on the Spark side), consumed by the P4/P5 (mh_pairs), P11
    (banded_pairs) and D16 (cos_pairs) oracles. Requires the enclosing
    WITH to be RECURSIVE."""
    return f""",
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM {pair_cte}
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM {pair_cte}
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src, LEAST(src, MIN(dst)) AS group_id FROM reach GROUP BY src
)"""

# D16: connected components over the D5 cosine pair graph — same recursive
# transitive-closure pattern as the pipeline group's dup_groups oracle.
DEDUP_ORACLES["embedding_dup_groups"] = (
    _QUANT_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
cos_pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM norms a
  JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND({dot_sql("a.qv", "b.qv")} /
              sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)), 6) >= 0.98
)"""
    + closure_ctes("cos_pairs")
    + """
SELECT group_id,
       group_id AS keep_vec_id,
       COUNT(*) AS n_vecs,
       array_to_string(list_sort(list(src)), ',') AS vec_ids
FROM labels GROUP BY 1 HAVING COUNT(*) >= 2
"""
)

_MH_MATCH = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(len(MINHASH_AB))
)

DEDUP_ORACLES["dedup_minhash_estimate"] = f"""
{MINHASH_BUCKET_CTES},
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(DISTINCT a.band_id) AS n_shared_bands
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_a, c.doc_b, c.n_shared_bands,
         CAST({_MH_MATCH} AS BIGINT) AS n_matching
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_shared_bands, n_matching,
       n_matching / {len(MINHASH_AB)} AS est_jaccard
FROM scored
WHERE n_matching >= 13
"""


# D43: the whole MinHash chain re-keyed at paragraph granularity — same
# _MINHASH_MINS/_BAND_SELECTS building blocks over ptoks windows, then the
# exact D2 pair/size arithmetic restricted to cross-document candidates and
# a per-document dup-mass rollup (mirrors operators/dedup.py::
# dedup_paragraph_minhash).
_PARA_MINHASH_CTES = f"""
WITH {CORPUS_CTE},
ctoks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
),
para AS (
  SELECT doc_id * {PARA_KEY} + i AS doc_id,
         toks[(i-1)*{PARA_TOKENS}+1 : i*{PARA_TOKENS}] AS toks
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1,
             GREATEST(CAST(CEIL(len(toks) / {PARA_TOKENS}.0) AS INTEGER), 1)
           )) AS i
    FROM ctoks
  )
  WHERE len(toks[(i-1)*{PARA_TOKENS}+1 : i*{PARA_TOKENS}]) >= 3
),
shingled AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM para
),
hashed AS (
  SELECT doc_id, {md5_int_sql("shingle", 7)} AS h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM shingled)
),
sig AS (
  SELECT doc_id,
         {_MINHASH_MINS}
  FROM hashed GROUP BY 1
),
buckets AS (
{_BAND_SELECTS}
)"""

DEDUP_ORACLES["dedup_paragraph_minhash"] = f"""
{_PARA_MINHASH_CTES},
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
  WHERE a.doc_id // {PARA_KEY} != b.doc_id // {PARA_KEY}
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
cpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isz
  FROM exploded a
  JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT doc_a, doc_b
  FROM cpairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE isz / (sa.sz + sb.sz - isz) >= 0.8
),
dup_pids AS (
  SELECT DISTINCT pid FROM (
    SELECT doc_a AS pid FROM verified
    UNION ALL
    SELECT doc_b AS pid FROM verified
  )
),
pstats AS (
  SELECT doc_id // {PARA_KEY} AS doc, doc_id AS pid,
         CAST(len(toks) AS BIGINT) AS p_tokens
  FROM para
)
SELECT p.doc AS doc_id,
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN d.pid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_paras,
       CAST(SUM(p_tokens) AS BIGINT) AS para_tokens,
       CAST(SUM(CASE WHEN d.pid IS NOT NULL THEN p_tokens ELSE 0 END)
         AS BIGINT) AS dup_tokens,
       SUM(CASE WHEN d.pid IS NOT NULL THEN p_tokens ELSE 0 END)
         / SUM(p_tokens) AS dup_frac
FROM pstats p
LEFT JOIN dup_pids d ON d.pid = p.pid
GROUP BY 1
HAVING SUM(CASE WHEN d.pid IS NOT NULL THEN 1 ELSE 0 END) >= 1
"""


DEDUP_ORACLES["mm_dedup_exact"] = f"""
WITH {CORPUS_CTE},
hashed AS (
  SELECT doc_id,
         CASE WHEN {md5_int_sql("text", 4)} % 3 = 0 THEN 'image'
              WHEN {md5_int_sql("text", 4)} % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         md5(text) AS payload_md5,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM corpus
)
SELECT modality, payload_md5,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keep_doc_id,
       MAX(byte_len) AS payload_bytes,
       CAST((COUNT(*) - 1) * MAX(byte_len) AS BIGINT) AS reclaimable_bytes
FROM hashed
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

DEDUP_ORACLES["similarity_range_search"] = f"""
{_QUANT_CTES},
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM norms qs
  JOIN norms c ON qs.vec_id != c.vec_id
  WHERE qs.vec_id < 8
)
SELECT query_id, neighbor_id, cosine,
       COUNT(*) OVER (PARTITION BY query_id) AS n_in_range
FROM scored
WHERE cosine >= 0.3
"""

# D24: scalar-quantized (SQ8) search — the codec, codes and the integer
# ranking surrogate d2q = Σ((c_a−c_b)·rng)² mirror the builder exactly
# (min/max "training" and `//` floor-division are engine-portable BIGINT
# arithmetic; two equal-length unnests zip row-wise in DuckDB).
DEDUP_ORACLES["similarity_sq8"] = f"""
{_QUANT_CTES},
dims AS (
  SELECT vec_id,
         unnest(generate_series(1, len(qv))) - 1 AS dim,
         unnest(qv) AS val
  FROM norms
),
stats AS (
  SELECT dim, MIN(val) AS mn, MAX(val) AS mx,
         CASE WHEN MAX(val) = MIN(val) THEN 1
              ELSE MAX(val) - MIN(val) END AS rng
  FROM dims GROUP BY 1
),
coded AS (
  SELECT d.vec_id,
         list(CAST((d.val - s.mn) * 255 AS BIGINT) // s.rng
              ORDER BY d.dim) AS codes
  FROM dims d JOIN stats s USING (dim)
  GROUP BY 1
),
rngs AS (
  SELECT list(rng ORDER BY dim) AS rngs FROM stats
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(
           generate_series(1, len(q.codes)),
           i -> (q.codes[i] - c.codes[i]) * (q.codes[i] - c.codes[i])
                * r.rngs[i] * r.rngs[i]
         )) AS BIGINT) AS d2q
  FROM coded q
  JOIN coded c ON q.vec_id != c.vec_id
  CROSS JOIN rngs r
  WHERE q.vec_id < 8
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY d2q, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, d2q FROM ranked WHERE rank <= 5
"""

# D25: Hamming-distance SimHash pairs — 64-bit signature carried as TWO
# non-negative 32-bit halves (lo = md5 hex chars 9-16, hi = chars 1-8;
# a single 64-bit value would need a signed BIGINT's sign bit), 4×16-bit
# pigeonhole-complete bands, exact two-half popcount verdict; mirrors
# operators/dedup.py::dedup_simhash_hamming bit-for-bit.
_BIT_SUMS_64 = ",\n         ".join(
    f"SUM(CASE WHEN (h_{half} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS {pre}{i}"
    for half, pre in (("lo", "l"), ("hi", "u"))
    for i in range(32)
)
_SIM_LO_EXPR = " + ".join(
    f"CASE WHEN l{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(32)
)
_SIM_HI_EXPR = " + ".join(
    f"CASE WHEN u{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(32)
)

DEDUP_ORACLES["dedup_simhash_hamming"] = f"""
WITH {CORPUS_CTE},
tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS token
  FROM corpus
),
hashed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS h_lo,
         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h_hi
  FROM tok
),
bits AS (
  SELECT doc_id,
         {_BIT_SUMS_64}
  FROM hashed GROUP BY 1
),
sh AS (
  SELECT doc_id,
         CAST({_SIM_LO_EXPR} AS BIGINT) AS simhash_lo,
         CAST({_SIM_HI_EXPR} AS BIGINT) AS simhash_hi
  FROM bits
),
bands AS (
  SELECT doc_id, simhash_lo, simhash_hi,
         unnest([0, 1, 2, 3]) AS band,
         unnest([(simhash_lo >> 0) & 65535, (simhash_lo >> 16) & 65535,
                 (simhash_hi >> 0) & 65535, (simhash_hi >> 16) & 65535]) AS band_val
  FROM sh
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
         MIN(a.simhash_lo) AS lo_a, MIN(a.simhash_hi) AS hi_a,
         MIN(b.simhash_lo) AS lo_b, MIN(b.simhash_hi) AS hi_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_bands,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
"""

# D26: KMV cross-source overlap — two-phase k-minimum exactly as the
# builder (256 high-bit buckets, then the bounded re-rank), same md5
# hash, same correctly-rounded double estimate expressions.
DEDUP_ORACLES["docs_kmv_overlap"] = f"""
WITH {CORPUS_CTE},
ctoks AS (
  SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS toks
  FROM corpus
),
shingled AS (
  SELECT doc_id, source, {SHINGLES_SQL} AS sh
  FROM ctoks WHERE len(toks) >= 3
),
sh_rows AS (SELECT source, unnest(sh) AS shingle FROM shingled),
hashes AS (
  SELECT DISTINCT source, {md5_int_sql("shingle", 13)} AS h FROM sh_rows
),
part AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source, h // 17592186044416
                              ORDER BY h) AS rn
    FROM hashes)
  WHERE rn <= 128
),
sketch AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM part)
  WHERE rn <= 128
),
srcs AS (SELECT DISTINCT source FROM sketch),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a, srcs b WHERE a.source < b.source
),
per_h AS (
  SELECT source_a, source_b, h,
         MAX(CASE WHEN s.source = source_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = source_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs JOIN sketch s ON s.source = source_a OR s.source = source_b
  GROUP BY 1, 2, 3
),
u AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                 ORDER BY h) AS rn
    FROM per_h)
  WHERE rn <= 128
),
agg AS (
  SELECT source_a, source_b,
         CAST(COUNT(*) AS BIGINT) AS k_used,
         MAX(h) AS theta_hash,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_matches
  FROM u GROUP BY 1, 2
)
SELECT source_a, source_b, k_used, theta_hash, n_matches,
       CASE WHEN k_used < 128 THEN CAST(k_used AS DOUBLE)
            ELSE CAST(127 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(theta_hash AS DOUBLE)
       END AS union_est,
       CAST(n_matches AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
       (CAST(n_matches AS DOUBLE) / CAST(k_used AS DOUBLE)) *
       (CASE WHEN k_used < 128 THEN CAST(k_used AS DOUBLE)
             ELSE CAST(127 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(theta_hash AS DOUBLE)
        END) AS inter_est
FROM agg
"""


# D27: ANN recall eval. The three graded searchers' FULL oracle statements
# (the same SQL the driver checks them with) are embedded verbatim; the
# brute-force truth is re-derived at each searcher's own (k, window)
# settings from the same CTE scaffolding as the D6 oracle.
def _bf_truth_sql(k: int, q_lo: int, q_hi: int) -> str:
    return f"""
{_BASE_QUANT_CTES},
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({dot_sql("qs.qv", "c.qv")} /
               sqrt(CAST(qs.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)), 6) AS cosine
  FROM norms qs
  JOIN norms c ON qs.vec_id != c.vec_id
  WHERE qs.vec_id >= {q_lo} AND qs.vec_id < {q_hi}
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k}
"""


def _d27_eval_oracle() -> str:
    bf_ivf = _bf_truth_sql(3, 8, 24)
    bf_lsh = _bf_truth_sql(3, 100, 116)
    ivf = DEDUP_ORACLES["similarity_ivf"]
    mp = DEDUP_ORACLES["similarity_ivf_multiprobe"]
    lsh = DEDUP_ORACLES["similarity_ann_lsh"]
    return f"""
WITH truth_a AS (SELECT query_id, neighbor_id FROM ({bf_ivf}) t),
truth_b AS (SELECT query_id, neighbor_id FROM ({bf_lsh}) t),
pred_ivf AS (SELECT query_id, neighbor_id FROM ({ivf}) t),
pred_mp AS (SELECT query_id, neighbor_id FROM ({mp}) t),
pred_lsh AS (SELECT query_id, neighbor_id FROM ({lsh}) t),
m AS (
  SELECT 'ivf' AS method,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pred_ivf) AS n_pred,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth_a) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM pred_ivf JOIN truth_a USING (query_id, neighbor_id)) AS n_hits
  UNION ALL
  SELECT 'ivf_multiprobe',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pred_mp),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth_a),
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM pred_mp JOIN truth_a USING (query_id, neighbor_id))
  UNION ALL
  SELECT 'ann_lsh',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pred_lsh),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth_b),
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM pred_lsh JOIN truth_b USING (query_id, neighbor_id))
)
SELECT method, n_pred, n_truth, n_hits,
       CASE WHEN n_truth = 0 THEN NULL ELSE n_hits / n_truth END AS recall,
       CASE WHEN n_pred = 0 THEN NULL ELSE n_hits / n_pred END AS precision
FROM m
"""


DEDUP_ORACLES["similarity_eval_report"] = _d27_eval_oracle()


# D29: content-defined chunking — same mod-P polynomial window hash with
# per-term reduction, same cumulative boundary chunking, same md5 span
# fingerprints as the builder.
DEDUP_ORACLES["dedup_cdc_chunks"] = f"""
WITH {CORPUS_CTE},
base AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
  WHERE len(regexp_split_to_array(text, '\\s+')) >= 3
),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
  FROM base
),
tokpos AS (
  SELECT doc_id, pos, toks[pos] AS token,
         {md5_int_sql("toks[pos]", 7)} AS th
  FROM pos
),
lagged AS (
  SELECT doc_id, pos, token, th,
         LAG(th, 1) OVER w AS l1,
         LAG(th, 2) OVER w AS l2,
         LAG(th, 3) OVER w AS l3
  FROM tokpos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN pos >= {CDC_W} AND (
             (th % 2147483647)
             + (COALESCE(l1, 0) * 1000003) % 2147483647
             + (COALESCE(l2, 0) * 1426104154) % 2147483647
             + (COALESCE(l3, 0) * 1049561761) % 2147483647
           ) % 2147483647 % {CDC_DIVISOR} = 0
         THEN 1 ELSE 0 END AS is_boundary
  FROM lagged
),
chunked AS (
  SELECT doc_id, pos, token,
         COALESCE(SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_idx
  FROM flagged
),
spans AS (
  SELECT doc_id, chunk_idx, string_agg(token, ' ' ORDER BY pos) AS span
  FROM chunked GROUP BY 1, 2
),
fps AS (
  SELECT DISTINCT doc_id, {md5_int_sql("span", 13)} AS fp FROM spans
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM fps GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT doc_a, doc_b, n_shared_chunks,
       sa.sz AS n_a, sb.sz AS n_b,
       n_shared_chunks / CAST(sa.sz AS DOUBLE) AS containment_a,
       n_shared_chunks / CAST(sb.sz AS DOUBLE) AS containment_b
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


# D30: sorted-neighborhood near-dups — global ROW_NUMBER over the 40-char
# normalized-prefix key (skey, doc_id total order mirrors the Spark
# two-phase rank bit-for-bit), rank band 0 < gap < 8 as a literal
# inequality join (DuckDB's planner is fine with non-equi here; the Spark
# side rewrites it to the bucket equi-join), exact Jaccard via
# list_intersect with the threshold cross-multiplied in integers.
DEDUP_ORACLES["dedup_sorted_neighborhood"] = f"""
{_SHINGLED_CTES},
keyed AS (
  SELECT doc_id, substr(array_to_string(toks, ' '), 1, 40) AS skey
  FROM ctoks WHERE len(toks) >= 3
),
ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rn FROM keyed
),
cand AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b,
         CAST(b.rn - a.rn AS BIGINT) AS rank_gap
  FROM ranked a
  JOIN ranked b ON b.rn > a.rn AND b.rn < a.rn + 8
),
scored AS (
  SELECT doc_a, doc_b, rank_gap,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS intersection_size,
         CAST(len(sa.sh) AS BIGINT) AS size_a,
         CAST(len(sb.sh) AS BIGINT) AS size_b
  FROM cand
  JOIN shingled sa ON sa.doc_id = doc_a
  JOIN shingled sb ON sb.doc_id = doc_b
)
SELECT *,
       intersection_size / (size_a + size_b - intersection_size) AS jaccard
FROM scored
WHERE intersection_size * 100 >= 80 * (size_a + size_b - intersection_size)
"""


# D31: prefix-filtering exact join — global token order (df ASC, shingle),
# per-doc prefix of n − ceil(t·n) + 1 tokens (integer //), candidates from
# the prefix-token self-join only, exact verification identical to D2's
# scoring; completeness is by theorem, so this output equals D2's.
DEDUP_ORACLES["dedup_prefix_filter"] = f"""
{_SHINGLED_CTES},
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
df_tbl AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM exploded GROUP BY 1
),
sized AS (
  SELECT e.doc_id, e.shingle,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.shingle)
           AS pos,
         COUNT(*) OVER (PARTITION BY e.doc_id) AS n
  FROM exploded e JOIN df_tbl d USING (shingle)
),
prefix AS (
  SELECT doc_id, shingle FROM sized
  WHERE pos <= n - ((80 * n + 99) // 100) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS intersection_size,
         CAST(len(sa.sh) AS BIGINT) AS size_a,
         CAST(len(sb.sh) AS BIGINT) AS size_b
  FROM cand
  JOIN shingled sa ON sa.doc_id = doc_a
  JOIN shingled sb ON sb.doc_id = doc_b
)
SELECT *,
       intersection_size / (size_a + size_b - intersection_size) AS jaccard
FROM scored
WHERE intersection_size / (size_a + size_b - intersection_size) >= 0.8
"""


# D32: deterministic Bloom gate — 4 md5-hex-derived positions per key,
# 32-bit bit_or words, probe + exact-truth audit per source. Same
# position arithmetic as the Spark side (8 hex chars -> BIGINT, mod m).
DEDUP_ORACLES["dedup_bloom_gate"] = f"""
WITH {CORPUS_CTE},
keyed AS (SELECT doc_id, source, md5(text) AS key FROM corpus),
old_keys AS (SELECT DISTINCT key FROM keyed WHERE doc_id < 1000000),
idx AS (SELECT unnest([0, 1, 2, 3]) AS i),
build_pos AS (
  SELECT key,
         CAST('0x' || substr(key, 1 + 8*i, 8) AS BIGINT) % 1048576 AS pos
  FROM old_keys CROSS JOIN idx
),
words AS (
  SELECT pos // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM build_pos GROUP BY 1
),
probe_pos AS (
  SELECT doc_id, source, key,
         CAST('0x' || substr(key, 1 + 8*i, 8) AS BIGINT) % 1048576 AS pos
  FROM keyed CROSS JOIN idx
  WHERE doc_id >= 1000000
),
tested AS (
  SELECT doc_id, source, key,
         CAST(MIN(CASE WHEN ((COALESCE(w.bits, 0) >> CAST(pos % 32 AS INT))
                             & 1) = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS flagged
  FROM probe_pos p LEFT JOIN words w ON w.word_idx = p.pos // 32
  GROUP BY 1, 2, 3
),
truth AS (
  SELECT t.*, CASE WHEN o.key IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM tested t LEFT JOIN old_keys o USING (key)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(SUM(is_dup) AS BIGINT) AS n_true_dup,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN flagged = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       SUM(CASE WHEN flagged = 1 AND is_dup = 1 THEN 1 ELSE 0 END)
         = SUM(is_dup) AS all_true_dups_flagged,
       CAST(SUM(CASE WHEN flagged = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
            AS DOUBLE)
         / NULLIF(SUM(CASE WHEN is_dup = 0 THEN 1 ELSE 0 END), 0) AS fp_rate
FROM truth
GROUP BY source
"""

def _span_hash_sql(w: int) -> str:
    """The BIGINT dual-polynomial span hash over per-token 24-bit md5
    halves — the EXACT arithmetic of ``operators/dedup.py::_span_rows``
    (same (B, M) pairs, same 2³² packing; term < 2⁵⁵ so the w-term sum
    is exact BIGINT in both engines for w ≤ 128). Expects ``h1``/``h2``
    token-hash list columns and a 1-based INTEGER ``start``."""
    p1 = [pow(SPAN_B1, w - 1 - j, SPAN_M1) for j in range(w)]
    p2 = [pow(SPAN_B2, w - 1 - j, SPAN_M2) for j in range(w)]
    s1 = " + ".join(f"h1[start+{j}]*{p1[j]}" for j in range(w))
    s2 = " + ".join(f"h2[start+{j}]*{p2[j]}" for j in range(w))
    return (
        f"(({s1}) % {SPAN_M1}) * 4294967296 + (({s2}) % {SPAN_M2})"
    )


def _span_ctes(w: int) -> str:
    """The shared D34/D35 span-explode CTE chain (corpus tokens → once-
    per-token 24-bit md5 half hashes → 1-based starts → dual-polynomial
    span_hash) — ONE definition so the two oracles' hashing can never
    diverge, mirroring the builders' shared ``_span_rows``."""
    return f"""ctoks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
),
docs AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks,
         list_transform(toks,
           t -> CAST('0x' || substr(md5(t), 1, 6) AS BIGINT)) AS h1,
         list_transform(toks,
           t -> CAST('0x' || substr(md5(t), 7, 6) AS BIGINT)) AS h2
  FROM ctoks WHERE len(toks) >= {w}
),
starts AS (
  SELECT doc_id, n_tokens, h1, h2,
         unnest(generate_series(1, CAST(n_tokens AS INTEGER) - {w - 1}))
           AS start
  FROM docs
),
span_h AS (
  SELECT doc_id, n_tokens, CAST(start AS BIGINT) AS start,
         {_span_hash_sql(w)} AS span_hash
  FROM starts
)"""


# D34: exact repeated-substring (span-level) dedup — Lee et al. 2022's
# "any w-token span seen twice" rule at the registry width w=16; mirrors
# operators/dedup.py::dedup_repeated_spans. The coverage arithmetic
# differs by construction (builder: interval-union via w + Σ min(w, gap)
# over sorted starts; oracle: COUNT(DISTINCT covered position)) — the
# two are equal for fixed-width intervals, so agreement cross-checks the
# builder's union algebra, not just its hashing. The span hash is the
# builder's dual polynomial recomputed term-for-term in DuckDB BIGINTs.
DEDUP_ORACLES["dedup_repeated_spans"] = f"""
WITH {CORPUS_CTE},
{_span_ctes(16)},
dup AS (SELECT span_hash FROM span_h GROUP BY 1 HAVING COUNT(*) >= 2),
rep AS (
  SELECT s.doc_id, s.n_tokens, s.start
  FROM span_h s JOIN dup USING (span_hash)
),
perdoc AS (
  SELECT doc_id, MIN(n_tokens) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_repeated_spans
  FROM rep GROUP BY 1
),
cov AS (
  SELECT doc_id, CAST(COUNT(DISTINCT pos) AS BIGINT) AS repeated_token_mass
  FROM (
    SELECT doc_id, unnest(generate_series(CAST(start AS INTEGER),
                                          CAST(start AS INTEGER) + 15)) AS pos
    FROM rep
  )
  GROUP BY 1
)
SELECT p.doc_id, p.n_tokens, p.n_repeated_spans, c.repeated_token_mass,
       CAST(c.repeated_token_mass AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
         AS repeated_fraction
FROM perdoc p JOIN cov c USING (doc_id)
"""

# D35: the APPLY path of D34 — cleaned corpus with every repeated span
# removed except its canonical (first by (doc_id, start)) occurrence;
# mirrors operators/dedup.py::dedup_repeated_spans_scrub. Both engines
# rebuild text from the token array (single-space joined — the corpus
# tokenization convention), so the comparison is exact strings.
DEDUP_ORACLES["dedup_repeated_spans_scrub"] = f"""
WITH {CORPUS_CTE},
{_span_ctes(16)},
occ AS (
  SELECT doc_id, start,
         COUNT(*) OVER (PARTITION BY span_hash) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY span_hash
                            ORDER BY doc_id, start) AS occ_rank
  FROM span_h
),
scrub AS (SELECT doc_id, start FROM occ WHERE n_occ >= 2 AND occ_rank > 1),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(CAST(start AS INTEGER),
                                          CAST(start AS INTEGER) + 15)) AS pos
    FROM scrub
  )
),
tokpos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
  FROM ctoks
),
keptt AS (
  SELECT t.doc_id, t.pos, t.toks[t.pos] AS tok
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.doc_id IS NULL
),
cleaned AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM keptt GROUP BY doc_id
),
ncov AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scrubbed FROM cov GROUP BY doc_id
)
SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
       COALESCE(n.n_scrubbed, CAST(0 AS BIGINT)) AS n_scrubbed,
       COALESCE(cl.text_clean, '') AS text_clean
FROM ctoks c
LEFT JOIN ncov n USING (doc_id)
LEFT JOIN cleaned cl USING (doc_id)
"""

# D37: the span-dedup family's evaluation report — per planted-duplicate
# class, grade D35's scrub; the oracle embeds D35's own driver SQL
# verbatim as a derived table (the P17/D27 convention), so the whole
# report incl. the recall division is hash-exact.
DEDUP_ORACLES["dedup_repeated_spans_eval"] = f"""
WITH scrubbed AS (
{DEDUP_ORACLES["dedup_repeated_spans_scrub"]}
),
classed AS (
  SELECT CASE WHEN doc_id >= 3000000 THEN 'truncation'
              WHEN doc_id >= 2000000 THEN 'reversal'
              WHEN doc_id >= 1000000 THEN 'exact_copy'
              ELSE 'base' END AS doc_class,
         n_tokens, n_scrubbed,
         CASE WHEN n_tokens >= 16 THEN 1 ELSE 0 END AS eligible
  FROM scrubbed
)
SELECT doc_class,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(eligible) AS BIGINT) AS n_eligible,
       CAST(SUM(CASE WHEN n_scrubbed > 0 AND eligible = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_scrubbed_docs,
       CAST(SUM(CASE WHEN n_scrubbed = n_tokens AND eligible = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fully_scrubbed,
       CAST(SUM(n_tokens * eligible) AS BIGINT) AS tokens_eligible,
       CAST(SUM(n_scrubbed * eligible) AS BIGINT) AS tokens_scrubbed,
       CAST(SUM(n_scrubbed * eligible) AS DOUBLE)
         / NULLIF(CAST(SUM(n_tokens * eligible) AS DOUBLE), 0) AS scrub_recall
FROM classed
GROUP BY doc_class
"""


# D39/D40: SemDeDup — fixed-centroid cell assignment (the D7 CTEs over the
# PLANTED corpus) + within-cell cosine pairs (the D5 pair algebra) + the
# greedy keep-lowest-id removal rule. Constants imported from the operator.
# The cell count is DERIVED exactly as the operator derives it (r14 scale-
# safe default): k = GREATEST(floor, FLOOR(SQRT(n))) over the SAME planted
# corpus — both engines compute the identical double sqrt of the identical
# BIGINT count, so hash-exactness survives any corpus size.
from ..operators.similarity import PLANT_OFFSET, SEMANTIC_CENTROIDS, SEMANTIC_TAU

_SEMANTIC_CTES = f"""
{_QUANT_CTES},
derived_k AS (
  SELECT GREATEST({SEMANTIC_CENTROIDS},
                  CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM norms
),
centroids AS (
  SELECT vec_id AS cent_id, qv AS cent_qv, nrm AS cent_nrm
  FROM norms WHERE vec_id < (SELECT k FROM derived_k)
),
cent_scored AS (
  SELECT n.vec_id, c.cent_id,
         ROUND({dot_sql("n.qv", "c.cent_qv")} /
               sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cent_nrm AS DOUBLE)), 6) AS c_cos
  FROM norms n CROSS JOIN centroids c
),
assign AS (
  SELECT vec_id, cent_id AS cell_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn
    FROM cent_scored
  ) WHERE rn = 1
),
cells AS (
  SELECT n.vec_id, n.qv, n.nrm, a.cell_id FROM norms n JOIN assign a USING (vec_id)
),
sem_pairs AS (
  SELECT b.vec_id AS vec_id, b.cell_id AS cell_id, a.vec_id AS a_id,
         ROUND({dot_sql("a.qv", "b.qv")} /
               sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)), 6) AS cosine
  FROM cells a
  JOIN cells b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)"""

DEDUP_ORACLES["dedup_semantic"] = f"""
{_SEMANTIC_CTES}
SELECT vec_id, cell_id,
       MIN(a_id) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_neighbors,
       MAX(cosine) AS max_cosine
FROM sem_pairs WHERE cosine >= {SEMANTIC_TAU}
GROUP BY 1, 2
"""

DEDUP_ORACLES["dedup_semantic_eval"] = f"""
{_SEMANTIC_CTES},
removed AS (
  SELECT DISTINCT vec_id FROM sem_pairs WHERE cosine >= {SEMANTIC_TAU}
)
SELECT CASE WHEN n.vec_id >= {PLANT_OFFSET} THEN 'plant' ELSE 'base' END AS vec_class,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS removed_frac
FROM norms n LEFT JOIN removed r USING (vec_id)
GROUP BY 1
"""


# P28: semantic decontamination — bench slice vs training side, exact
# broadcast cosine (the D5/_QUANT_CTES arithmetic; constants from the
# operator).
from ..operators.similarity import DECON_BENCH_HI, DECON_TAU

DEDUP_ORACLES["decontaminate_semantic"] = f"""
{_QUANT_CTES},
bench AS (
  SELECT vec_id AS bench_id, qv AS b_qv, nrm AS b_nrm
  FROM norms WHERE vec_id < {DECON_BENCH_HI}
),
train AS (
  SELECT vec_id, qv, nrm FROM norms WHERE vec_id >= {DECON_BENCH_HI}
),
scored AS (
  SELECT t.vec_id, b.bench_id,
         ROUND({dot_sql("t.qv", "b.b_qv")} /
               sqrt(CAST(t.nrm AS DOUBLE) * CAST(b.b_nrm AS DOUBLE)), 6) AS cosine
  FROM train t CROSS JOIN bench b
)
SELECT vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       MIN(bench_id) AS min_bench_id,
       MAX(cosine) AS max_cosine
FROM scored WHERE cosine >= {DECON_TAU}
GROUP BY 1
"""
