"""What the query modules share: session and table readers, and the constants
both engines use (the Spark builders and their DuckDB oracle SQL).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caspr_spark.sources import read_parquet_table
from caspr_spark.llm.similarity import lsh_plan


# scratch root of the write/read round-trip queries (git-ignored)
_TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".tmp")

_SCRATCH = None


def _scratch_dir(prefix: str) -> str:
    """A new dir for a streaming builder's source, checkpoint, state or
    output, under one per-process root that is removed at exit: the
    returned DataFrames read these dirs lazily, so none can go sooner."""
    global _SCRATCH
    if _SCRATCH is None:
        _SCRATCH = tempfile.mkdtemp(prefix="caspr_contract_")
        atexit.register(shutil.rmtree, _SCRATCH, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH)


SEQ_N = 5
HIST_DAYS = 14
ORDERS_N = 3
ORDERS_HIST = 365


# OR-amplified LSH sizing for the sf0.01 certification corpus (N=500).
# Shared between the Spark queries and the DuckDB oracle SQL so both
# engines bucket with byte-identical plane sets.
LSH_TOPK_PLANES, LSH_TOPK_TABLES = lsh_plan(500, threshold=0.3, n_planes=4)
LSH_NDUP_PLANES, LSH_NDUP_TABLES = lsh_plan(500, threshold=0.45, n_planes=4)


def _utc(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # parquet written without isAdjustedToUTC must read as session-TZ
    # TIMESTAMP (not TIMESTAMP_NTZ): watermarks require it and the DuckDB
    # oracle comparison assumes UTC wall-clock timestamps
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(_utc(spark), f"{sf_dir}/events.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(_utc(spark), f"{sf_dir}/{name}.parquet")


def _with_prediction_date(ev: DataFrame) -> DataFrame:
    pred = ev.agg(F.max("ts")).collect()[0][0]
    return ev.withColumn("prediction_date", F.lit(pred))


def _pq_fixed_cb(m: int = 8, k: int = 4, dsub: int = 8):
    """Deterministic codebook + query literals for the PQ certificate
    (the segment_dec centroid-literal pattern): values on a fixed
    integer lattice scaled into the embedding range, identical in the
    Spark query and the generated SQL twin. Certifies pq_encode +
    pq_search EXACTLY given fitted state; fit_pq itself stays
    rows-only (iterative KMeans)."""
    import numpy as np
    cb = np.empty((m, k, dsub))
    for j in range(m):
        for r in range(k):
            for d in range(dsub):
                cb[j, r, d] = (((j * 5 + r * 3 + d * 7) % 13) - 6) / 12.0
    q = np.array([(((d * 11) % 13) - 6) / 12.0 for d in range(m * dsub)])
    return cb, q


def _ivf_fixed_centroids(n_cells: int = 8, dim: int = 64):
    """Deterministic coarse-quantizer literals for the IVF certificate
    (same lattice family as _pq_fixed_cb)."""
    return [[(((i * 5 + d * 3) % 13) - 6) / 12.0 for d in range(dim)]
            for i in range(n_cells)]


def _pq_fixed_sql(top_k: int = 25, corpus_where: str = "") -> str:
    """SQL twin of q_simsearch_pq_fixed. Encode: per subspace, the four
    expanded distances ``-2·sub·c_r + ||c_r||²`` (the same expression
    pq_encode evaluates; ||c_r||² embedded as a float64 literal) feed a
    first-min-wins CASE — numpy argmin's tie rule. Residual ULP risk:
    pq_encode computes the dot product via BLAS matmul
    (``sub @ cb[j].T``) while this twin sums ``x[i]*c[i]``
    left-to-right, so a subvector near-equidistant between two
    centroids could in principle argmin differently across engines.
    The lattice codebook (_pq_fixed_cb: centroid coordinates on a
    13-point grid, spacing 1/12 ≈ 0.083) keeps inter-centroid expanded
    distances ~10 orders of magnitude above double accumulation error
    for unit-scale inputs, which is why both SF certifications hold —
    but encode exactness is "lattice-backed", not byte-guaranteed.
    Search IS byte-exact given the codes: the chosen ADC table entries
    (the SAME driver-computed float64 literals pq_search closes over)
    sum left-to-right, bit-for-bit the accumulation order of
    pq_search's ``d +=`` loop, so the rounded distances match.
    ``corpus_where`` (a ``WHERE ...`` clause on the embeddings scan)
    is the ingested-minus-deleted restriction the versioned-state row
    (simsearch_pq_state) searches."""
    import numpy as np
    cb, q = _pq_fixed_cb()
    m, k, dsub = cb.shape
    table = np.stack([
        ((cb[j] - q[j * dsub:(j + 1) * dsub]) ** 2).sum(axis=1)
        for j in range(m)])
    dist_cols, adc_terms = [], []
    for j in range(m):
        for r in range(k):
            c = cb[j, r]
            c2 = float((c ** 2).sum())
            dot = " + ".join(f"x[{j * dsub + i + 1}]*({c[i]!r})"
                             for i in range(dsub))
            dist_cols.append(f"-2*({dot}) + ({c2!r}) AS d{j}_{r}")
        t = [f"({float(table[j, r])!r})" for r in range(k)]
        adc_terms.append(
            f"CASE WHEN d{j}_0 <= least(d{j}_1, d{j}_2, d{j}_3) THEN {t[0]}\n"
            f"          WHEN d{j}_1 <= least(d{j}_2, d{j}_3) THEN {t[1]}\n"
            f"          WHEN d{j}_2 <= d{j}_3 THEN {t[2]} ELSE {t[3]} END")
    dists = ",\n         ".join(dist_cols)
    adc = "\n       + ".join(adc_terms)
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
  {corpus_where}),
d AS (
  SELECT vec_id,
         {dists}
  FROM v)
SELECT vec_id,
       round({adc}, 6) AS adc_distance
FROM d
ORDER BY 2 ASC, vec_id ASC
LIMIT {top_k}"""


def _ivf_fixed_sql(k: int = 5, n_probe: int = 3,
                   corpus_where: str = "") -> str:
    """Exact SQL twin of q_simsearch_ivf_fixed. The per-cell
    euclidean² distances are the same left-associative 64-term sums
    cosine_topk_ivf's fold evaluates; one ranked (distance, cell)
    relation serves both the corpus assignment (rn = 1) and the probe
    ranking (rn <= n_probe over the query subset) — mirroring the
    (d asc, cell asc) struct sort, i.e. first-min-wins; cosine via
    list_dot_product (the certified simsearch_topk twin), ranked on
    the ROUNDED value exactly as the Spark window does.
    ``corpus_where`` (a ``WHERE ...`` clause on the embeddings scan)
    is the ingested-minus-deleted restriction the tombstone row
    (simsearch_ivf_deleted) searches."""
    cents = _ivf_fixed_centroids()
    dim = len(cents[0])
    d_exprs = ",\n         ".join(
        " + ".join(f"(x[{j + 1}]-({c[j]!r}))*(x[{j + 1}]-({c[j]!r}))"
                   for j in range(dim)) + f" AS d{i}"
        for i, c in enumerate(cents))
    unions = "\n    UNION ALL ".join(
        f"SELECT vec_id, x, {i} AS cell, d{i} AS dd FROM d"
        for i in range(len(cents)))
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
  {corpus_where}),
d AS (
  SELECT vec_id, x,
         {d_exprs}
  FROM v),
r AS (
  SELECT vec_id, x, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
  FROM ({unions})),
a AS (SELECT vec_id, x, cell FROM r WHERE rn = 1),
p AS (SELECT vec_id AS query_id, x AS qv, cell
      FROM r WHERE rn <= {n_probe} AND vec_id < 5),
s AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qv, a.x)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(a.x, a.x))), 6) AS cosine
  FROM a JOIN p USING (cell)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, cosine, rank::INT AS rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s)
WHERE rank <= {k}"""
