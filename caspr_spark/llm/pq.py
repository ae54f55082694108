"""Product quantization (PQ) for embedding compression + ADC search.

Completes this engine's vector-index family (hyperplane LSH for
candidate generation, IVF for cell-pruned search, SQ8 absmax scalar
quantization): PQ is the FAISS ``PQ``/``IVFPQ`` building block (Jégou
et al., "Product Quantization for Nearest Neighbor Search", TPAMI
2011) — split each D-dim vector into ``m`` subvectors, vector-quantize
each subspace against its own ``k``-centroid codebook, store ``m``
small codes per vector (64-dim float64 -> 8 bytes at m=8/k=256: 64x
compression), and score queries with **asymmetric distance
computation** (ADC): one ``[m, k]`` lookup table per query, corpus
cost = ``m`` table lookups per vector instead of ``D`` multiplies.

Scale shape:

- **fit** — ``m`` independent MLlib KMeans fits, each over ONE
  subvector slice (column pruning means each fit scans only its
  ``D/m`` floats per row); iterative like all KMeans, hence rows-only
  certification, but fully distributed — no driver-side sample.
- **encode** — Arrow-batched pandas UDF, one ``[batch, k]`` distance
  matmul per subspace; map-only, zero shuffles.
- **search** — the query's distance table broadcasts (``m·k`` floats);
  scoring is map-only numpy ``take``+sum over the codes column;
  ``TakeOrdered`` top-k. The corpus is never shuffled.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.workers import shipped


def _check(dim: int, m: int, k: int):
    if dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    if not 2 <= k <= 256:
        raise ValueError(f"k must be in [2, 256] (codes are bytes), got {k}")


def fit_pq(df: DataFrame, vec_col: str = "embedding", dim: int = 64,
           m: int = 8, k: int = 16, seed: int = 42,
           max_iter: int = 20) -> np.ndarray:
    """Train the ``[m, k, dim/m]`` PQ codebooks — one distributed MLlib
    KMeans per subspace over that subspace's slice only."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    _check(dim, m, k)
    dsub = dim // m
    codebooks = np.empty((m, k, dsub), dtype=np.float64)

    def _fit_one(j: int) -> np.ndarray:
        sub = df.select(array_to_vector(
            F.slice(F.col(vec_col), j * dsub + 1, dsub)).alias("features"))
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter,
                       featuresCol="features").fit(sub)
        centers = np.asarray(model.clusterCenters(), dtype=np.float64)
        # deterministic codebook order (KMeans center ids are
        # init-order artifacts): sort centers lexicographically
        order = np.lexsort(centers.T[::-1])
        return centers[order]

    # The m subspace fits are independent — submit them as CONCURRENT
    # Spark jobs instead of serializing m iterative KMeans runs (each
    # fit's per-iteration jobs are small, so the scheduler interleaves
    # them across the executor pool; results are seed-deterministic
    # per subspace regardless of completion order). The wrapper gives
    # each pool thread the caller's job group and description.
    from concurrent.futures import ThreadPoolExecutor
    fit_one = inheritable_thread_target(df.sparkSession)(_fit_one)
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        for j, centers in enumerate(pool.map(fit_one, range(m))):
            codebooks[j] = centers
    return codebooks


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding",
              out_col: str = "pq_codes") -> DataFrame:
    """Assign each subvector to its nearest codebook centroid.

    Adds ``out_col`` (array<int>, length ``m``, values in [0, k)).
    Map-only: one ``[batch, k]`` argmin per subspace per Arrow batch.
    """
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape

    @F.pandas_udf("array<int>")
    @shipped
    def _enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]            # [n, dsub]
            # ||sub - c||² = ||sub||² - 2 sub·c + ||c||²; first term is
            # constant per row -> argmin over the last two
            d = -2.0 * sub @ cb[j].T + (cb[j] ** 2).sum(axis=1)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_decode(df: DataFrame, codebooks: np.ndarray,
              codes_col: str = "pq_codes",
              out_col: str = "pq_reconstructed") -> DataFrame:
    """Reconstruct the quantized vector (centroid concatenation) —
    the lossy inverse, for reconstruction-error audits."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape

    @F.pandas_udf("array<double>")
    @shipped
    def _dec(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        c = np.vstack([np.asarray(v, dtype=np.int64) for v in codes])
        out = np.concatenate([cb[j][c[:, j]] for j in range(m)], axis=1)
        return pd.Series(list(out))

    return df.withColumn(out_col, _dec(F.col(codes_col)))


def pq_search(df: DataFrame, query: np.ndarray, codebooks: np.ndarray,
              codes_col: str = "pq_codes", id_col: str = "vec_id",
              top_k: int = 10, dist_col: str = "adc_distance") -> DataFrame:
    """ADC top-k: nearest codes to ``query`` by summed table lookups.

    The per-query ``[m, k]`` distance table is computed driver-side
    (``m·k·dsub`` flops — microseconds) and closed over the scoring
    UDF; corpus-side work is ``m`` byte-indexed table reads per vector.
    Returns the ``top_k`` (id, distance) rows, ascending.
    """
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape
    q = np.asarray(query, dtype=np.float64)
    if q.shape != (m * dsub,):
        raise ValueError(f"query must have dim {m * dsub}, got {q.shape}")
    table = np.stack([
        ((cb[j] - q[j * dsub:(j + 1) * dsub]) ** 2).sum(axis=1)
        for j in range(m)])                                 # [m, k]

    @F.pandas_udf("double")
    @shipped
    def _adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        c = np.vstack([np.asarray(v, dtype=np.int64) for v in codes])
        d = np.zeros(len(c))
        for j in range(m):
            d += table[j][c[:, j]]
        return pd.Series(d)

    scored = df.select(id_col, F.round(_adc(F.col(codes_col)), 6)
                       .alias(dist_col))
    return scored.orderBy(F.col(dist_col).asc(), F.col(id_col).asc()) \
                 .limit(top_k)


# ---------------------------------------------------------------------------
# Versioned PQ ingest — the PQ family's member of the exactly-once state
# story (the IVF index got its in r14, the dedup key/signature tables in
# r12/r13). A rebuilt code table re-encodes the WHOLE corpus per ingest
# (O(corpus)); here batch ``b`` encodes only ITS OWN vectors under the
# PINNED codebooks and commits the codes as an O(batch) delta — and the
# stored rows are the 64×-compressed codes, never the vectors, so the
# standing state is tiny (8 bytes/vector at m=8). Same commit protocol
# (``_SUCCESS`` markers, replay skip, out-of-order refusal, compaction
# cadence, tombstone side-stream) via :mod:`caspr_spark.state`.
# ---------------------------------------------------------------------------


def _codebook_fingerprint(codebooks) -> str:
    """Deterministic fingerprint of the PQ codebooks: md5 over the
    (m, k, dsub, values) JSON. Rides as a constant column in every
    state frame so a fold (or search) under DIFFERENT codebooks
    refuses instead of silently mixing codes from two quantizers —
    a PQ code is meaningless outside the codebook that produced it."""
    import hashlib
    import json

    cb = np.asarray(codebooks, dtype=np.float64)
    payload = json.dumps([list(cb.shape)] +
                         [float(v) for v in cb.ravel()])
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


def append_pq_state(spark, state_dir: str, batch_id: int,
                    batch: DataFrame, codebooks,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    compact_every: int = 8,
                    check_state: bool = True) -> None:
    """Fold a batch of NEW embeddings into a VERSIONED PQ code table:
    encode the batch's vectors under the PINNED ``codebooks``
    (:func:`pq_encode` — the deterministic per-subspace argmin) and
    commit ``(id, pq_codes)`` as a delta. ``batch_id`` is
    caller-supplied and strictly increasing (the day number); replayed
    ids skip, out-of-order ids refuse, and a codebook-fingerprint
    guard (a probe of the newest non-empty frame,
    :func:`caspr_spark.state.check_stamp`) refuses a fold under
    different codebooks. Tombstones folded by
    :func:`append_pq_deletes` are baked in at every compaction;
    :func:`vacuum_pq_state` forces that off-cadence. Search with
    :func:`adc_topk_pq_state`; prune superseded frames with
    :func:`caspr_spark.state.prune_state`."""
    from caspr_spark.state import check_stamp, compact_merge, fold_commit

    fp = _codebook_fingerprint(codebooks)
    if check_state:
        # ``check_state=False``: caller already verified the codebook
        # fingerprint against this dir (the streaming sink probes on its
        # first fold under the stream's writer lease; later frames were
        # committed by that writer under the same pinned codebooks).
        # Batch callers keep the default probe.
        check_stamp(spark, state_dir, "codebook_fp", fp, "PQ")
    frame = pq_encode(batch, codebooks, vec_col=vec_col) \
        .select(F.col(id_col), "pq_codes", F.lit(fp).alias("codebook_fp"))
    fold_commit(spark, state_dir, batch_id, "delta", compact_every,
                frame, compact_merge(spark, state_dir, id_col))


def append_pq_deletes(spark, state_dir: str, batch_id: int,
                      deletes: DataFrame, id_col: str = "vec_id",
                      compact_every: int = 8) -> None:
    """Fold DELETION tombstones into the versioned PQ code table —
    the same right-to-erasure side-stream the IVF index carries
    (:mod:`caspr_spark.state` tombstone protocol, own batch-id
    frontier): a tombstoned id is invisible to
    :func:`read_pq_state` / :func:`adc_topk_pq_state` immediately,
    and its code's bytes leave storage at the next compaction + prune
    (or :func:`vacuum_pq_state` now)."""
    from caspr_spark.state import append_deletes_state

    append_deletes_state(spark, state_dir, batch_id,
                         deletes.select(F.col(id_col)), compact_every)


def vacuum_pq_state(spark, state_dir: str, batch_id: int, codebooks,
                    keep_last: int = 1,
                    id_col: str = "vec_id") -> list[int]:
    """Force tombstone resolution NOW (the erasure-deadline path):
    commit a FORCED compact — an empty schema-exact batch whose merge
    bakes the current delete set into a full frame — then prune the
    superseded frames, erasing the deleted codes' bytes. ``batch_id``
    comes from the SAME sequence as the ingest folds (the vacuum IS a
    fold). Returns the pruned batch ids."""
    from caspr_spark.state import vacuum_state

    return vacuum_state(spark, state_dir, batch_id, id_col, "codebook_fp",
                        _codebook_fingerprint(codebooks), "PQ", keep_last)


def read_pq_state(spark, state_dir: str) -> DataFrame:
    """Current code table from a versioned state dir: newest compact
    unioned with every younger delta, minus any tombstoned ids — the
    ``(id, pq_codes)`` relation ADC scores
    (:func:`caspr_spark.state.read_masked_state`). A tombstone-free
    dir keeps its exact pre-tombstone plan (the no-tombstones probe
    is one listing)."""
    from caspr_spark.state import read_masked_state

    return read_masked_state(spark, state_dir, "PQ")


def adc_topk_pq_state(spark, state_dir: str, query, codebooks,
                      top_k: int = 10, id_col: str = "vec_id",
                      dist_col: str = "adc_distance") -> DataFrame:
    """ADC top-k over the VERSIONED code table: verify the codebook
    fingerprint (:func:`caspr_spark.state.check_stamp` — searching
    under the wrong codebooks returns wrong neighbors silently, so
    refuse loudly),
    read the state (tombstones masked), then the shared
    :func:`pq_search` scoring — byte-identical arithmetic to a
    one-shot ``pq_encode`` + ``pq_search`` over the union of the
    ingested batches minus deletions (the certified invariant:
    ``simsearch_pq_state`` in ``contract.streaming``)."""
    from caspr_spark.state import check_stamp

    check_stamp(spark, state_dir, "codebook_fp",
                _codebook_fingerprint(codebooks), "PQ")
    codes = read_pq_state(spark, state_dir).drop("codebook_fp")
    return pq_search(codes, query, codebooks, id_col=id_col,
                     top_k=top_k, dist_col=dist_col)
