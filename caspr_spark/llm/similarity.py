"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline: queries are broadcast, the
corpus streams once, the per-query top-k heap is a TakeOrdered-style window
over (query, similarity). The LSH-bucketed variant is the scale path — it
prunes the corpus to same-bucket candidates before the exact re-rank.

Dot products are pure ``zip_with``/``aggregate`` expressions in double
precision — JVM-side, no Arrow hop.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from caspr_spark.cache import register_cache
from caspr_spark.workers import shipped


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a, b):
    """Cosine similarity between two array columns, computed in double."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


@shipped
def _pair_cosine_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched pairwise cosine — one einsum per batch.

    The banded LSH paths score 100s of thousands of candidate pairs; a
    per-pair ``aggregate(zip_with(...))`` expression walks ``dim`` lambda
    frames per row, while this is ``n×dim`` BLAS flops per Arrow batch
    (~100× less per-element overhead). Kept off the exact ``cosine_topk``
    baseline, which stays pure-JVM by design.
    """
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    av = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
    bv = np.vstack([np.asarray(v, dtype=np.float64) for v in b])
    dots = np.einsum("ij,ij->i", av, bv)
    return pd.Series(dots / (np.linalg.norm(av, axis=1)
                             * np.linalg.norm(bv, axis=1)))


_pair_cosine = F.pandas_udf(_pair_cosine_fn, DoubleType())
# A second instance marked nondeterministic: referencing the SAME aliased
# result column from both a Filter and the output Project makes Catalyst
# inline a deterministic UDF into both operators — two ArrowEvalPython
# nodes, i.e. every candidate pair scored twice. The marking (the function
# is in fact deterministic) pins evaluation to one Project below the
# Filter. A distinct instance because asNondeterministic() mutates in
# place and the rank-ordering paths keep the deterministic one.
_pair_cosine_once = F.pandas_udf(_pair_cosine_fn,
                                 DoubleType()).asNondeterministic()


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id", round_digits: int | None = 6,
                exclude_self: bool = True) -> DataFrame:
    """Exact top-``k`` neighbors per query by cosine (brute force).

    Output: (query_id, vec_id, cosine, rank). ``queries`` is broadcast —
    the corpus is never shuffled; ties break on neighbor id ascending.
    ``round_digits`` rounds the similarity *before* ranking so orderings
    are reproducible across engines/float orders.
    """
    from caspr_spark.sources import ensure_parallelism

    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    joined = ensure_parallelism(corpus.select(id_col, vec_col)) \
        .crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    sim = cosine_similarity_col(F.col("__qvec"), F.col(vec_col))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = joined.withColumn("cosine", sim)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(query_id_col, id_col, "cosine", "rank"))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side, tiny)."""
    planes = []
    state = seed
    for p in range(n_planes):
        vals = []
        for i in range(dim):
            # xorshift64* — deterministic across platforms, no numpy needed
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            u = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) / 2**64
            vals.append(u - 0.5)
        n = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / n for v in vals])
    return planes


def lsh_plan(n_rows: int, threshold: float = 0.3, target_recall: float = 0.9,
             n_planes: int | None = None, target_bucket_rows: int = 128,
             max_tables: int = 64) -> tuple[int, int]:
    """Size an OR-amplified hyperplane-LSH index for a corpus of ``n_rows``.

    ``n_planes`` scales with corpus size so the *expected* bucket holds
    ~``target_bucket_rows`` vectors — the per-bucket self-join stays bounded
    as the corpus grows (1e9 vectors → 23 planes → ~128-row buckets), which
    is what keeps the candidate set O(N·bucket) instead of O(N²).

    ``n_tables`` comes from the OR-amplification recall bound: a pair at
    cosine ``threshold`` collides per plane with p1 = 1 − acos(s)/π, per
    table with p1^n_planes, and across b independent tables with
    1 − (1 − p1^n_planes)^b ≥ ``target_recall``. Higher thresholds (true
    near-dups, s ≥ 0.9) need few tables even at 20+ planes; low-similarity
    targets on near-uniform data are intrinsically expensive (ρ → 1) and
    the formula makes that cost explicit instead of silently missing pairs.
    """
    if n_planes is None:
        n_planes = max(4, min(24, math.ceil(
            math.log2(max(n_rows, 1) / target_bucket_rows))
            if n_rows > target_bucket_rows else 4))
    p1 = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_table = p1 ** n_planes
    if p_table >= 1.0 - 1e-12:
        n_tables = 1
    else:
        wanted = max(1, math.ceil(
            math.log(max(1.0 - target_recall, 1e-12)) / math.log(1.0 - p_table)))
        n_tables = min(max_tables, wanted)
        if wanted > max_tables:
            achieved = 1.0 - (1.0 - p_table) ** n_tables
            warnings.warn(
                f"lsh_plan: recall target {target_recall} at threshold "
                f"{threshold} needs {wanted} tables but max_tables={max_tables} "
                f"binds; expected recall at the threshold is ~{achieved:.3f}. "
                "Raise max_tables, lower n_planes, or accept the lower recall.",
                stacklevel=2)
    return n_planes, n_tables


def add_lsh_bucket(df: DataFrame, vec_col: str = "embedding", dim: int = 64,
                   n_planes: int = 8, seed: int = 42,
                   out_col: str = "lsh_bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1) per vector.

    Cosine-similar vectors land in the same bucket with high probability;
    the bucket id is a join/cluster key that prunes candidate sets at scale.
    ``dim`` is an explicit parameter — no driver-side action is fired to
    infer it (the planes are a pure driver-side constant).
    """
    tmp = add_lsh_buckets(df, vec_col, dim, n_planes, 1, seed, "__lsh_t")
    return tmp.withColumn(out_col, F.element_at("__lsh_t", 1)).drop("__lsh_t")


def add_lsh_buckets(df: DataFrame, vec_col: str, dim: int, n_planes: int,
                    n_tables: int = 1, seed: int = 42,
                    out_col: str = "lsh_buckets") -> DataFrame:
    """``n_tables`` independent LSH bucket ids per vector (array column).

    Table ``t`` uses its own plane set (seed + 1000·t); a candidate pair
    only needs to collide in *one* table (OR-amplification), mirroring the
    banding of the MinHash path in ``dedup.minhash_lsh_dedup``.

    All ``n_tables × n_planes`` sign bits are computed in ONE Arrow-batched
    matmul (``signs = X @ planes.T``, bit-packed per table) inside a pandas
    UDF. A Catalyst expression tree for the same computation carries
    ``n_tables·n_planes·dim`` literal nodes (thousands at real sizes) whose
    analysis/codegen dominates runtime; one BLAS matmul per Arrow batch is
    the scan-bound shape that survives 100 TB.
    """
    planes = np.array(
        [random_hyperplanes(dim, n_planes, seed + 1000 * t)
         for t in range(n_tables)], dtype=np.float64)          # [T, P, D]
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    @shipped
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (x @ flat.T) > 0                               # [n, T·P]
        b = (signs.reshape(len(x), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(b))

    return df.withColumn(out_col, _buckets(F.col(vec_col)))


def _explode_buckets(df: DataFrame, cols: list[str],
                     keep_buckets: str | None = None) -> DataFrame:
    keep = [F.col("lsh_buckets").alias(keep_buckets)] if keep_buckets else []
    return df.select(*cols, *keep,
                     F.posexplode("lsh_buckets").alias("__t", "__b"))


def _packs(n_planes: int, n_tables: int) -> bool:
    """True when all table bucket ids fit in one signed 64-bit word."""
    return n_planes * n_tables <= 63


def add_lsh_buckets_packed(df: DataFrame, vec_col: str, dim: int,
                           n_planes: int, n_tables: int, seed: int = 42,
                           out_col: str = "lsh_packed") -> DataFrame:
    """All ``n_tables`` bucket ids bit-packed into ONE long column.

    Table ``t`` occupies bits ``[t·n_planes, (t+1)·n_planes)`` of the word
    (requires ``n_planes·n_tables ≤ 63``). Versus the array layout this
    shrinks the per-row payload the banded self-join shuffles from a
    ``n_tables``-element long array (~8·T bytes + Arrow offsets) to 8
    bytes, and lets the first-collision dedup predicate run as integer
    bit ops instead of a ``zip_with``/``array_position`` lambda walk.
    Same planes, same bucket ids — candidate semantics are identical to
    :func:`add_lsh_buckets`.
    """
    if not _packs(n_planes, n_tables):
        raise ValueError(
            f"{n_tables} tables x {n_planes} planes = "
            f"{n_planes * n_tables} bits does not fit a signed long")
    planes = np.array(
        [random_hyperplanes(dim, n_planes, seed + 1000 * t)
         for t in range(n_tables)], dtype=np.float64)          # [T, P, D]
    flat = planes.reshape(n_tables * n_planes, dim)
    # bit p of table t lands at position t*n_planes + p
    weights = (1 << np.arange(n_tables * n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    @shipped
    def _packed(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (x @ flat.T) > 0                               # [n, T·P]
        return pd.Series((signs * weights).sum(axis=1))

    return df.withColumn(out_col, _packed(F.col(vec_col)))


def _explode_packed(df: DataFrame, cols: list[str], n_planes: int,
                    n_tables: int, packed_col: str = "lsh_packed") -> DataFrame:
    """One row per (table, bucket) from the packed word.

    The transient unpack array never reaches an exchange — the explode
    happens in the same stage; only (__t, __b) ints and the packed long
    flow on.
    """
    mask = (1 << n_planes) - 1
    unpack = F.expr(
        f"transform(sequence(0, {n_tables - 1}), "
        f"t -> shiftright({packed_col}, t * {n_planes}) & {mask}L)")
    return df.select(*cols, packed_col,
                     F.posexplode(unpack).alias("__t", "__b"))


def _first_collision_packed(packed_a, packed_b, n_planes: int,
                            n_tables: int):
    """0-based index of the first table whose packed bucket bits agree.

    Pure integer ops on the XOR of the two packed words: table ``t``
    collides iff its ``n_planes``-bit field in ``a XOR b`` is zero. The
    CASE chain is ``n_tables`` branches of shift+mask — cheaper to codegen
    and evaluate than the array ``zip_with`` + ``array_position`` walk,
    and it reads two longs instead of two long arrays.
    """
    mask = (1 << n_planes) - 1
    x = packed_a.bitwiseXOR(packed_b)
    out = F.lit(-1)
    for t in range(n_tables - 1, -1, -1):
        field = F.shiftright(x, t * n_planes).bitwiseAND(F.lit(mask))
        out = F.when(field == 0, F.lit(t)).otherwise(out)
    return out


def _first_collision(a_buckets, b_buckets):
    """0-based index of the first table where two bucket arrays agree.

    Filtering the banded join on ``__t == _first_collision(...)`` emits each
    candidate pair exactly once across the OR-ed tables — replacing the
    post-join ``distinct`` (a full extra shuffle of the candidate set) with
    a rowwise predicate on two tiny int arrays.
    """
    return F.array_position(
        F.zip_with(a_buckets, b_buckets, lambda x, y: x == y),
        F.lit(True)) - 1


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int,
                    dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding", query_id_col: str = "query_id",
                    n_planes: int | None = None, n_tables: int | None = None,
                    threshold: float = 0.3, target_recall: float = 0.9,
                    n_corpus: int | None = None, seed: int = 42,
                    packed: bool | None = None) -> DataFrame:
    """Approximate top-k: OR-amplified LSH candidate pruning, exact re-rank.

    ``n_tables`` independent plane sets are OR-ed — a corpus vector is a
    candidate for a query if they share a bucket in *any* table — then the
    candidate set is exactly re-ranked by cosine. Leave ``n_planes``/
    ``n_tables`` unset to have :func:`lsh_plan` size them from the corpus
    (pass ``n_corpus`` to avoid the sizing ``count()``; at scale it is a
    known catalog statistic). At 100 TB the corpus is bucketed once and can
    be written partitioned by (table, bucket); each query probes only its
    n_tables buckets. ``packed=None`` auto-selects the bit-packed bucket
    layout whenever ``n_planes·n_tables ≤ 63`` (identical candidates,
    smaller shuffle rows); pass False to force the array layout.
    """
    if n_planes is None or n_tables is None:
        n = n_corpus if n_corpus is not None else corpus.count()
        auto_planes, auto_tables = lsh_plan(n, threshold, target_recall, n_planes)
        n_planes = n_planes if n_planes is not None else auto_planes
        n_tables = n_tables if n_tables is not None else auto_tables
    if packed is None:
        packed = _packs(n_planes, n_tables)
    if packed:
        c = _explode_packed(
            add_lsh_buckets_packed(corpus.select(id_col, vec_col), vec_col,
                                   dim, n_planes, n_tables, seed, "__cp"),
            [id_col, vec_col], n_planes, n_tables, "__cp")
        q = _explode_packed(
            add_lsh_buckets_packed(
                queries.select(F.col(id_col).alias(query_id_col),
                               F.col(vec_col).alias("__qvec")),
                "__qvec", dim, n_planes, n_tables, seed, "__qp"),
            [query_id_col, "__qvec"], n_planes, n_tables, "__qp")
        dedup = F.col("__t") == _first_collision_packed(
            F.col("__cp"), F.col("__qp"), n_planes, n_tables)
    else:
        c = _explode_buckets(
            add_lsh_buckets(corpus.select(id_col, vec_col), vec_col, dim,
                            n_planes, n_tables, seed), [id_col, vec_col],
            keep_buckets="__cb")
        q = _explode_buckets(
            add_lsh_buckets(
                queries.select(F.col(id_col).alias(query_id_col),
                               F.col(vec_col).alias("__qvec")),
                "__qvec", dim, n_planes, n_tables, seed),
            [query_id_col, "__qvec"], keep_buckets="__qb")
        dedup = F.col("__t") == _first_collision(F.col("__cb"), F.col("__qb"))
    joined = (c.join(F.broadcast(q), on=["__t", "__b"])
               .filter(F.col(id_col) != F.col(query_id_col))
               .filter(dedup))
    scored = joined.withColumn(
        "cosine", F.round(_pair_cosine(F.col("__qvec"), F.col(vec_col)), 6)) \
        .select(query_id_col, id_col, "cosine")
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(query_id_col, id_col, "cosine", "rank"))


def ivf_index(corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id",
              vec_col: str = "embedding", seed: int = 42):
    """IVF coarse quantizer: seeded MLlib KMeans centroids + cell assignment.

    Returns ``(indexed_corpus, centroids)`` where ``indexed_corpus`` carries
    an ``ivf_cell`` column and ``centroids`` is the driver-side list of
    centroid vectors. At scale, write the corpus partitioned/bucketed by
    ``ivf_cell`` so a probe touches only its cells' files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_cells, seed=seed, featuresCol="__features",
                   predictionCol="ivf_cell").fit(feat)
    indexed = model.transform(feat).drop("__features")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return indexed, centroids


def _cell_distance_structs(vec_col, centroids):
    """ONE array column of per-centroid ``struct(d, cell)``: d is the
    euclidean² fold ``((0 + t1) + t2) + ...`` over dims — the
    left-associative order an engine-portable SQL twin can reproduce
    term-for-term. Sorting the struct array orders by (d asc, cell
    asc), i.e. first-min-wins on ties — numpy/KMeans argmin's rule.

    Built as a single indexed ``transform`` over one nested-array
    centroid literal rather than ``n_cells`` separate struct
    expressions: the per-cell fold arithmetic is bit-identical (same
    ``zip_with``/``aggregate`` lambdas, same literal order, and
    ``transform``'s 0-based index IS the old ``lit(i)`` cell id), but
    the plan carries 4 lambda functions instead of ``3 * n_cells`` —
    measured in SCALING_r15: the 64-cell probe subplan's
    analysis+codegen drops ~2x (4.0 s -> 2.1 s per call), which is the
    latency floor of every state-index probe call."""
    outer = F.array(*[F.array(*[F.lit(float(v)) for v in c])
                      for c in centroids])
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.transform(outer, lambda c, i: F.struct(
        F.aggregate(F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, v: acc + v).alias("d"),
        i.alias("cell")))


def nearest_centroid(vec_col, centroids):
    """First-min-wins nearest-centroid id under PINNED centroid
    literals — the ONE election expression behind both certified
    assignment surfaces (:func:`cosine_topk_ivf` ``centroids=`` and
    :func:`caspr_spark.segment.kmeans_assign`): its left-associative
    euclidean² fold and ``(d asc, cell asc)`` tie rule are what the
    SQL twins reproduce term-for-term, so it must never fork."""
    return F.element_at(
        F.array_sort(_cell_distance_structs(vec_col, centroids)),
        1)["cell"]


def nearest_centroid_arrow(vec_col, centroids):
    """Arrow-vectorized twin of :func:`nearest_centroid` for BULK
    assignment — the 100 TB ingest path. The expression election
    evaluates its higher-order lambdas interpreted per element
    (~0.8k rows/s/core at 64 cells × 64 dims, measured in
    SCALING_r15: 23k rows/s on 32 cores against this twin's 196k rows/s
    on the same 200k-row job); this pandas_udf does the same euclidean²
    argmin as one float64 GEMM per Arrow batch (``|x|² − 2xCᵀ + |c|²``),
    ~100× per core, with numpy ``argmin``'s first-min-wins matching
    the expression's ``(d asc, cell asc)`` tie rule.

    Parity: the GEMM associates additions differently than the
    expression's left-associative fold, so a pair of cells whose
    distances agree to the last ulp can in principle elect
    differently — measured 0 mismatches over the full test corpora
    (tests pin that), but CERTIFIED rows keep the expression election
    (:func:`append_ivf_state` ``assign='expr'``, the default) so
    their oracle twins stay term-for-term reproducible; ``'arrow'``
    is for uncertified bulk builds where throughput wins."""
    C = np.asarray([[float(v) for v in c] for c in centroids],
                   dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    @shipped
    def _assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if X.size == 0:
            return pd.Series([], dtype="int32")
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return _assign(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int,
                    n_cells: int = 16, n_probe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", seed: int = 42,
                    centroids: list | None = None) -> DataFrame:
    """IVF ANN: probe the ``n_probe`` nearest cells per query, exact re-rank.

    The second scale path beside LSH: cluster-aware pruning (recall degrades
    gracefully with ``n_probe``; ``n_probe = n_cells`` is exact). The
    query-to-cell assignment is a driver-side product against the tiny
    centroid list, shipped as a broadcast (query_id, cell) pair table.

    ``centroids`` (list of ``n_cells`` vectors) pins the coarse
    quantizer instead of fitting KMeans: corpus cells come from the
    same deterministic distance-struct election the probe ranking
    uses, making the ENTIRE search — assignment, probing, cosine
    re-rank — engine-reproducible arithmetic (the segment_dec
    fitted-state-literal pattern; the KMeans fit is the only
    rows-only-checkable half). ``n_cells`` is ignored when given.
    """
    if centroids is not None:
        indexed = corpus.withColumn("ivf_cell",
                                    nearest_centroid(vec_col, centroids))
    else:
        indexed, centroids = ivf_index(corpus, n_cells, id_col, vec_col,
                                       seed)
    return _ivf_probe_topk(indexed, queries, k, n_probe, centroids,
                           id_col, vec_col, query_id_col)


def _ivf_probe_topk(indexed: DataFrame, queries: DataFrame, k: int,
                    n_probe: int, centroids: list, id_col: str,
                    vec_col: str, query_id_col: str,
                    static_prune: bool = False) -> DataFrame:
    """The probe + exact-re-rank tail shared by :func:`cosine_topk_ivf`
    (one-shot assignment) and :func:`cosine_topk_ivf_state` (the
    versioned ingest index): ``indexed`` already carries ``ivf_cell``.

    ``static_prune=True`` (the state path's default) materializes the
    probe table ONCE (``localCheckpoint`` — it is broadcast-sized by
    the existing design, n_queries × n_probe rows) and pushes the
    probed cells into the index scan as a LITERAL ``isin`` filter.
    Two measured effects vs the dynamic-pruning join (SCALING_r15:
    static [4.46, 4.47, 4.75] s vs dynamic [4.56, 4.62, 5.07, 5.23] s
    per warm batch probe of a 5M-row index):
    the centroid-distance subplan compiles once instead of twice (the
    DPP partition filter re-plans it as a subquery — ~2 s per probe
    call at 64 cells), and the literal filter prunes BOTH layouts —
    hive partitions on the partitioned layout, parquet row-group
    min/max on the plain layout (frames are repartitioned by cell at
    write, so files cluster). The collected cell set is bounded by
    ``n_cells`` regardless of query count. Row-identical to the
    dynamic path: the filter is the exact cell set the join keys on,
    and checkpointing changes no computed value."""
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    # rank centroids per query by (euclidean, to match KMeans assignment)
    dist_cols = _cell_distance_structs("__qvec", centroids)
    probes = q.withColumn(
        "__cells",
        F.slice(F.array_sort(dist_cols), 1, n_probe)) \
        .select(query_id_col, "__qvec",
                F.explode(F.transform("__cells", lambda s: s["cell"]))
                 .alias("ivf_cell"))
    if static_prune:
        probes = probes.localCheckpoint(eager=True)
        cells = [r.ivf_cell for r in
                 probes.select("ivf_cell").distinct().collect()]
        indexed = indexed.filter(F.col("ivf_cell").isin(cells))

    joined = (indexed.join(F.broadcast(probes), on="ivf_cell")
              .filter(F.col(id_col) != F.col(query_id_col)))
    scored = joined.withColumn(
        "cosine", F.round(cosine_similarity_col(F.col("__qvec"),
                                                F.col(vec_col)), 6))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(query_id_col, id_col, "cosine", "rank"))


def _centroid_fingerprint(centroids: list) -> str:
    """Deterministic fingerprint of a coarse quantizer: md5 over the
    (n_cells, dim, values) JSON. Rides as a constant column in every
    IVF state frame so a fold (or search) under DIFFERENT centroids
    refuses instead of silently mixing assignments from two
    quantizers — cells only mean anything relative to the centroid
    list that produced them."""
    import hashlib
    import json

    payload = json.dumps([[float(v) for v in c] for c in centroids])
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


def append_ivf_state(spark, state_dir: str, batch_id: int,
                     batch: DataFrame, centroids: list,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     compact_every: int = 8,
                     partition_by_cell: bool = False,
                     assign: str = "expr",
                     check_state: bool = True) -> None:
    """Fold a batch of NEW embeddings into a VERSIONED IVF index state
    dir — continuous embedding ingest, the similarity-family member of
    the exactly-once state story (the key table and signature table
    got theirs in r12/r13). A rebuilt index re-assigns the WHOLE
    corpus per ingest (O(corpus) — a 1e9-vector index is re-scanned
    daily for a 1e6-vector day); here batch ``b`` assigns only ITS OWN
    vectors under the PINNED ``centroids`` (the deterministic
    :func:`nearest_centroid` election) and commits them as a delta
    (O(batch)); every ``compact_every``-th commit unions the live
    frames (:func:`caspr_spark.state.compact_merge` — disjoint ids by
    contract).
    Shares the :mod:`caspr_spark.state` commit protocol: ``_SUCCESS``
    markers, replayed batch ids skip, out-of-order folds refuse; under
    a stream, :func:`caspr_spark.streaming.ann_ingest_sink` holds the
    single-writer lease (:func:`caspr_spark.state.claim_writer`). ``batch_id`` must be caller-supplied and
    strictly increasing across ingests (the day number).

    The quantizer is enforced against the COMMITTED state: every frame
    carries a constant ``centroid_fp`` column and a bounded probe
    (:func:`caspr_spark.state.check_stamp`: newest non-empty live
    frame — empty deltas are skipped, not trusted) refuses a fold under different centroids, which would
    poison the index with cells from two quantizers. Frames are
    repartitioned by ``ivf_cell`` before the write so each frame's
    parquet clusters by cell; ``partition_by_cell=True`` additionally
    writes each frame HIVE-PARTITIONED on ``ivf_cell``, so a probe
    search reads only its cells' files — Spark's dynamic partition
    pruning fires on the probe join (the broadcast probe table is the
    build side), turning an index scan into an ``n_probe``-cells read.
    Empty batches fall back to a plain frame write (a zero-row
    partitioned write is unreadable —
    :func:`caspr_spark.state.fold_commit`'s rule) and both layouts
    merge transparently on read. Prune superseded frames with
    :func:`caspr_spark.state.prune_state`.

    ``assign`` picks the election implementation: ``'expr'`` (default)
    is the certified expression election whose fold arithmetic the SQL
    twins reproduce term-for-term; ``'arrow'`` is
    :func:`nearest_centroid_arrow` — one float64 GEMM per Arrow batch,
    ~100× per core (SCALING_r15: 196k rows/s against the expression's
    23k rows/s on 32 cores), for uncertified bulk builds where
    the batch is millions of vectors. Both use first-min-wins
    euclidean² argmin; see the arrow twin's docstring for the ulp-tie
    caveat that keeps certified rows on ``'expr'``.

    Deletion: tombstones folded by :func:`append_ivf_deletes` are
    BAKED IN at every compaction — the merge anti-joins the current
    delete set, so a compact simply no longer contains the deleted
    vectors and a following ``prune_state`` erases their bytes from
    the superseded frames (the right-to-erasure path;
    :func:`vacuum_ivf_state` forces it off-cadence)."""
    from caspr_spark.state import check_stamp, compact_merge, fold_commit

    fp = _centroid_fingerprint(centroids)
    if check_state:
        # ``check_state=False`` is for a caller that ALREADY verified
        # the quantizer fingerprint against this dir (the streaming
        # sink probes on its first fold under the stream's writer
        # lease; every later frame was committed by that writer under
        # the same pinned centroids), so the per-fold probe's 2 Spark
        # jobs (schema inference plus limit(1)) are pure micro-batch
        # latency there.
        # Batch callers keep the default: the probe is what makes a
        # mismatched pre-existing state refuse loudly.
        check_stamp(spark, state_dir, "centroid_fp", fp, "IVF")
    if assign not in ("expr", "arrow"):
        raise ValueError(f"assign must be 'expr' or 'arrow', "
                         f"got {assign!r}")
    elect = (nearest_centroid if assign == "expr"
             else nearest_centroid_arrow)
    frame = batch.select(
        F.col(id_col), F.col(vec_col),
        elect(vec_col, centroids).alias("ivf_cell"),
        F.lit(fp).alias("centroid_fp")).repartition("ivf_cell")
    fold_commit(spark, state_dir, batch_id, "delta", compact_every,
                frame, compact_merge(spark, state_dir, id_col),
                partition_by=["ivf_cell"] if partition_by_cell else None)


def append_ivf_deletes(spark, state_dir: str, batch_id: int,
                       deletes: DataFrame, id_col: str = "vec_id",
                       compact_every: int = 8) -> None:
    """Fold DELETION tombstones into the versioned IVF index — the
    forget-document / right-to-erasure lifecycle operation an
    append-only embedding store otherwise lacks (a deleted corpus
    document's vector would stay searchable forever). ``deletes``
    needs only the id column (anything else is dropped — no content
    rides into the tombstone stream). Effect is immediate:
    :func:`read_ivf_state` / :func:`cosine_topk_ivf_state` anti-join
    the delete set, so a tombstoned vector can never appear in a probe
    result; the bytes leave storage at the next compaction + prune
    (every compact bakes the delete set in — or force it now with
    :func:`vacuum_ivf_state`).

    Same exactly-once protocol as the vector folds, on the delete
    stream's OWN batch-id sequence (independent frontier): replayed
    delete days skip, out-of-order refuse. Contract: ids are unique
    across the ingest lifetime (already the vector-fold contract), so
    a tombstone is order-independent — it masks the id whether its
    vector arrived before or after, and re-ingesting a deleted id is
    the same contract violation re-ingesting a live one is."""
    from caspr_spark.state import append_deletes_state

    append_deletes_state(spark, state_dir, batch_id,
                         deletes.select(F.col(id_col)), compact_every)


def vacuum_ivf_state(spark, state_dir: str, batch_id: int,
                     centroids: list, keep_last: int = 1,
                     id_col: str = "vec_id",
                     partition_by_cell: bool = False) -> list[int]:
    """Force tombstone resolution NOW instead of at the compaction
    cadence — the erasure-deadline path: commit a FORCED compact (an
    empty batch folded with ``force_compact``, so the merge bakes the
    current delete set into a full frame) and prune the superseded
    frames, erasing the deleted vectors' bytes from storage. Returns
    the pruned batch ids.

    ``batch_id`` comes from the SAME sequence as the ingest folds —
    the vacuum IS a fold, so a batch caller passes its next day
    number. For a STREAMING ingest (:func:`~caspr_spark.streaming.
    ann_ingest_sink`, which derives ids from the checkpoint), do not
    interleave external vacuum folds — the sink's next id would
    collide with the vacuum's and skip as a replay; rely on the sink's
    ``compact_every`` cadence instead (every compact already bakes
    deletes), then run ``prune_state`` beside the stream.
    ``keep_last=1`` by default: erasure means superseded frames go,
    not linger as restore points that still hold the vectors."""
    from caspr_spark.state import vacuum_state

    return vacuum_state(spark, state_dir, batch_id, id_col, "centroid_fp",
                        _centroid_fingerprint(centroids), "IVF", keep_last,
                        ["ivf_cell"] if partition_by_cell else None)


def read_ivf_state(spark, state_dir: str) -> DataFrame:
    """Current IVF index from a versioned state dir
    (:func:`append_ivf_state`): newest compact unioned with every
    younger delta, minus any tombstoned ids
    (:func:`append_ivf_deletes` — a deleted vector is invisible the
    moment its tombstone commits, before any compaction bakes it in).
    The ``(id, vector, ivf_cell)`` relation a probe searches
    (:func:`caspr_spark.state.read_masked_state`); a delete-free
    state dir keeps its exact pre-tombstone plan (the no-tombstones
    probe is one listing)."""
    from caspr_spark.state import read_masked_state

    return read_masked_state(spark, state_dir, "IVF")


def cosine_topk_ivf_state(spark, state_dir: str, queries: DataFrame,
                          k: int, n_probe: int = 4, *,
                          centroids: list,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          query_id_col: str = "query_id",
                          static_prune: bool = True) -> DataFrame:
    """IVF ANN over the VERSIONED ingest index: read the state
    (:func:`read_ivf_state`), verify the quantizer fingerprint
    matches ``centroids`` (probing the wrong quantizer's cells
    silently returns wrong neighbors — refuse loudly instead), then
    run the shared probe + exact cosine re-rank
    (:func:`_ivf_probe_topk`). Because ingest pinned the same
    deterministic :func:`nearest_centroid` election, searching the
    state-built index is row-identical to searching a one-shot
    ``cosine_topk_ivf(corpus, ..., centroids=...)`` index over the
    union of the ingested batches MINUS any tombstoned ids
    (:func:`append_ivf_deletes`) — the certified invariant. The
    fingerprint probe reads a raw frame directly
    (:func:`caspr_spark.state.check_stamp`), so it never pays the
    tombstone anti-join the masked read carries.

    ``static_prune=True`` (default) pushes the probed cell set into
    the frame scans as a literal filter instead of relying on the
    dynamic-pruning join — row-identical, one centroid-subplan
    compile instead of two, and prunes the plain layout's row groups
    too (see :func:`_ivf_probe_topk`); ``False`` keeps the pure
    broadcast-join plan (no driver-side probe materialization)."""
    from caspr_spark.state import check_stamp

    check_stamp(spark, state_dir, "centroid_fp",
                _centroid_fingerprint(centroids), "IVF")
    indexed = read_ivf_state(spark, state_dir)
    return _ivf_probe_topk(indexed.drop("centroid_fp"), queries, k,
                           n_probe, centroids, id_col, vec_col,
                           query_id_col, static_prune=static_prune)


def embedding_near_duplicates(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id", vec_col: str = "embedding",
                              dim: int = 64, n_planes: int | None = None,
                              n_tables: int | None = None,
                              target_recall: float = 0.9,
                              n_corpus: int | None = None,
                              seed: int = 42,
                              packed: bool | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    OR-amplified LSH self-join: a pair is scored if it shares a bucket in
    any of ``n_tables`` independent plane sets, so the quadratic blowup is
    bounded by bucket size (× tables), not corpus size — and recall at the
    ``threshold`` similarity is the explicit :func:`lsh_plan` target rather
    than whatever a single table happens to deliver. The plan uses
    ``threshold`` itself as the collision similarity: high-threshold
    near-dup detection (0.9+) stays cheap even at 20+ planes.
    """
    from caspr_spark.sources import ensure_parallelism
    if n_planes is None or n_tables is None:
        n = n_corpus if n_corpus is not None else df.count()
        auto_planes, auto_tables = lsh_plan(n, threshold, target_recall, n_planes)
        n_planes = n_planes if n_planes is not None else auto_planes
        n_tables = n_tables if n_tables is not None else auto_tables
    if packed is None:
        packed = _packs(n_planes, n_tables)
    # cpu_light: per-row hashing work is one 48-flop matmul row — tiny
    # corpora don't need a full-width fan-out for it
    vecs = ensure_parallelism(df.select(id_col, vec_col), cpu_light=True)
    # Band on a slim (id, buckets) projection: the ×n_tables explode and the
    # self-join shuffle move ints only — vectors rejoin by id once, on the
    # deduped candidate set (the standard banded-LSH join shape; at small SF
    # AQE turns the rejoin into broadcasts). Persisted because the self-join
    # consumes the hashed relation twice (same pattern as the persisted
    # shingles in dedup.minhash_lsh_dedup); LRU-evicted like that path
    # (or released deterministically by a caspr_spark.cache_scope()).
    # Default layout bit-packs all table buckets into one long (8-byte
    # shuffle payload + integer first-collision dedup) when they fit.
    if packed:
        hashed = register_cache(
            add_lsh_buckets_packed(vecs, vec_col, dim, n_planes,
                                   n_tables, seed)
            .drop(vec_col).persist())
        b = _explode_packed(hashed, [id_col], n_planes, n_tables)
        left = b.select(F.col(id_col).alias("id_a"),
                        F.col("lsh_packed").alias("__pk_a"), "__t", "__b")
        right = b.select(F.col(id_col).alias("id_b"),
                         F.col("lsh_packed").alias("__pk_b"), "__t", "__b")
        dedup = F.col("__t") == _first_collision_packed(
            F.col("__pk_a"), F.col("__pk_b"), n_planes, n_tables)
    else:
        hashed = register_cache(
            add_lsh_buckets(vecs, vec_col, dim, n_planes, n_tables,
                            seed).drop(vec_col).persist())
        b = _explode_buckets(hashed, [id_col], keep_buckets="__bk")
        left = b.select(F.col(id_col).alias("id_a"),
                        F.col("__bk").alias("__bk_a"), "__t", "__b")
        right = b.select(F.col(id_col).alias("id_b"),
                         F.col("__bk").alias("__bk_b"), "__t", "__b")
        dedup = F.col("__t") == _first_collision(F.col("__bk_a"),
                                                 F.col("__bk_b"))
    pairs = (left.join(right, on=["__t", "__b"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .filter(dedup)
                 .select("id_a", "id_b"))
    # Rejoin sides read the raw projection, NOT the ensure_parallelism
    # repartition: these sides end up broadcast (small) or AQE-planned
    # (large), and a round-robin Exchange feeding a BroadcastExchange is
    # pure wasted shuffle (observed in the physical plan before this fix).
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__v_b"))
    score_once = F.round(
        _pair_cosine_once(F.col("__v_a"), F.col("__v_b")), 6)
    return (pairs.join(va, on="id_a").join(vb, on="id_b")
                 .withColumn("cosine", score_once)
                 .filter(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", "cosine"))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "qvec",
                        scale_col: str = "scale") -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x storage/IO
    compression a vector store applies before indexing (FAISS SQ8 /
    Milvus flavor, absmax variant).

    ``scale = max(|v|)/127`` per vector; ``q_i = round(v_i/scale)`` in
    [-127, 127]. Both the scale and the rounding are pure element-wise
    column arithmetic (transform/aggregate — no UDF, no shuffle), so
    quantization fuses into whatever scan produces the vectors. All-zero
    vectors get scale 0 and an all-zero code (guarded divide).

    Recall cost at ANN time is the usual SQ8 tradeoff (cosine on
    dequantized vectors is within ~1e-2 of exact for unit-norm data);
    `dequantize_embeddings` restores floats for exact re-ranking.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).cast("double")
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def dequantize_embeddings(df: DataFrame, qvec_col: str = "qvec",
                          scale_col: str = "scale",
                          out_col: str = "embedding") -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``v_i ≈ q_i · scale``."""
    s = F.col(scale_col)
    return df.withColumn(
        out_col,
        F.transform(F.col(qvec_col), lambda q: q.cast("double") * s))
