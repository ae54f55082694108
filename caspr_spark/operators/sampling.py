"""Deterministic stratified sampling — the reproducible downsampler a
training-data pipeline needs.

The reference's only sampling is ``randomSplit``/``sample`` (X5,
caspr/data/load.py:64-79) — engine-seeded RNG whose output depends on
partitioning, so a rerun on repartitioned data yields a different
sample. Corpus curation needs better: per-stratum (language, source,
label) fractions that are *reproducible from the data itself*. Both
operators here key the decision on ``md5`` of the row's id columns — a
portable hash with identical output in Spark, DuckDB, and Python — so
the sample is a pure function of (ids, seed), independent of
partitioning, cluster size, or engine.

Two shapes, two scales:

- :func:`stratified_sample_hash` — keep a row iff the hex prefix of
  ``md5(seed||ids)`` falls under the stratum's threshold. Map-only: no
  shuffle, no state, pushes through whole-stage codegen; the fraction is
  approximate (binomial around f·n). THE 100 TB path.
- :func:`stratified_sample_exact` — rank rows per stratum by the same
  hash and keep exactly ``ceil(f · n)``. Exact counts; since round 10
  the per-stratum rank rides the distributed prefix scan (global rank
  over (stratum, hash) minus the stratum's start, sizes from a
  map-side-combinable aggregate) instead of a ``row_number`` window
  partitioned by the stratum — strata are FEW and HOT by nature (one
  language can be half a web corpus), exactly the key shape windows
  serialize into one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caspr_spark.cache import (checkpoint_leaf, register_cache,
                               strict_scope_active)
from caspr_spark.sources import local_frame

# hex prefix length used for thresholding: 8 nibbles = 32 bits of the
# md5, plenty of resolution for any practical fraction
_PREFIX = 8


def _hash_col(id_cols: list[str], seed: int):
    return F.md5(F.concat_ws("|", F.lit(str(seed)),
                             *[F.col(c).cast("string") for c in id_cols]))


def _threshold_hex(fraction: float) -> str:
    """Largest hex prefix kept for ``fraction`` (lexicographic compare).

    fraction 1.0 must compare above EVERY hex prefix — naively it
    formats to a 9-character string whose '1' sorts below 'a'-'f', so
    keep-everything is encoded as 'g'×8 instead ('g' > any hex digit).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return "g" * _PREFIX
    return format(int(fraction * (1 << (4 * _PREFIX))), f"0{_PREFIX}x")


def stratified_sample_hash(df: DataFrame, stratum_col: str,
                           fractions: dict | float, id_cols: list[str],
                           seed: int = 42) -> DataFrame:
    """Map-only deterministic stratified sample.

    ``fractions`` is a per-stratum dict (strata absent from it are
    DROPPED — explicit is better than a silent keep) or one float for
    every stratum. The kept set is exactly reproducible on any engine
    that can compute md5 of the same strings.
    """
    h = F.substring(_hash_col(id_cols, seed), 1, _PREFIX)
    if isinstance(fractions, dict):
        thresh = F.lit(None).cast("string")
        for value, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
            thresh = F.when(F.col(stratum_col) == value,
                            F.lit(_threshold_hex(frac))).otherwise(thresh)
    else:
        thresh = F.lit(_threshold_hex(float(fractions)))
    return df.filter(thresh.isNotNull() & (h < thresh))


def _stratum_ranked(df: DataFrame, stratum_col: str, h) -> DataFrame:
    """``df`` plus ``__rk`` (1-based rank within the stratum by ``h``
    ascending) and ``__n`` (stratum size) — WITHOUT a window partitioned
    by the stratum.

    Strata are few and hot by nature (languages, sources, labels — one
    stratum can be half the corpus), and a ``row_number().over(
    partitionBy(stratum))`` funnels every row of the hot stratum into
    ONE task's sort. Instead: global rank over the total order
    ``(stratum, h)`` via the three-phase prefix scan (every sort
    range-partitioned, :func:`global_running_sum`), then
    ``rank_in_stratum = global_rank − stratum_start + 1`` with the
    start/size coming from one map-side-combinable aggregate, joined
    back broadcast (#strata rows — bounded by the categorical-stratum
    contract). Null strata group together (null-safe join), matching
    the window semantics this replaces. Same keep-set as the window
    form for any unique ``h``; same ambiguity under duplicate hashes.
    Cost trade: one extra persisted range exchange + a #strata
    broadcast — the fixed overhead that buys an unbounded-scale plan
    (the metrics_roc_auc precedent)."""
    ranked = global_running_sum(
        df.withColumn("__one", F.lit(1)).withColumn("__h", h),
        "__one", [F.col(stratum_col).asc(), F.col("__h").asc()],
        out_col="__grk").drop("__one", "__h")
    stat = (ranked.groupBy(stratum_col)
            .agg(F.min("__grk").alias("__start"),
                 F.count(F.lit(1)).alias("__n"))
            .withColumnRenamed(stratum_col, "__s"))
    return (ranked.join(F.broadcast(stat),
                        F.col(stratum_col).eqNullSafe(F.col("__s")))
            .withColumn("__rk", F.col("__grk") - F.col("__start") + 1)
            .drop("__s", "__grk", "__start"))


def stratified_sample_exact(df: DataFrame, stratum_col: str,
                            fractions: dict | float, id_cols: list[str],
                            seed: int = 42) -> DataFrame:
    """Exact-count deterministic stratified sample (``ceil(f · n)`` rows
    per stratum, lowest-hash-first). Per-stratum rank and size via the
    skew-proof prefix scan (:func:`_stratum_ranked`) — no stratum-keyed
    window, so a hot stratum never serializes into one task.

    Prefix-scan consumer: materialize the result inside the
    surrounding ``cache_scope`` (see :func:`global_running_sum`'s
    stale-offset note — an escaped result can silently re-sample).
    """
    ranked = _stratum_ranked(df, stratum_col, _hash_col(id_cols, seed))
    if isinstance(fractions, dict):
        quota = F.lit(None).cast("long")
        for value, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
            if not 0.0 <= frac <= 1.0:
                raise ValueError(f"fraction must be in [0, 1], got {frac}")
            quota = F.when(F.col(stratum_col) == value,
                           F.ceil(F.lit(frac) * F.col("__n"))).otherwise(quota)
    else:
        frac = float(fractions)
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {frac}")
        quota = F.ceil(F.lit(frac) * F.col("__n"))
    return ranked.filter(quota.isNotNull() & (F.col("__rk") <= quota)) \
                 .drop("__rk", "__n")


def global_running_sum(df: DataFrame, value_col: str, order_by: list,
                       out_col: str = "running_sum",
                       num_partitions: int | None = None) -> DataFrame:
    """Distributed prefix sum over a GLOBAL total order — without the
    single-task global window a naive ``sum().over(orderBy(...))`` plans.

    The classic three-step parallel scan:

    1. ``repartitionByRange`` on the order expressions — partition *i*
       holds a contiguous slice of the total order (equal keys co-locate;
       callers must make the order unique, e.g. append an id tiebreak).
    2. One tiny driver collect of the per-partition totals (#partitions
       rows — KBs at any data size) prefix-summed into per-partition
       offsets, rejoined by broadcast.
    3. An intra-partition running sum (window keyed on the partition id,
       so every partition scans in parallel) plus the offset.

    The frame is persisted between the totals pass and the scan pass so
    both see identical range boundaries (the range partitioner samples;
    pinning the data is what makes the two passes coherent) — callers
    streaming 100 TB through this should expect one disk-backed
    materialization, the same cost Spark's own ``zipWithIndex`` pays.
    **Materialize the result while that persist is alive** (inside the
    surrounding :func:`~caspr_spark.cache.cache_scope`, or before LRU
    eviction): the per-partition offsets are DRIVER-COLLECTED against
    the pinned range boundaries, so if the frame is released first,
    recomputation re-samples the boundaries under the stale offsets and
    the result is silently wrong — the one exception to cache.py's
    escaped-results-recompute-correctly rule (documented there).
    ``cache_scope(strict=True)`` / ``CASPR_STRICT_SCOPE=1`` arms the
    tripwire for that violation: the frame is pinned by an eager leaf
    checkpoint instead, so an escaped consumer raises on
    materialization rather than returning wrong rows.
    ``order_by`` takes column names or Column sort expressions
    (``F.col("q").desc()``). Null ``value_col`` rows add 0.
    ``value_col`` must be INTEGRAL (checked up front): every consumer
    sums counts/tokens/cents, and keeping the scan in exact integer
    arithmetic is what makes its results independent of partition
    count and fold order — a float prefix sum would drift by
    accumulation order, breaking the oracle-exactness contract
    (fixed-point-scale fractional values to ints first, the
    metrics/e10 discipline).
    """
    vtype = dict(df.dtypes).get(value_col)
    if vtype is None:
        raise ValueError(
            f"global_running_sum: value_col {value_col!r} is not a "
            f"column of the input (columns: {df.columns})")
    if vtype not in ("int", "bigint", "smallint", "tinyint"):
        raise ValueError(
            f"global_running_sum: value_col {value_col!r} has type "
            f"{vtype}; the scan accumulates bigint offsets and is "
            "exact-integer only. Floats drift by fold order; decimals "
            "sum exactly but the offset table and running column are "
            "bigint-typed, so a scale-0 decimal must be cast to bigint "
            "first (same values, no drift) and fractional values "
            "fixed-point-scaled to integers (the metrics/e10 "
            "discipline)")
    args = [F.col(c) if isinstance(c, str) else c for c in order_by]
    d = (df.repartitionByRange(num_partitions, *args) if num_partitions
         else df.repartitionByRange(*args))
    d = d.withColumn("__pid", F.spark_partition_id())
    if strict_scope_active():
        # stale-offset tripwire (cache.py module docstring): an eager
        # leaf checkpoint freezes the range boundaries AND truncates
        # lineage, so a result escaping its cache_scope raises on
        # materialization instead of silently recomputing against
        # re-sampled boundaries. Inside the scope, rows are identical
        # to the default persist path. Scope-less under
        # CASPR_STRICT_SCOPE=1, register_cache is a no-op and the
        # checkpoint blocks live until the driver GCs the result —
        # the documented price of arming the tripwire globally (see
        # strict_scope_active); wrap loops in a cache_scope to bound it.
        d, handle = checkpoint_leaf(d)
        register_cache(handle)
    else:
        register_cache(d.persist())
    totals = {r["__pid"]: r["t"] for r in
              d.groupBy("__pid").agg(F.sum(value_col).alias("t")).collect()}
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid] or 0
    spark = df.sparkSession
    off = F.broadcast(local_frame(spark, offsets, "__pid int, __off long")) \
        if offsets else None
    w = (Window.partitionBy("__pid").orderBy(*args)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = F.sum(F.coalesce(F.col(value_col), F.lit(0))).over(w)
    if off is None:
        return d.withColumn(out_col, run).drop("__pid")
    return (d.join(off, on="__pid")
             .withColumn(out_col, run + F.col("__off"))
             .drop("__pid", "__off"))


def ntile_distributed(df: DataFrame, order_by: list, n_bins: int,
                      n_total: int, out_col: str) -> DataFrame:
    """SQL ``ntile(n_bins)`` over a GLOBAL unique order — without the
    single-task global sort ``F.ntile().over(Window.orderBy(...))``
    plans. The global rank comes from the three-phase distributed
    prefix scan (:func:`global_running_sum` over a constant 1); the
    bucket is then the CLOSED FORM of the SQL-standard ntile remainder
    rule (first ``N mod n`` buckets get the extra row), so the result
    equals the window function bit-for-bit (parity-tested in
    tests/test_retention.py). ``order_by`` must be a total order —
    append an id tiebreak. ``n_total`` is the caller-supplied row count
    (callers usually already hold it from a persist+count)."""
    ranked = global_running_sum(df.withColumn("__one", F.lit(1)),
                                "__one", order_by, out_col="__rk")
    q, rem = divmod(n_total, n_bins)
    if q == 0:           # fewer rows than bins: ntile(r) = r
        score = F.col("__rk")
    else:
        cutoff = (q + 1) * rem
        score = F.when(
            F.col("__rk") <= cutoff,
            F.floor((F.col("__rk") - 1) / (q + 1)) + 1).otherwise(
            rem + F.floor((F.col("__rk") - 1 - cutoff) / q) + 1)
    return ranked.withColumn(out_col, score.cast("int")) \
                 .drop("__one", "__rk")


def select_to_token_budget(df: DataFrame, budget: int, token_col: str,
                           order_by: list,
                           out_col: str = "cum_tokens") -> DataFrame:
    """Greedy budget selection: walk the corpus in priority order and
    keep documents while the cumulative token count stays within
    ``budget`` — the 'best N-billion tokens' curation step that turns a
    scored corpus into a training mix. ``order_by`` must be a total
    order (append an id tiebreak) so the kept set is deterministic.
    Adds ``out_col`` (inclusive running total) to the kept rows."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    cum = global_running_sum(df, token_col, order_by, out_col)
    return cum.filter(F.col(out_col) <= budget)


def downsample_to_cap(df: DataFrame, stratum_col: str, cap: int,
                      id_cols: list[str], seed: int = 42) -> DataFrame:
    """Keep at most ``cap`` rows per stratum (lowest-hash-first) — the
    usual 'no language may exceed N documents' curation rule. Same
    deterministic ordering as the exact sampler, and the same
    skew-proof prefix-scan rank (:func:`_stratum_ranked`): the operator
    exists BECAUSE one stratum dominates the corpus, which is exactly
    the key a stratum-partitioned window would serialize into one
    task. Prefix-scan consumer: materialize the result inside the
    surrounding ``cache_scope`` (see :func:`global_running_sum`'s
    stale-offset note)."""
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    ranked = _stratum_ranked(df, stratum_col, _hash_col(id_cols, seed))
    return ranked.filter(F.col("__rk") <= cap).drop("__rk", "__n")


def weighted_sample_topk(df: DataFrame, k: int, weight_col: str,
                         id_cols: list[str], seed: int = 42,
                         key_col: str = "es_key") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws a portable hash-uniform u ∈ (0, 1)
    and competes with key ``-ln(u) / weight``; the ``k`` SMALLEST keys
    win (the exponential-race form — a row's key is an Exp(weight)
    variate, so inclusion probability is proportional to weight at each
    draw, the weighted analog of reservoir sampling).

    Same determinism contract as the stratified samplers: u comes from
    ``md5(seed||ids)``, so the sample is a pure function of (ids, seed)
    — independent of partitioning, cluster size, or engine. Rows with
    non-positive / null weight never win (they'd need infinite keys) and
    are filtered out up front. Top-k plans as TakeOrdered (per-partition
    k then a k-row driver merge), never a global sort.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    u = ((F.conv(F.substring(_hash_col(id_cols, seed), 1, _PREFIX), 16, 10)
           .cast("double") + 1.0) / float((1 << (4 * _PREFIX)) + 1))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (df.filter(F.col(weight_col).isNotNull()
                      & (F.col(weight_col) > 0))
              .withColumn(key_col, key)
              .orderBy(F.col(key_col).asc(), *[F.col(c) for c in id_cols])
              .limit(k))


def assign_folds(df: DataFrame, id_cols: list[str], k: int,
                 seed: int = 42, fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment for cross-validation:
    ``fold = md5(seed||ids) mod k`` — partition-independent,
    engine-portable, and stable across reruns (unlike randomSplit,
    whose assignment depends on the physical partitioning). Map-only.
    """
    if k <= 1:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.conv(F.substring(_hash_col(id_cols, seed), 1, _PREFIX), 16, 10) \
         .cast("long")
    return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))
