"""Table profiling — the data-quality report a pipeline runs on arrival.

One long-format relation (column, metric, value) covering null counts,
distinct cardinalities, min/max, and the modal (most frequent) value
per column — the checks that catch a broken upstream export (all-null
column, cardinality collapse, out-of-range values) before it poisons a
training run.

Two passes, regardless of column count:

1. ONE aggregation computes nulls / distincts / min / max for every
   profiled column simultaneously (a single scan; exact ``countDistinct``
   by default, ``approx_count_distinct`` as the 100 TB path where ±2%
   on cardinality is fine and the distinct-expand shuffle is not).
2. ONE melt (explode of (column, value) structs) + keyed count + top-1
   window finds each column's modal value — column name is part of the
   grouping key, so k columns profile in the same shuffle, not k
   shuffles.

Values are rendered as strings so heterogeneous column types share one
report schema — standard for profiling output (the caller casts back
when consuming a specific metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caspr_spark.cache import register_cache
from caspr_spark.sources import local_frame


def profile_table(df: DataFrame, cols: list[str] | None = None,
                  approx_distinct: bool = False,
                  include_modal: bool = True) -> DataFrame:
    """Profile ``cols`` (default: all) into (column, metric, value) rows.

    Metrics per column: ``n_nulls``, ``n_distinct``, ``min``, ``max``,
    and (``include_modal``) ``top_value`` / ``top_count`` with a
    deterministic smallest-string tie-break. The scalar metrics ride one
    aggregation row collected to the driver (k·4 values — bytes); the
    modal pass stays fully distributed.
    """
    cols = list(cols) if cols else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    dtypes = dict(df.dtypes)

    def _render(expr, c):
        # floating columns get a FIXED canonical decimal rendering
        # (6 dp): Java's Double.toString and other engines' printf
        # disagree on scientific-notation thresholds and shortest-digit
        # output, so a raw double->string cast is not portable across
        # engines (or stable across report consumers)
        if dtypes[c] in ("double", "float"):
            return (F.round(expr.cast("double"), 6)
                    .cast("decimal(38,6)").cast("string"))
        return expr.cast("string")

    nd = (F.approx_count_distinct if approx_distinct else F.count_distinct)
    aggs = []
    for c in cols:
        aggs += [
            F.coalesce(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)),
                       F.lit(0)).alias(f"nn_{c}"),
            nd(F.col(c)).alias(f"nd_{c}"),
            _render(F.min(F.col(c)), c).alias(f"mn_{c}"),
            _render(F.max(F.col(c)), c).alias(f"mx_{c}"),
        ]
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    scalar_rows = []
    for c in cols:
        scalar_rows += [
            (c, "n_nulls", str(row[f"nn_{c}"])),
            (c, "n_distinct", str(row[f"nd_{c}"])),
            (c, "min", row[f"mn_{c}"]),
            (c, "max", row[f"mx_{c}"]),
        ]
    out = local_frame(spark, scalar_rows,
                      "column string, metric string, value string")
    if not include_modal:
        return out
    melted = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 _render(F.col(c), c).alias("value"))
        for c in cols])).alias("kv")) \
        .select("kv.column", "kv.value") \
        .filter(F.col("value").isNotNull())
    counts = melted.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("column").orderBy(F.col("cnt").desc(),
                                             F.col("value").asc())
    modal = (counts.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1))
    modal_rows = (modal.select(
        "column",
        F.lit("top_value").alias("metric"),
        F.col("value"))
        .unionByName(modal.select(
            "column",
            F.lit("top_count").alias("metric"),
            F.col("cnt").cast("string").alias("value"))))
    return out.unionByName(modal_rows)


def covariance_matrix(df: DataFrame, cols: list[str],
                      ddof: int = 0) -> DataFrame:
    """Exact covariance + Pearson correlation for every column pair in
    ONE aggregation pass (the textbook sums-of-products identities) —
    profiling k columns costs one scan with k(k+3)/2 partial aggregates,
    not k² two-pass jobs.

    Returns the upper triangle (col_a <= col_b) as
    (col_a, col_b, cov, corr) with population covariance by default
    (``ddof=1`` for the sample estimator). Null handling is strict:
    rows with a null in ANY profiled column are dropped first, so every
    pair sees the same row set (pairwise-complete stats that differ per
    pair are a footgun in downstream linear algebra).
    """
    if len(cols) < 2:
        raise ValueError("covariance_matrix needs at least 2 columns")
    if ddof not in (0, 1):
        raise ValueError(f"ddof must be 0 or 1, got {ddof}")
    d = df.na.drop(subset=cols).select(
        *[F.col(c).cast("double").alias(c) for c in cols])
    # aliases are POSITIONAL (s_0, p_0_1) — name-derived aliases would
    # collide for underscore-bearing columns ((a, b_c) vs (a_b, c))
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c)).alias(f"s_{i}"))
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            aggs.append(F.sum(F.col(cols[i]) * F.col(cols[j]))
                        .alias(f"p_{i}_{j}"))
    row = d.agg(*aggs).first()
    n = row["n"]
    out = []
    for i, a in enumerate(cols):
        for j in range(i, len(cols)):
            b = cols[j]
            if n <= ddof:
                cov = corr = None
            else:
                cov = (row[f"p_{i}_{j}"] - row[f"s_{i}"] * row[f"s_{j}"] / n) \
                    / (n - ddof)
                va = (row[f"p_{i}_{i}"] - row[f"s_{i}"] ** 2 / n) / (n - ddof)
                vb = (row[f"p_{j}_{j}"] - row[f"s_{j}"] ** 2 / n) / (n - ddof)
                corr = cov / (va ** 0.5 * vb ** 0.5) \
                    if va > 0 and vb > 0 else None
            out.append((a, b, cov, corr))
    return local_frame(
        df.sparkSession, out,
        "col_a string, col_b string, cov double, corr double")


def diagnose_skew(df: DataFrame, keys: list[str], top_n: int = 10) -> DataFrame:
    """Shuffle-skew report for a prospective join/agg key — the check a
    100 TB pipeline runs BEFORE keying a shuffle on a column (a single
    hot key serializes one reducer; AQE splits help joins but not
    aggregations with non-combinable state).

    Returns the ``top_n`` heaviest key groups as
    (key, cnt, frac, imbalance) — ``frac`` of all rows, ``imbalance`` =
    cnt / mean-rows-per-key (1.0 = perfectly uniform; the value is
    roughly the salt factor needed to level that key). Composite keys
    render as a '\\x1f'-joined string so the report schema is fixed.

    Cost: one groupBy on the candidate key + a two-row stats broadcast —
    the same shuffle you were about to do anyway, minus the payload.
    Deterministic order: cnt desc, key asc.
    """
    if not keys:
        raise ValueError("diagnose_skew needs at least one key column")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    counts = (df.select(key.alias("key"))
                .groupBy("key").agg(F.count(F.lit(1)).alias("cnt")))
    # the counts relation feeds BOTH the stats row and the returned
    # top-n — persist so the raw table shuffles once, not twice
    # (cache_scope releases it; one-shot callers fall back to LRU)
    counts = register_cache(counts.persist())
    stats = counts.agg(F.sum("cnt").alias("total"),
                       F.count(F.lit(1)).alias("n_keys")).first()
    total, n_keys = stats["total"] or 0, stats["n_keys"] or 1
    mean = total / n_keys if n_keys else 1.0
    return (counts
            .orderBy(F.col("cnt").desc(), F.col("key").asc())
            .limit(top_n)
            .select("key", "cnt",
                    F.round(F.col("cnt") / F.lit(float(total)), 6)
                     .alias("frac"),
                    F.round(F.col("cnt") / F.lit(float(mean)), 6)
                     .alias("imbalance")))


def histogram(df: DataFrame, col: str, bins: int = 20,
              lo: float | None = None, hi: float | None = None,
              clamp: bool = True) -> DataFrame:
    """Fixed-bin histogram of a numeric column — the raw material of
    the drift monitor (``metrics.drift_psi``), calibration plots, and
    range sanity checks, as ONE aggregation.

    ``lo``/``hi`` default to the column min/max (one extra agg when
    omitted — pass them to stay single-pass, e.g. from a previous
    :func:`profile_table` run). ``clamp`` buckets out-of-range values
    into the edge bins (drift monitoring wants mass conserved); with
    ``clamp=False`` they are dropped. Empty bins ARE emitted (a
    histogram with holes is the whole point), via a driver-side bin
    table join — ``bins`` rows, never data-sized. Nulls never count.

    Output: (bin, lo_edge, hi_edge, cnt) ordered by bin.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if lo is None or hi is None:
        row = df.agg(F.min(F.col(col).cast("double")).alias("lo"),
                     F.max(F.col(col).cast("double")).alias("hi")).first()
        lo = lo if lo is not None else row["lo"]
        hi = hi if hi is not None else row["hi"]
    if lo is None or hi is None or not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}] "
                         "(constant or all-null column?)")
    width = (hi - lo) / bins
    x = F.col(col).cast("double")
    idx = F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")
    if clamp:
        idx = F.greatest(F.lit(0), F.least(F.lit(bins - 1), idx))
        keep = x.isNotNull()
    else:
        keep = x.isNotNull() & (x >= lo) & (x <= hi)
        # kept rows are in [lo, hi] by the filter, but float division
        # can still floor an in-range x to `bins` (x == hi exactly, or
        # (x-lo)/width rounding up past bins-1 for x just under hi) —
        # clamp the INDEX for rows the range filter already admitted,
        # so mass is conserved over the kept set
        idx = F.greatest(F.lit(0), F.least(F.lit(bins - 1), idx))
    counts = (df.filter(keep).select(idx.alias("bin"))
                .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))
    spark = df.sparkSession
    edges = local_frame(
        spark,
        [(b, lo + b * width, hi if b == bins - 1 else lo + (b + 1) * width)
         for b in range(bins)], "bin int, lo_edge double, hi_edge double")
    return (edges.join(counts, on="bin", how="left")
            .select("bin", F.round("lo_edge", 9).alias("lo_edge"),
                    F.round("hi_edge", 9).alias("hi_edge"),
                    F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
            .orderBy("bin"))
