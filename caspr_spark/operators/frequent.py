"""One-pass heavy hitters: Misra-Gries candidate prefilter + exact recount.

The frequent-items probe a corpus pipeline runs constantly (vocabulary
heads, hot keys, boilerplate tokens). A plain ``groupBy(col).count()``
shuffles EVERY distinct value — at 100 TB with billions of distinct
tokens the shuffle of the long tail IS the cost, even though the answer
only concerns a handful of heavy keys. The classic fix is a two-phase
plan with a sketch-bounded first pass:

1. **Candidates** — each partition runs Misra-Gries with ``width``
   counters over its rows (one sequential pass, O(width) memory,
   Arrow-batched via ``mapInPandas``). MG guarantees: any item with
   partition-local count > n_p/width survives locally; therefore any
   item with GLOBAL count > N/width is emitted by at least one
   partition (if it were ≤ n_p/width everywhere, summing gives
   ≤ N/width). The shuffle payload drops from |vocabulary| to at most
   width · #partitions rows.
2. **Exact recount** — the deduplicated candidate set (small) is
   broadcast-semi-joined back and ONLY candidates are counted exactly;
   false positives scrub out against the threshold.

The result is EXACT — identical to the full groupBy — while the only
vocabulary-sized work is the in-partition sketch. ``width`` must be
≥ 1/threshold_frac for the guarantee to cover the threshold; the
constructor enforces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.workers import shipped


def heavy_hitters(df: DataFrame, col: str, threshold_frac: float,
                  width: int | None = None) -> DataFrame:
    """Items of ``col`` with exact count > ``threshold_frac`` · N.

    Returns (``col``, ``cnt``) with exact counts, equal to
    ``groupBy(col).count().filter(cnt > frac·N)`` but with the
    vocabulary-sized shuffle replaced by the Misra-Gries candidate
    pass. ``width`` defaults to ``ceil(1/threshold_frac)`` (the minimum
    that preserves exactness); a larger width trades sketch memory for
    fewer false-positive candidates in the recount.
    """
    if not 0.0 < threshold_frac < 1.0:
        raise ValueError(
            f"threshold_frac must be in (0, 1), got {threshold_frac}")
    import math
    min_width = math.ceil(1.0 / threshold_frac)
    if width is None:
        width = min_width
    elif width < min_width:
        raise ValueError(
            f"width {width} < 1/threshold_frac ({min_width}): the "
            "Misra-Gries guarantee would no longer cover the threshold")

    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    w = width

    @shipped
    def mg_partition(batches):
        # vectorized Misra-Gries via the mergeable-summaries form
        # (Agarwal et al.): exact per-batch value_counts, pointwise add,
        # then subtract the (width+1)-th largest count from all and drop
        # non-positives. Same guarantee as element-wise MG (errors add to
        # ≤ n_p/width); the whole batch merge+shrink is three pandas
        # Series ops — no per-item Python loop, and the state stays
        # bounded at ``width`` entries between batches.
        import pandas as pd
        counters = pd.Series(dtype="float64")
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            counters = counters.add(pdf["v"].value_counts(), fill_value=0)
            if len(counters) > w:
                m = counters.nlargest(w + 1).iloc[-1]
                counters = counters[counters > m] - m
        # candidate rows + one null-keyed row carrying the partition size,
        # so candidates AND the global N come out of the same single pass
        yield pd.DataFrame({"v": list(counters.index) + [None],
                            "n": [0] * len(counters) + [n_part]})

    vtype = dict(vals.dtypes)["v"]
    sketch = vals.mapInPandas(mg_partition, schema=f"v {vtype}, n long")
    sketch.persist()  # ≤ (width+1)·partitions rows
    total = sketch.agg(F.sum("n")).first()[0] or 0
    cands = sketch.filter(F.col("v").isNotNull()).select("v").distinct()
    exact = (vals.join(F.broadcast(cands), on="v", how="left_semi")
                 .groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
                 .filter(F.col("cnt") > threshold_frac * total))
    return exact.select(F.col("v").alias(col), "cnt")
