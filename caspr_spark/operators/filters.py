"""F1/F2 — temporal predicates over the activity log.

Both are plain ``filter`` expressions, so Catalyst pushes them into the
parquet scan whenever the inputs are raw columns (check: ``PushedFilters``
in ``df.explain``) — at 100 TB this is the difference between scanning a
year and scanning a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.operators.scale import fit_summary


def filter_history_window(df: DataFrame, activity_date: str, prediction_date: str,
                          history_days: int, grace_days: int = 0) -> DataFrame:
    """Keep events with ``pred - history < ts < pred - grace`` (F1).

    Per-row (hence per-entity) cutoff — the reference computes
    ``start_date = unix_timestamp(pred) - history*86400`` and filters
    ``start_date < ts < pred`` (caspr/utils/spark/preprocess.py:577-581);
    ``grace_days`` is the pandas twin's extra offset
    (caspr/utils/preprocess.py:90-92). Bounds are exclusive on both sides.

    The start is floored to whole seconds, as the reference's
    ``unix_timestamp`` floors it; the end keeps ``pred``'s microseconds,
    matching the reference's ``ts < pred`` — flooring it too would drop
    an event in the same second as, but before, the prediction date.
    """
    start = (F.unix_timestamp(F.col(prediction_date))
             - F.lit(history_days * 86400)).cast("timestamp")
    end = F.col(prediction_date) - F.make_dt_interval(days=F.lit(grace_days))
    return df.filter((F.col(activity_date) > start) & (F.col(activity_date) < end))


def filter_last_n(df: DataFrame, n: int, rank_col: str = "rank_desc") -> DataFrame:
    """Keep each entity's latest ``n`` events (F2); requires ``get_rank`` first.

    Reference: caspr/utils/spark/preprocess.py:410-412.
    """
    if rank_col not in df.columns:
        raise ValueError(f"call get_rank first: missing {rank_col!r}")
    return df.filter(F.col(rank_col) <= n)


def remove_outliers(df: DataFrame, cols: list[str], k: float = 3.0) -> DataFrame:
    """Drop rows outside ``mean ± k·stddev`` on every column in ``cols`` (F5).

    Reference: caspr/utils/segmentation/pandas.py:147-155 (per-feature
    ±3σ clip before clustering). One distributed agg pass fits all the
    (mean, stddev) pairs; the filter itself is a pure conjunction of
    column predicates, so it stays in whole-stage codegen and — on raw
    parquet columns — can reach the scan.
    """
    stats = fit_summary(df, cols)
    cond = F.lit(True)
    for c in cols:
        mu, sd = stats[c]["mean"], stats[c]["stddev"]
        if sd is None or sd == 0:
            continue
        cond = cond & (F.abs(F.col(c) - F.lit(mu)) <= F.lit(k) * F.lit(sd))
    return df.filter(cond)


def remove_outliers_robust(df: DataFrame, cols: list[str],
                           k: float = 3.5,
                           relative_error: float = 0.0) -> DataFrame:
    """Drop rows outside ``median ± k·MAD_n`` per column — the robust
    twin of :func:`remove_outliers` (mean/σ break down when the
    contamination itself inflates σ; median/MAD have a 50% breakdown
    point, and k≈3.5 on the normal-consistent MAD is the usual rule).

    ``MAD_n = 1.4826 · median(|x - median(x)|)`` (normal-consistency
    constant). Fit is two aggregate passes (medians, then absolute
    deviations' medians); ``relative_error > 0`` switches both to
    Spark's Greenwald-Khanna approximate percentiles — the 100 TB path
    where an exact median would force a per-column global sort. The
    filter itself is codegen predicates, same as the classic version.
    """
    MAD_K = 1.4826

    def med(c):
        if relative_error > 0:
            return F.percentile_approx(c, 0.5,
                                       int(1.0 / relative_error))
        return F.median(c)

    meds = df.agg(*[med(F.col(c)).alias(c) for c in cols]).collect()[0]
    mads = df.agg(*[med(F.abs(F.col(c) - F.lit(meds[c]))).alias(c)
                    for c in cols]).collect()[0]
    cond = F.lit(True)
    for c in cols:
        m, mad = meds[c], mads[c]
        if m is None or mad is None or mad == 0:
            continue
        cond = cond & (F.abs(F.col(c) - F.lit(m))
                       <= F.lit(k * MAD_K) * F.lit(mad))
    return df.filter(cond)
