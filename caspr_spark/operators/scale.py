"""E5/E6 — min-max / standard scaling as native column expressions.

The reference implements scaling as one scalar pandas UDF per column
(caspr/utils/spark/preprocess.py:161-234) — an Arrow round-trip per column
per row batch. Here both directions are pure column arithmetic, so they
stay inside whole-stage codegen and cost nothing beyond the expression.

The fitted state ("summary") is a plain dict ``col -> {min,max,mean,stddev}``
computed in ONE aggregation pass (vs the reference's ``describe().toPandas()``).
``stddev`` is the sample standard deviation, matching both Spark ``describe``
and the oracle's SQL ``stddev``.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.operators.pivot import quote

logger = logging.getLogger(__name__)

Summary = dict[str, dict[str, float]]


# Summary key -> the SQL aggregate that fits it
_AGGS = {"min": "min", "max": "max", "mean": "avg", "stddev": "stddev_samp"}


def fit_summary(df: DataFrame, cols: list[str]) -> Summary:
    """min/max/mean/stddev per column in a single distributed agg pass (A3)."""
    if not cols:
        return {}
    return read_summary(df.agg(*summary_aggs(cols)).collect()[0], cols)


def summary_aggs(cols: list[str]) -> list:
    """The aggregates behind the :data:`Summary` of ``cols``, as SQL text."""
    return [F.expr(f"{fn}({quote(c)}) AS {quote(f'{c}__{k}')}")
            for c in cols for k, fn in _AGGS.items()]


def read_summary(row, cols: list[str]) -> Summary:
    """The :data:`Summary` in a row of :func:`summary_aggs`; all None
    when ``row`` is None (no input rows)."""
    return {c: {k: None if row is None else _f(row[f"{c}__{k}"]) for k in _AGGS}
            for c in cols}


def _f(v):
    return None if v is None else float(v)


def _check_scaling(scaling: str) -> None:
    if scaling not in ("min_max", "standard"):
        raise ValueError(f"scaler type not supported: {scaling}")


def normalize_value(x: float, col: str, summary: Summary, scaling: str = "min_max") -> float:
    """Normalize one scalar with a fitted summary (driver-side helper).

    Mirrors ``normalize_value`` (caspr/utils/spark/preprocess.py:65-85),
    including the pass-through on zero variance.
    """
    _check_scaling(scaling)
    s = summary[col]
    if scaling == "min_max":
        return (x - s["min"]) / (s["max"] - s["min"]) if s["max"] != s["min"] else x
    return (x - s["mean"]) / s["stddev"] if s["stddev"] else x


def normalize_columns(df: DataFrame, cols: list[str], summary: Summary | None = None,
                      scaling: str = "min_max"):
    """Scale ``cols`` in place; returns ``(df, summary)`` (E5).

    Zero-variance columns are left untouched with a warning, exactly like
    the reference (preprocess.py:178-180, 188-190).
    """
    _check_scaling(scaling)
    if summary is None:
        summary = fit_summary(df, cols)
    exprs = {}
    for c in cols:
        expr = scaled(F.col(c), summary[c], scaling)
        if expr is None:
            logger.info("no variance to normalize, consider dropping: %s", c)
        else:
            exprs[c] = expr
    return (df.withColumns(exprs) if exprs else df), summary


def scaled(expr, s: dict[str, float], scaling: str = "min_max"):
    """``expr`` scaled by one column's fitted summary ``s``, as a double;
    ``None`` on zero variance (the column is left untouched)."""
    _check_scaling(scaling)
    if scaling == "min_max":
        if s["min"] == s["max"]:
            return None
        out = (expr - F.lit(s["min"])) / F.lit(s["max"] - s["min"])
    else:
        if not s["stddev"]:
            return None
        out = (expr - F.lit(s["mean"])) / F.lit(s["stddev"])
    return out.cast("double")


def denormalize_columns(df: DataFrame, cols: list[str], summary: Summary,
                        scaling: str = "min_max") -> DataFrame:
    """Inverse of ``normalize_columns`` (E6; preprocess.py:202-234)."""
    _check_scaling(scaling)
    for c in cols:
        s = summary[c]
        if scaling == "min_max":
            if s["min"] == s["max"]:
                continue
            expr = F.col(c) * F.lit(s["max"] - s["min"]) + F.lit(s["min"])
        else:
            if not s["stddev"]:
                continue
            expr = F.col(c) * F.lit(s["stddev"]) + F.lit(s["mean"])
        df = df.withColumn(c, expr.cast("double"))
    return df


def save_summary(summary: Summary, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(summary, f)


def load_summary(path: str) -> Summary:
    with open(path) as f:
        return json.load(f)


def fit_group_summary(df: DataFrame, cols: list[str],
                      group_cols: list[str]) -> DataFrame:
    """Per-GROUP min/max/mean/stddev for ``cols`` in one distributed agg.

    The group-wise twin of :func:`fit_summary`: fitted state is a
    DataFrame keyed by ``group_cols`` (a dict would force the key space
    through the driver — per-entity normalization at 1e9 entities is
    exactly when that breaks), so apply is a keyed join that AQE
    broadcasts while the stats relation is small and sort-merges when it
    is not.
    """
    if not cols or not group_cols:
        raise ValueError("cols and group_cols must be non-empty")
    return df.groupBy(*group_cols).agg(*summary_aggs(cols))


def normalize_by_group(df: DataFrame, cols: list[str],
                       group_cols: list[str],
                       stats: DataFrame | None = None,
                       scaling: str = "min_max"):
    """Group-wise E5: scale ``cols`` within each ``group_cols`` key
    (per-entity z-scores / min-max — the feature-store normalization the
    global :func:`normalize_columns` cannot express when entities live
    on different value scales). Returns ``(df, stats)``; pass a fitted
    ``stats`` back in for the train/apply leakage discipline.

    Zero-variance groups keep their original values (the reference's
    per-column rule, applied per group — a constant entity has no scale
    to remove). Plan: one agg exchange for the fit + one keyed join for
    apply; the scaling itself is pure column arithmetic in codegen.
    """
    _check_scaling(scaling)
    if stats is None:
        stats = fit_group_summary(df, cols, group_cols)
    out = df.join(stats, on=group_cols, how="left")
    for c in cols:
        mn, mx, mean, std = (F.col(f"{c}__{k}") for k in _AGGS)
        if scaling == "min_max":
            expr = F.when(mx > mn, (F.col(c) - mn) / (mx - mn)) \
                    .otherwise(F.col(c))
        else:
            expr = F.when(std > 0, (F.col(c) - mean) / std) \
                    .otherwise(F.col(c))
        # unseen group (null stats) also falls through to the original
        out = out.withColumn(c, F.coalesce(expr.cast("double"),
                                           F.col(c).cast("double")))
    return out.drop(*[f"{c}__{k}" for c in cols for k in _AGGS]), stats
