"""E8/E9 — NaN-fill semantics, including the subtle date-fill modes.

Reference: ``fill_date_nans_sp`` / ``fill_nans_sp``
(caspr/utils/spark/preprocess.py:88-158). The four date modes:

| interval | summary | fill value |
|---|---|---|
| True  | None | ``history_days`` (raw day count) |
| False | None | ``unix_timestamp(date_sub(prediction_date, history_days))`` |
| True  | yes  | ``normalize(history_days)`` under the fitted summary |
| False | yes  | normalized start-of-window epoch (per base date column) |

Works on both the long layout and the pivoted ``{slot}_{col}`` layout — the
slot prefix is stripped to find the base column's summary entry, so all
slots of one date column fill with the same value (preprocess.py:108-133).

Everything is ``when/otherwise`` / ``fillna`` column expressions — no UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.operators.scale import Summary, normalize_value, scaled

_PIVOTED = re.compile(r"(\d+)_(\w+)")


def _base_name(c: str) -> str:
    """``3_ts`` -> ``ts``; non-pivoted names pass through."""
    return c.split("_", 1)[-1] if _PIVOTED.match(c) else c


def fill_date_nans(df: DataFrame, date_cols: list[str], history_days: int = 365,
                   prediction_date: str = "prediction_date", interval: bool = False,
                   summary_date: Summary | None = None,
                   scaling: str = "min_max") -> DataFrame:
    """Fill null date features with the start-of-window default (E8)."""
    if not interval and prediction_date not in df.columns:
        raise ValueError(f"{prediction_date!r} not found in the DataFrame")

    if interval:
        # one fillna over every date column: the raw day count, or its
        # normalized value under each base column's summary
        if summary_date is None:
            return df.fillna(history_days, subset=date_cols)
        return df.fillna({c: float(normalize_value(history_days, _base_name(c),
                                                   summary_date, scaling))
                          for c in date_cols})

    # absolute mode: fill nulls only — non-null values and the column
    # dtype are preserved (the epoch feature is a double in this engine).
    # With a summary the fill is the *normalized* start-of-window epoch of
    # each base date column (reference preprocess.py:115-134).
    start = F.unix_timestamp(F.date_sub(F.col(prediction_date), history_days))
    dtypes = dict(df.dtypes)
    fills = {}
    for c in date_cols:
        if summary_date is None:
            fill = start.cast(dtypes[c])
        else:
            sow = start.cast("double")
            fill = scaled(sow, summary_date[_base_name(c)], scaling)
            fill = sow if fill is None else fill
        fills[c] = F.coalesce(F.col(c), fill)
    return df.withColumns(fills) if fills else df


def fill_nans(df: DataFrame, cat_cols: list[str] | None = None,
              cont_cols: list[str] | None = None,
              date_cols: list[str] | None = None, history_days: int = 365,
              prediction_date: str = "prediction_date", interval: bool = False,
              summary_date: Summary | None = None,
              scaling: str = "min_max") -> DataFrame:
    """Date nulls -> start-of-window; categorical/continuous nulls -> 0 (E9).

    Reference: ``fill_nans_sp`` (caspr/utils/spark/preprocess.py:138-158).
    One projection for the date fills and one ``fillna`` for the zeros.
    """
    if date_cols:
        df = fill_date_nans(df, date_cols, history_days, prediction_date,
                            interval, summary_date, scaling)
    zeros = list(cont_cols or []) + list(cat_cols or [])
    if zeros:
        df = df.fillna(0, subset=zeros)
    return df
