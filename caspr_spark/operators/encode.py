"""E1/E3 — frequency-ranked label encoding with cardinality capping.

Semantics (reference: caspr/utils/spark/preprocess.py:237-290
``encode_cat_columns_sparkrank``):

- fit: per categorical column, rank distinct values by (frequency desc,
  value asc) and keep the top ``max_cardinality``; codes are 1..K, with 0
  reserved for unknown / unseen / null / pruned values.
- transform: replace each value with its code; anything outside the fitted
  dictionary becomes 0.
- prune stats: ``pruned_product`` = mean fraction of distinct values pruned
  across over-cap columns; ``pruned_rows`` = fraction of input rows holding
  at least one pruned value.

Scale design vs the reference:

- The reference ranks via a **global unpartitioned window** over the
  grouped counts (preprocess.py:247) — a single-task sort, a job per
  column. Here one ``GROUPING SETS ((c1), ..., (cn), ())`` aggregate
  counts every column (the ``()`` row holds the row total and the
  featurizer's scaling summary), and a ``row_number`` per set, planned
  as a partial ``WindowGroupLimit``, keeps the top K before the exchange.
- The fitted dictionary is capped at 30k rows per column, far below the
  broadcast threshold, so transform is a **broadcast hash join per column**
  — zero shuffles of the fact table regardless of its size. Each
  dictionary is an Arrow ``LocalRelation`` (``sources.local_frame``), not
  a parallelized Python list, so its broadcast starts no Python-worker
  tasks; the joined codes replace the values in one projection.
- The reference's pandas-UDF variant (preprocess.py:293-352) does an O(V)
  ``list.index`` per value; deliberately not reproduced.
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.operators.pivot import quote
from caspr_spark.operators.scale import (Summary, fit_summary, read_summary,
                                         summary_aggs)
from caspr_spark.sources import local_frame

MAX_CAT_CARDINALITY = 30000
PRUNED_ITEMS = "pruned_product"
PRUNED_ROWS = "pruned_rows"
UNKNOWN_CODE = 0

logger = logging.getLogger(__name__)


@dataclass
class CategoricalEncoding:
    """Fitted per-column dictionaries: ``col -> [(value, code), ...]`` with codes 1..K."""

    mappings: dict[str, list[tuple]] = field(default_factory=dict)
    stats: dict[str, float] = field(
        default_factory=lambda: {PRUNED_ITEMS: 0.0, PRUNED_ROWS: 0.0})

    def vocab_sizes(self) -> dict[str, int]:
        """Per-column vocabulary size *including* the reserved 0/UNK slot.

        Mirrors ``get_num_activities`` (caspr/utils/spark/preprocess.py:25-44).
        """
        return {c: len(m) + 1 for c, m in self.mappings.items()}

    def apply(self, df: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """Replace each categorical value with its code (unknown -> 0).

        One broadcast join per column; original column order preserved.
        """
        dtypes = dict(df.dtypes)
        tables = {c: local_frame(df.sparkSession, self.mappings[c],
                                 f"{quote(c)} {dtypes[c]}, {quote(f'__{c}_code')} int")
                  for c in (cols or self.mappings)}
        return _lookup(df, tables, "code", str(UNKNOWN_CODE))

    def decode(self, df: DataFrame, cols: list[str] | None = None,
               unknown_token: str = "UNK") -> DataFrame:
        """Inverse transform: code -> original value, 0 -> ``unknown_token`` (E3).

        Reference: caspr/utils/spark/preprocess.py:355-370 (pandas-UDF map
        lookup there; broadcast join here).
        """
        tables = {c: local_frame(df.sparkSession,
                                 [(k, str(v)) for v, k in self.mappings[c]],
                                 f"{quote(c)} int, {quote(f'__{c}_val')} string")
                  for c in (cols or self.mappings)}
        token = unknown_token.replace("\\", "\\\\").replace("'", "\\'")
        return _lookup(df, tables, "val", f"'{token}'")

    def to_json(self) -> str:
        return json.dumps({"mappings": {c: [[v, k] for v, k in m]
                                        for c, m in self.mappings.items()},
                           "stats": self.stats})

    @classmethod
    def from_json(cls, s: str) -> "CategoricalEncoding":
        d = json.loads(s)
        return cls(mappings={c: [tuple(e) for e in m]
                             for c, m in d["mappings"].items()},
                   stats=d["stats"])

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "CategoricalEncoding":
        with open(path) as f:
            return cls.from_json(f.read())


def _lookup(df: DataFrame, tables: dict[str, DataFrame], tag: str,
            default: str) -> DataFrame:
    """Broadcast-join each ``(col, __{col}_{tag})`` lookup table on its
    column, then ONE projection replaces every looked-up column with
    ``coalesce(__{col}_{tag}, default)`` (``default`` is a SQL literal)
    in the original column order."""
    out_cols = list(df.columns)
    for c, table in tables.items():
        df = df.join(F.broadcast(table), on=c, how="left")
    return df.selectExpr(*[
        f"coalesce({quote(f'__{c}_{tag}')}, {default}) AS {quote(c)}"
        if c in tables else quote(c) for c in out_cols])


def top_k_by_frequency(df: DataFrame, column: str, k: int) -> DataFrame:
    """Distinct values of ``column`` ranked 1..k by (count desc, value asc).

    The deterministic tie-break matches the reference's
    ``filter_cat_cardinality`` (caspr/utils/spark/preprocess.py:246-251) but
    replaces its global single-partition window with a distributed
    TakeOrdered (``orderBy().limit(k)``).
    """
    return (df.na.drop(subset=[column])
              .groupBy(column).count()
              .orderBy(F.col("count").desc(), F.col(column).asc())
              .limit(k))


def fit_encoding(df: DataFrame, cols: list[str],
                 max_cardinality: int = MAX_CAT_CARDINALITY) -> CategoricalEncoding:
    """Fit frequency-ranked capped dictionaries for ``cols`` (E1 fit phase)."""
    return fit_encoding_with_summary(df, cols, [], max_cardinality)[0]


def fit_encoding_with_summary(df: DataFrame, cat_cols: list[str],
                              stat_cols: list[str],
                              max_cardinality: int = MAX_CAT_CARDINALITY
                              ) -> tuple[CategoricalEncoding, Summary]:
    """E1 dictionaries for ``cat_cols`` and the E5 :data:`Summary` of
    ``stat_cols`` from one aggregate, collected once (module docstring).
    Filling the cap costs a job for the true distinct counts; exceeding
    it, one more to count the rows that keep every value."""
    if max_cardinality < 1:
        raise ValueError(f"max_cardinality must be >= 1, got {max_cardinality}")
    enc = CategoricalEncoding()
    if not cat_cols:
        return enc, fit_summary(df, stat_cols)

    # grouping_id(), not a null test, tells a column's own null group
    # from the nulls that pad the other grouping sets
    total_gid = (1 << len(cat_cols)) - 1
    gids = {c: total_gid ^ (1 << i) for i, c in enumerate(reversed(cat_cols))}
    dtypes = dict(df.dtypes)
    keep = [f"__gid = {total_gid}"]
    for c in cat_cols:
        # the value filter of na.drop: null, and NaN for fractional types
        nan = f" AND NOT isnan({quote(c)})" if dtypes[c] in ("float", "double") else ""
        keep.append(f"(__gid = {gids[c]} AND {quote(c)} IS NOT NULL{nan})")
    order = ", ".join(["__n DESC"] + [quote(c) for c in cat_cols])
    rows = (df.groupingSets([[c] for c in cat_cols] + [[]], *cat_cols)
              .agg(F.expr("grouping_id() AS __gid"), F.expr("count(*) AS __n"),
                   *summary_aggs(stat_cols))
              .where(" OR ".join(keep))
              .selectExpr("*", "row_number() OVER (PARTITION BY __gid "
                               f"ORDER BY {order}) AS __rank")
              .where(f"__rank <= {max_cardinality}")
              .collect())

    # an empty input has no () row
    total_row = next((r for r in rows if r["__gid"] == total_gid), None)
    ranked = sorted(rows, key=lambda r: r["__rank"])
    for c in cat_cols:
        enc.mappings[c] = [(r[c], r["__rank"]) for r in ranked
                           if r["__gid"] == gids[c]]

    # true distinct counts are only needed for columns that filled the cap
    # (vs the reference's unconditional per-column distinct().count(),
    # preprocess.py:261); one agg pass covers them all
    cardinalities = {c: len(m) for c, m in enc.mappings.items()}
    saturated = [c for c in cat_cols if cardinalities[c] == max_cardinality]
    if saturated:
        card_row = df.agg(*[F.countDistinct(F.col(c)).alias(c)
                            for c in saturated]).collect()[0]
        cardinalities.update({c: card_row[c] for c in saturated})

    over_cap = [c for c in cat_cols if cardinalities[c] > max_cardinality]
    if over_cap:
        kept = df
        for c in over_cap:
            logger.info("column %s: pruned %d of %d distinct values",
                        c, cardinalities[c] - max_cardinality, cardinalities[c])
            kept_df = local_frame(df.sparkSession, [(v,) for v, _ in enc.mappings[c]],
                                  f"{quote(c)} {dtypes[c]}")
            kept = kept.join(F.broadcast(kept_df), on=c, how="left_semi")
        enc.stats[PRUNED_ITEMS] = sum(1 - max_cardinality / cardinalities[c]
                                      for c in over_cap) / len(over_cap)
        enc.stats[PRUNED_ROWS] = 1 - kept.count() / total_row["__n"]
    return enc, read_summary(total_row, stat_cols)


def fit_encoding_collect(df: DataFrame, cols: list[str],
                         max_cardinality: int = 100_000) -> CategoricalEncoding:
    """E2 fit: dictionary from *sorted distinct values*, codes 1..V (0=UNK).

    The reference's collect-strategy encoder gathers ``collect_set`` per
    column and sorts for determinism, reserving index 0 for the UNK
    sentinel (caspr/utils/spark/preprocess.py:293-352, :331-339). Its
    transform does an O(V) ``list.index`` per value inside a pandas UDF —
    here transform stays ``CategoricalEncoding.apply`` (broadcast join),
    only the fit ordering differs from ``fit_encoding`` (alphabetical vs
    frequency-ranked).

    ``max_cardinality`` guards the driver: the reference collects the full
    distinct set unconditionally and OOMs the driver on a miscategorized
    high-cardinality column; here the cheap ``approx_count_distinct``
    pre-check raises loudly instead. Use the capped ``fit_encoding`` (E1)
    path for genuinely huge vocabularies.
    """
    enc = CategoricalEncoding()
    if not cols:
        return enc
    approx = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols]) \
               .collect()[0]
    # approx_count_distinct's default rsd is 5%; use a 1.2 slack factor so
    # the guard never false-positives near the cap
    over = {c: int(approx[c]) for c in cols
            if approx[c] > max_cardinality * 1.2}
    if over:
        raise ValueError(
            f"fit_encoding_collect: column(s) exceed max_cardinality="
            f"{max_cardinality}: {over} (approximate counts). Collecting "
            "the full dictionary would risk driver OOM — raise "
            "max_cardinality explicitly or use the capped fit_encoding (E1).")
    row = df.agg(*[F.sort_array(F.collect_set(c)).alias(c) for c in cols]) \
            .collect()[0]
    for c in cols:
        enc.mappings[c] = [(v, i + 1) for i, v in enumerate(row[c])]
    return enc
