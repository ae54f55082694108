"""P1-P6 — long event log -> fixed-length wide sequence matrix.

Reference semantics (caspr/utils/spark/preprocess.py:373-435): keep the
latest ``n`` events per entity, compute a pad shift that aligns variable
length histories into slots ``1..n`` (left- or right-padded with NULLs),
then pivot each sequential column into ``{slot}_{col}`` wide columns.

Padding truth table (reference comment block preprocess.py:415-424):
``shift = n - seq_len`` applied when ``left_pad`` OR ``seq_len >= n``,
else 0. So ``slot = rank_asc + shift`` maps the kept events to:

- ``seq_len >= n``: the latest n events -> slots 1..n (both pad modes);
- ``seq_len < n``, right pad: slots 1..seq_len (NULL tail);
- ``seq_len < n``, left pad: slots (n-seq_len+1)..n (NULL head).

Scale design vs the reference:

- **Explicit pivot values** ``[1..n]`` — kills both the pivot's
  value-discovery job and the reference's dummy-rank union hack
  (preprocess.py:373-391).
- ``collect_sequences`` is the preferred 100 TB path: one hash aggregate
  producing ``ArrayType`` columns (no pivot's n×cols wide-plan explosion);
  ``sequences_to_wide`` materializes the flat reference-compatible layout
  from it with pure projections.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P6 = re.compile(r"(\d+)_(\w+)")


def quote(name: str) -> str:
    """``name`` as a backquoted SQL identifier (for ``selectExpr``)."""
    return "`" + name.replace("`", "``") + "`"


def add_pad_shift(df: DataFrame, n: int, left_pad: bool = False,
                  slot_col: str = "rank") -> DataFrame:
    """Compute the padding shift and target slot (P1); needs get_rank columns."""
    shift = F.lit(n) - F.col("seq_len")
    do_shift = F.lit(bool(left_pad)) | (shift <= 0)
    return df.withColumn(slot_col,
                         F.col("rank_asc") + F.when(do_shift, shift).otherwise(F.lit(0)))


def featurize_sequential(df: DataFrame, tgt_id: list[str], n: int,
                         seq_cols: list[str], left_pad: bool = False,
                         max_seq_len: int | None = None) -> DataFrame:
    """Pivot to the wide ``{slot}_{col}`` matrix, one row per entity (P1-P3).

    Signature-parallel to ``main_featurizer_sequential_sp``
    (caspr/utils/spark/preprocess.py:394-435).
    """
    required = {"seq_len", "rank_asc", "rank_desc"}
    if not required.issubset(df.columns):
        raise ValueError("call get_rank before featurize_sequential")

    # The reference computes max(seq_len) first and filters
    # rank_desc <= min(n, max_seq_len) (preprocess.py:411-412); since no row
    # has rank_desc > max(seq_len), that's identical to rank_desc <= n — so
    # we skip the extra driver action (callers may still pass max_seq_len).
    df = df.filter(F.col("rank_desc") <= (min(n, max_seq_len) if max_seq_len else n))
    df = add_pad_shift(df, n, left_pad)

    slots = list(range(1, n + 1))
    aggs = [F.first(F.col(c)).alias(c) for c in seq_cols]
    pivoted = df.groupBy(*tgt_id).pivot("rank", slots).agg(*aggs)

    # normalize Spark's pivot naming to the reference `{slot}_{col}` layout:
    # single-agg pivots are named just `{slot}`
    if len(seq_cols) == 1:
        c = seq_cols[0]
        for s in slots:
            pivoted = pivoted.withColumnRenamed(str(s), f"{s}_{c}")
    return pivoted.na.drop(subset=tgt_id)


def collect_sequences(df: DataFrame, tgt_id: list[str], n: int,
                      seq_cols: list[str], left_pad: bool = False,
                      seq_suffix: str = "_seq",
                      extra_aggs: list | None = None) -> DataFrame:
    """Array-layout alternative: each sequential column -> one length-``n``
    ``ArrayType`` column ``{col}{seq_suffix}`` (NULL-padded per the truth table).

    One ``map_from_entries(collect_list(...))`` hash aggregate per entity —
    no pivot, no wide plan; the idiomatic shape at 100 TB. ``extra_aggs``
    ride the same aggregate (e.g. per-entity profile columns via
    ``max(when(rank_desc=1, col))``), so attaching profile data costs zero
    additional shuffles or joins.

    Only ``rank_desc`` is consumed (round 15): the padding truth table
    resolves post-aggregation from the kept-row count ``m = size(map)``
    — slot ``i`` holds rank_desc ``m−i+1`` (right pad) / ``n−i+1``
    (left pad), which equals the former pre-aggregate
    ``rank_asc + shift`` slot arithmetic for every (seq_len, n, pad)
    case. Callers that rank with a bare
    ``row_number() over (partition by entity order by ts desc)`` skip
    the ``count() over (partition by entity)`` window entirely — one
    window function instead of two over the same exchange. (Precondition
    unchanged from get_rank: null-activity-date rows must be dropped
    first or ranks and counts diverge.)

    Precondition made LOUD (round 16 note): ``rank_desc`` must be a
    bijection 1..m per entity (``row_number``, not ``rank``/unioned
    ranked frames). Duplicate ranks now RAISE at execution under the
    default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` (the map is keyed
    by rank), where the former pivot/``first`` path silently picked one
    of the colliding rows — a loud failure on precondition-violating
    input, never a silent different answer on valid input.
    """
    if "rank_desc" not in df.columns:
        raise ValueError("call get_rank before collect_sequences")

    vals = ", ".join(f"{quote(c)} AS {quote(c)}" for c in seq_cols)
    packed = df.filter(f"rank_desc <= {n}").groupBy(*tgt_id).agg(
        F.expr("map_from_entries(collect_list(struct(CAST(rank_desc AS INT) "
               f"AS slot, struct({vals}) AS vals)))").alias("__slots"),
        *(extra_aggs or []))
    # slot i <- rank_desc key; missing keys (the pad region) yield NULL.
    # Every sequence is one SQL higher-order expression, and all of them
    # are one projection.
    key_base = str(n + 1) if left_pad else "size(__slots) + 1"
    seqs = [f"transform(sequence(1, {n}), i -> element_at(__slots, "
            f"CAST({key_base} - i AS INT)).{quote(c)}) AS {quote(c + seq_suffix)}"
            for c in seq_cols]
    return packed.selectExpr(
        *[quote(c) for c in packed.columns if c != "__slots"], *seqs)


def sequences_to_wide(df: DataFrame, seq_cols: list[str], n: int,
                      seq_suffix: str = "_seq", drop_arrays: bool = True) -> DataFrame:
    """Materialize array-layout sequences into flat ``{slot}_{col}`` columns
    (one projection)."""
    exprs = [quote(c) for c in df.columns
             if not (drop_arrays and c.endswith(seq_suffix))]
    exprs += [f"{quote(c + seq_suffix)}[{s - 1}] AS {quote(f'{s}_{c}')}"
              for c in seq_cols for s in range(1, n + 1)]
    return df.selectExpr(*exprs)


def pack_feature_arrays(df: DataFrame, cont_cols: list[str] | None = None,
                        cat_cols: list[str] | None = None,
                        drop: bool = True) -> DataFrame:
    """Pack continuous / categorical columns into two array columns (P7).

    Reference: scoring vectorization (caspr/utils/spark/score.py:22-23) —
    ``array(cont...) AS cont_features, array(cat...) AS cat_features`` then
    drop the originals. Pure ``F.array`` projection, no shuffle.
    """
    out = df
    if cont_cols:
        out = out.withColumn(
            "cont_features", F.array(*[F.col(c).cast("double") for c in cont_cols]))
    if cat_cols:
        out = out.withColumn(
            "cat_features", F.array(*[F.col(c).cast("long") for c in cat_cols]))
    if drop:
        out = out.drop(*(cont_cols or []), *(cat_cols or []))
    return out


def petastorm_rename(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """``{slot}_{col}`` -> ``{col}{slot}`` (P6; parquet field-name restrictions).

    Reference: caspr/utils/spark/preprocess.py:447-454.
    """
    mapping = {c: _P6.sub(r"\2\1", c) for c in (cols or df.columns)}
    return df.withColumnsRenamed({k: v for k, v in mapping.items() if k != v})


def petastorm_rename_list(cols: list[str]) -> list[str]:
    """List twin of ``petastorm_rename`` (preprocess.py:457-465)."""
    return [_P6.sub(r"\2\1", c) for c in cols]
