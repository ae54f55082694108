"""Temporal and skew-aware join operators.

The reference has no theta/as-of/anti joins (SURVEY §2.3) — its temporal
alignment is the history filter + window rank. These are the *extension*
joins a large-scale event pipeline needs:

- ``asof_join``: for each left event, the latest right event at-or-before
  it (per key). Implemented as union + last-value window — ONE shuffle on
  (key), no range cross-product, no per-key collect; this is the
  scale-correct shape (the naive ts-inequality join is quadratic per key).
- ``salted_join``: explicit key-salting for skewed equi-joins — the
  left side's hot keys spread over ``salt`` sub-keys, the right side
  replicated ``salt`` ways. AQE's skew-join handles most cases at runtime;
  salting is the deterministic fallback when one key dwarfs a task.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str = "ts", right_ts: str = "ts",
              value_cols: list[str] | None = None,
              tolerance_days: int | None = None,
              suffix: str = "_asof",
              direction: str = "backward") -> DataFrame:
    """As-of join: attach each right row's ``value_cols`` to every left row
    with ``right_ts <= left_ts`` (``direction="backward"``, latest such) or
    ``right_ts >= left_ts`` (``direction="forward"``, earliest such), per
    ``on`` key — pandas ``merge_asof`` semantics, one shuffle.

    Union the two sides tagged by origin, sort per key by (ts, origin),
    and carry the right values with ``last(..., ignorenulls)`` over an
    unbounded-preceding frame (backward) or ``first(..., ignorenulls)``
    over an unbounded-following frame (forward). Ties (equal timestamps)
    resolve to the right row: the origin tag orders right before left
    going backward and after left going forward, so an equal-``ts`` right
    row is always a candidate. ``tolerance_days`` nulls out matches
    farther than the window in the join direction.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in on and c != right_ts]

    # every right row contributes ONE struct of (all values + its ts); the
    # struct itself is never null for right rows, so last(..., ignorenulls)
    # always picks the latest right ROW atomically — a legitimately-NULL
    # value field stays NULL (no resurrection of older rows, no tearing
    # across value columns)
    lt = left.withColumn("__src", F.lit(1)).withColumn("__ts", F.col(left_ts))
    rt = right.select(*on, F.col(right_ts).alias("__ts"), *value_cols) \
              .withColumn("__src", F.lit(0))
    rt = rt.withColumn("__rrow", F.struct(
        *[F.col(c).alias(c) for c in value_cols],
        F.col("__ts").alias("__rts")))
    lt = lt.withColumn("__rrow", F.lit(None).cast(dict(rt.dtypes)["__rrow"]))
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(lt.dtypes)[c]))
    rt = rt.drop(*value_cols)
    unioned = lt.unionByName(rt.select(*lt.columns))

    if direction == "backward":
        w = (Window.partitionBy(*on)
             .orderBy(F.col("__ts").asc(), F.col("__src").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        picked = F.last(F.col("__rrow"), ignorenulls=True).over(w)
    else:
        # right rows (src 0) must sort AFTER the left row at equal ts so
        # the [current, +inf) frame still sees them
        w = (Window.partitionBy(*on)
             .orderBy(F.col("__ts").asc(), F.col("__src").desc())
             .rowsBetween(0, Window.unboundedFollowing))
        picked = F.first(F.col("__rrow"), ignorenulls=True).over(w)
    out = unioned.withColumn("__rrow", picked)
    out = out.filter(F.col("__src") == 1)

    stale = F.lit(False)
    if tolerance_days is not None:
        gap = (F.datediff(F.col("__ts"), F.col("__rrow.__rts"))
               if direction == "backward"
               else F.datediff(F.col("__rrow.__rts"), F.col("__ts")))
        stale = gap > tolerance_days
    for c in value_cols:
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(F.col("__rrow").isNull() | stale, F.lit(None))
             .otherwise(F.col(f"__rrow.{c}")))
    return out.drop("__src", "__ts", "__rrow")


def range_join(left: DataFrame, right: DataFrame,
               left_ts: str = "ts", right_start: str = "start_ts",
               right_end: str = "end_ts", bucket_hours: int = 24,
               broadcast_right: bool | None = None) -> DataFrame:
    """Interval (range) join: pair each left row with every right interval
    containing its timestamp (``start <= ts < end``), without the
    quadratic theta-join.

    Scale shape: a raw ``ON ts BETWEEN start AND end`` join has no equi
    key, so Spark plans a broadcast-nested-loop — O(|L|·|R|) at 100 TB.
    Instead both sides get discretized to ``bucket_hours`` time buckets:
    each left row lands in exactly ONE bucket; each right interval
    explodes to the buckets it covers (``sequence`` + ``explode``, a few
    rows for sane widths). The join becomes a hash equi-join on the
    bucket with the range predicate as a post-filter, and because a left
    row has a single bucket, no dedup pass is needed. Pick
    ``bucket_hours`` near the median interval length: wider buckets
    replicate intervals less but keep more non-matching pairs to filter.

    ``broadcast_right``: True forces a broadcast hint on the exploded
    interval side; None/False add no hint, leaving the strategy to AQE's
    runtime statistics.
    """
    sec = F.lit(bucket_hours * 3600).cast("long")
    lb = left.withColumn(
        "__bucket", (F.unix_timestamp(F.col(left_ts)) / sec).cast("long"))
    rb = right.withColumn("__bucket", F.explode(F.sequence(
        (F.unix_timestamp(F.col(right_start)) / sec).cast("long"),
        (F.unix_timestamp(F.col(right_end)) / sec).cast("long"))))
    if broadcast_right:
        rb = F.broadcast(rb)
    joined = lb.join(rb, on="__bucket", how="inner").filter(
        (F.col(left_ts) >= F.col(right_start))
        & (F.col(left_ts) < F.col(right_end)))
    return joined.drop("__bucket")


def sorted_neighborhood_pairs(df: DataFrame, key_col: str,
                              id_col: str = "id", window: int = 3,
                              max_distance: int | None = None,
                              out_col: str = "edit_distance") -> DataFrame:
    """Sorted-neighborhood record linkage: candidate pairs are rows
    within ``window`` positions of each other in the GLOBAL sort order
    of ``key_col`` — the classic complement to prefix blocking
    (``fuzzy_join``): typos in the first characters move a record only
    a few sort positions, exactly the case a prefix block misses.

    Recall contract (stated, as always): a true match more than
    ``window`` positions apart in the sort order is MISSED — run both
    blocking schemes and union when recall matters.

    Scale shape: the global position comes from the three-phase
    distributed prefix scan (``sampling.global_running_sum`` — no
    single-task global sort); each row then emits its ``window``
    forward offsets (one explode) and the candidate join is a plain
    INT equi-join on position, verified with thresholded
    ``levenshtein``. Work is ``window · N`` candidates, period — no
    hot-block quadratic blowup to cap, which is the other advantage
    over prefix blocking.

    Returns ``(id_a, id_b, out_col)`` with ``id_a``/``id_b`` the
    ``id_col`` values in sort order. ``max_distance`` None emits all
    neighbor pairs with their exact distance.
    """
    from caspr_spark.operators.sampling import global_running_sum

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = df.select(F.col(id_col).alias("__id"),
                     F.lower(F.col(key_col)).alias("__k"))
    ranked = global_running_sum(base.withColumn("__one", F.lit(1)),
                                "__one", [F.col("__k"), F.col("__id")],
                                out_col="__rk").drop("__one")
    probes = ranked.select(
        F.col("__id").alias("id_a"), F.col("__k").alias("__ka"),
        F.explode(F.sequence(F.col("__rk") + 1,
                             F.col("__rk") + window)).alias("__rk"))
    dist = (F.levenshtein(F.col("__ka"), F.col("__kb"), max_distance)
            if max_distance is not None
            else F.levenshtein(F.col("__ka"), F.col("__kb")))
    out = (probes.join(ranked.select(F.col("__id").alias("id_b"),
                                     F.col("__k").alias("__kb"), "__rk"),
                       on="__rk")
           .withColumn(out_col, dist))
    if max_distance is not None:
        out = out.filter(F.col(out_col) >= 0)   # thresholded: -1 = over
    return out.select("id_a", "id_b", out_col)


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          left_start: str, left_end: str,
                          right_start: str, right_end: str,
                          bucket_hours: int = 24,
                          broadcast_right: bool | None = None,
                          max_span_buckets: int = 10_000) -> DataFrame:
    """Interval × interval OVERLAP join: pair every left interval with
    every right interval it overlaps (half-open:
    ``l_start < r_end AND r_start < l_end``) — the reservation/outage/
    campaign-coverage primitive ``range_join`` (point-in-interval)
    cannot express — again without the quadratic theta join.

    Scale shape: BOTH sides explode to the ``bucket_hours`` time
    buckets they cover, the join is a hash equi-join on the bucket, and
    the exact overlap predicate post-filters. Overlapping pairs share
    one or more buckets; to avoid a global ``distinct`` de-dup pass,
    a pair is emitted ONLY in the FIRST bucket both intervals inhabit
    (``bucket == greatest(first_l_bucket, first_r_bucket)``) — an
    exact, shuffle-free dedup because that bucket provably exists for
    every overlapping pair and is unique.

    An interval spanning more than ``max_span_buckets`` buckets raises
    loudly in-plan (``assert_true``) instead of silently exploding a
    year-long interval into thousands of rows — widen ``bucket_hours``
    or split such intervals upstream. Column names must not collide
    across the two sides (rename first, as with ``fuzzy_join``).

    ``broadcast_right``: True hints broadcast on the exploded right
    side; None/False leave the strategy to AQE.
    """
    if bucket_hours < 1:
        raise ValueError(f"bucket_hours must be >= 1, got {bucket_hours}")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"column name collision across sides: {sorted(overlap)}; "
            "rename one side before joining")
    bus = F.lit(bucket_hours * 3600 * 1_000_000).cast("long")

    def buckets(start, end):
        b0 = F.floor(F.unix_micros(F.col(start)) / bus).cast("long")
        b1 = F.floor(F.unix_micros(F.col(end)) / bus).cast("long")
        guard = F.coalesce(
            F.assert_true(
                b1 - b0 < F.lit(max_span_buckets),
                F.concat(F.lit(f"interval_overlap_join: interval spans "
                               f">= {max_span_buckets} buckets of "
                               f"{bucket_hours}h; widen bucket_hours or "
                               "split the interval. start="),
                         F.col(start).cast("string"))).cast("long"),
            F.lit(0))
        return F.explode(F.sequence(b0 + guard, b1)).alias("__bucket")

    lb = left.select("*", buckets(left_start, left_end))
    rb = right.select("*", buckets(right_start, right_end))
    if broadcast_right:
        rb = F.broadcast(rb)
    first_shared = F.greatest(
        F.floor(F.unix_micros(F.col(left_start)) / bus).cast("long"),
        F.floor(F.unix_micros(F.col(right_start)) / bus).cast("long"))
    return (lb.join(rb, on="__bucket", how="inner")
            .filter((F.col(left_start) < F.col(right_end))
                    & (F.col(right_start) < F.col(left_end))
                    & (F.col("__bucket") == first_shared))
            .drop("__bucket"))


# integer widening ladder for bloom key-type reconciliation; any other
# numeric pair falls back to double (matching Spark's join-side implicit
# cast), and non-numeric mismatches raise.
_INT_LADDER = ["tinyint", "smallint", "int", "bigint"]
_NUMERICISH = set(_INT_LADDER) | {"float", "double"}

# hard ceiling on the bloom word-array literal embedded in every task's
# plan: 2^29 bits = 64 MiB of longs. Above it we clamp and warn — the
# filter keeps working at a worse fpp rather than OOMing the driver.
_BLOOM_MAX_BITS = 1 << 29


def _bloom_key_type(ltype: str, rtype: str) -> str | None:
    """Common hash type for the two join keys, or None if they already
    match. xxhash64 is type-sensitive (int 5 and bigint 5 hash
    differently), so mismatched dtypes MUST be reconciled before hashing
    or the filter produces false negatives — rows the exact join would
    match after Spark's implicit cast get silently dropped. Raises on
    pairs with no safe common type."""
    if ltype == rtype:
        return None
    if ltype in _INT_LADDER and rtype in _INT_LADDER:
        return _INT_LADDER[max(_INT_LADDER.index(ltype),
                               _INT_LADDER.index(rtype))]
    if (ltype in _NUMERICISH or ltype.startswith("decimal")) and \
       (rtype in _NUMERICISH or rtype.startswith("decimal")):
        return "double"
    raise ValueError(
        f"bloom_semi_join key dtypes differ ({ltype} vs {rtype}) with no "
        "safe common hash type; cast the keys explicitly before joining")


def _bloom_probes(col, m_bits: int, k: int):
    """k independent bit positions as native column exprs: probe i is
    ``pmod(xxhash64(col, i), m)``. Seeding the hash per probe avoids the
    classic h1 + i·h2 double-hash, whose int64 arithmetic overflows under
    ANSI mode; k extra xxhash64 calls are codegen-cheap."""
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
            for i in range(k)]


def bloom_semi_join(left: DataFrame, right: DataFrame, on: str,
                    right_on: str | None = None, n_items: int | None = None,
                    fpp: float = 0.01, how: str = "left_semi") -> DataFrame:
    """Semi/anti join with a Bloom-filter prefilter on the big side.

    The scale problem: ``events SEMI JOIN premium_users`` shuffles every
    left row, even though most will not survive the join. Spark's own
    runtime bloom filters solve this inside the optimizer; this operator
    is the same technique made explicit and deterministic:

    1. **Build** (one pass over the right side): k bit positions per key,
       OR-ed into 64-bit words by one ``bit_or`` aggregation; the ≤ m/64
       surviving words are collected as fitted state (same pattern as the
       encode dictionaries / scaling summaries — a tiny driver-side
       constant, megabytes at most, NOT the data).
    2. **Probe** (pure codegen, before any exchange): the words become an
       array literal; a left row survives iff all k probed bits are set.
       The filter sits in the scan stage, so the exchange for the exact
       join moves only ~selectivity + fpp of the left side.
    3. **Scrub**: the surviving rows still run the exact semi/anti join —
       Bloom false positives are removed, so the result is bit-identical
       to the plain join.

    ``n_items`` sizes the filter (``right.count()`` if omitted — pass the
    catalog statistic at scale); ``fpp`` is the target false-positive rate.
    """
    right_on = right_on or on
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"bloom_semi_join supports left_semi/left_anti, got {how!r}")
    common = _bloom_key_type(dict(left.dtypes)[on], dict(right.dtypes)[right_on])
    build_key = F.col(right_on).cast(common) if common else F.col(right_on)
    probe_key = F.col(on).cast(common) if common else F.col(on)
    if n_items is None:
        n_items = right.select(right_on).distinct().count()
    n = max(n_items, 1)
    m_bits = max(64, int(-n * math.log(max(fpp, 1e-12)) / (math.log(2) ** 2)))
    m_bits = ((m_bits + 63) // 64) * 64
    if m_bits > _BLOOM_MAX_BITS:
        eff_fpp = math.exp(-_BLOOM_MAX_BITS / n * math.log(2) ** 2)
        warnings.warn(
            f"bloom_semi_join: n_items={n_items:,} wants {m_bits // 8 // 2**20} MiB "
            f"of filter; clamping to {_BLOOM_MAX_BITS // 8 // 2**20} MiB "
            f"(effective fpp ~{eff_fpp:.3f} instead of {fpp}). The exact "
            "scrub join keeps the result correct; only prefilter "
            "selectivity degrades.", stacklevel=2)
        m_bits = _BLOOM_MAX_BITS
    k = max(1, round(m_bits / n * math.log(2)))

    probes = _bloom_probes(build_key, m_bits, k)
    words = (right.select(F.explode(F.array(*probes)).alias("pos"))
             .select((F.col("pos") / 64).cast("int").alias("w"),
                     F.expr("shiftleft(1L, int(pos % 64))").alias("bit"))
             .groupBy("w").agg(F.expr("bit_or(bit)").alias("word"))
             .collect())
    dense = [0] * (m_bits // 64)
    for r in words:
        dense[r.w] = r.word

    # probe: temp columns for the k positions + the word-array literal,
    # one codegen'd conjunction checks every bit, temp columns dropped
    probed = left.withColumn("__bw", F.lit(dense))
    for i, p in enumerate(_bloom_probes(probe_key, m_bits, k)):
        probed = probed.withColumn(f"__bp{i}", p)
    hit = F.expr(" AND ".join(
        f"(shiftrightunsigned(element_at(__bw, int(__bp{i} / 64) + 1), "
        f"int(__bp{i} % 64)) & 1L) = 1L" for i in range(k)))
    tmp = ["__bw"] + [f"__bp{i}" for i in range(k)]
    keys = (right.select(F.col(right_on).alias(on)) if right_on != on
            else right.select(on)).distinct()
    if how == "left_semi":
        # probe-miss rows cannot be in the join; only hits reach the shuffle
        return probed.filter(hit).drop(*tmp).join(keys, on=on, how="left_semi")
    # anti: probe-miss rows are DEFINITE keepers (bloom has no false
    # negatives) and bypass the join; only the hits need the exact check
    return probed.filter(~hit).drop(*tmp).unionByName(
        probed.filter(hit).drop(*tmp).join(keys, on=on, how="left_anti"))


def salted_join(left: DataFrame, right: DataFrame, on: list[str],
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join with explicit key salting for skew.

    Left rows get a random salt in ``[0, salt)``; the right side is
    replicated once per salt value, so each hot key spreads over ``salt``
    tasks. Use when a single key's row count dwarfs a task's memory and
    AQE's skew splitting isn't available (e.g. bucketed inputs).

    Only inner/left joins: a right or full outer join would surface each
    unmatched right row once per replica.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}: "
                         "right/full would duplicate unmatched right rows "
                         "once per salt replica")
    lsalt = left.withColumn("__salt",
                            (F.rand(seed=42) * salt).cast("int"))
    rsalt = right.crossJoin(
        F.broadcast(left.sparkSession.range(salt)
                    .select(F.col("id").cast("int").alias("__salt"))))
    return (lsalt.join(rsalt, on=[*on, "__salt"], how=how)
            .drop("__salt"))


def fuzzy_join(left: DataFrame, right: DataFrame, left_col: str,
               right_col: str, max_distance: int = 1, block_len: int = 3,
               out_col: str = "edit_distance",
               max_block_pairs: int | None = 1_000_000) -> DataFrame:
    """Blocked approximate string join — the entity-resolution /
    record-linkage primitive (match names, titles, addresses that differ
    by typos).

    Candidates are generated by an EQUI-join on a lowercase
    ``block_len``-character prefix block, then scrubbed with
    ``levenshtein(l, r) <= max_distance`` (evaluated with Spark's
    thresholded variant, which abandons a pair early once the distance
    bound is exceeded). Adds ``out_col`` with the exact distance.

    Recall contract (the standard blocking tradeoff, stated rather than
    hidden): a true match whose edits change the first ``block_len``
    characters lands in different blocks and is MISSED. Pick
    ``block_len`` no longer than the shortest trustworthy prefix, or
    run a second pass with a different blocking key (suffix, sorted
    token) and union the results.

    Scale shape: the block key hash-partitions like any equi-join —
    never a cartesian product — and the quadratic levenshtein work is
    confined within blocks, so block granularity is the knob trading
    recall against per-block fan-out (same discipline as the LSH
    banding in ``llm.dedup``). A HOT block (many rows sharing a prefix —
    e.g. low-diversity name vocabularies) still fans out as nl·nr within
    itself; ``max_block_pairs`` drops blocks whose pair fan-out exceeds
    the cap, with a warning naming how many blocks were skipped — the
    same stated-recall hot-key cap as ``winnow_pairs``' ``max_df``. The
    sf1 scale sweep measured the uncapped pathology at ~100x
    (SCALING_r04.md: 481 s uncapped, 99.7x its sf0.1 time; 6.4 s with
    a 1e6 cap), so the cap is ON BY DEFAULT (1e6 pairs per block);
    pass ``max_block_pairs=None`` to opt out when full recall inside hot
    blocks matters more than bounded work.

    .. versionchanged:: round 5
        ``max_block_pairs`` default changed from ``None`` (unbounded) to
        ``1_000_000``. **This is a recall change**: callers who relied on
        the old default now silently lose every match inside a block
        whose fan-out exceeds the cap (a runtime warning names how many
        blocks were dropped). Pass ``max_block_pairs=None`` explicitly to
        restore the old exhaustive-within-block behavior.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    if block_len < 1:
        raise ValueError(f"block_len must be >= 1, got {block_len}")
    if left_col == right_col:
        raise ValueError(
            f"left_col and right_col are both {left_col!r}: rename one "
            "side first so the joined row can carry both strings")
    lb = left.withColumn(
        "__blk", F.lower(F.substring(F.col(left_col), 1, block_len)))
    rb = right.withColumn(
        "__blk", F.lower(F.substring(F.col(right_col), 1, block_len)))
    if max_block_pairs is not None:
        if max_block_pairs < 1:
            raise ValueError(
                f"max_block_pairs must be >= 1, got {max_block_pairs}")
        sizes = (lb.groupBy("__blk").agg(F.count(F.lit(1)).alias("__nl"))
                 .join(rb.groupBy("__blk")
                         .agg(F.count(F.lit(1)).alias("__nr")), "__blk"))
        n_hot = sizes.filter(
            F.col("__nl") * F.col("__nr") > max_block_pairs).count()
        if n_hot:
            warnings.warn(
                f"fuzzy_join: dropping {n_hot} hot block(s) whose pair "
                f"fan-out exceeds max_block_pairs={max_block_pairs}; "
                "matches inside them are NOT produced (recall cap)")
        keep = (sizes.filter(F.col("__nl") * F.col("__nr")
                             <= max_block_pairs).select("__blk"))
        lb = lb.join(keep, on="__blk", how="left_semi")
    dist = F.levenshtein(F.col(left_col), F.col(right_col), max_distance)
    return (lb.join(rb, on="__blk", how="inner")
              .withColumn(out_col, dist)
              .filter(F.col(out_col) >= 0)   # thresholded variant: -1 = over
              .drop("__blk"))
