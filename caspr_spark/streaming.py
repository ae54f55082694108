"""Structured Streaming surface — the reference's batch featurization
re-expressed over unbounded event streams.

The reference is batch-only (its "watermark" is the per-entity
prediction-date filter, caspr/utils/spark/preprocess.py:577-581; SURVEY
§1.2). This module is the streaming extension:

- ``stream_events``: file-source ``readStream`` over the same parquet
  tables (handles the ns-timestamp wart like ``read_parquet_table``);
- ``windowed_event_stats``: event-time tumbling-window aggregation with a
  real watermark for late data;
- ``streaming_last_n``: a custom stateful operator via
  ``applyInPandasWithState`` that maintains each entity's latest-n events
  — the incremental twin of get_rank + filter_last_n (W1+F2). State is
  a bounded top-n by (ts, tiebreak), so results are independent of
  micro-batch boundaries.
- ``run_to_memory``: drain a finite stream with ``trigger(availableNow)``
  into an in-memory table — how the driver-facing queries and tests turn
  a streaming plan into a checkable DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from caspr_spark.workers import shipped


def stream_events(spark: SparkSession, path: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over one parquet table (file or its directory).

    ns-timestamp columns arrive as longs (legacy conf) and are rebuilt to
    microsecond timestamps with integer division, same as the batch
    reader in ``caspr_spark.sources``.
    """
    import glob as _glob
    import os as _os

    from caspr_spark.sources import (_NANOS_CONF, _nanos_timestamp_cols,
                                     _rebuild_nanos)

    if _os.path.isdir(path):
        base, pattern = path, "*.parquet"
        if not _glob.glob(_os.path.join(path, "*.parquet")):
            raise ValueError(f"no parquet files under {path!r}")
    else:
        base, pattern = _os.path.dirname(path), _os.path.basename(path)

    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # NOTE: intentionally NOT restored — the streaming query reads
        # files lazily long after this function returns, so the legacy
        # conf must stay set for the life of the stream. Batch reads are
        # unaffected: read_parquet_table manages the conf per call.
        spark.conf.set(_NANOS_CONF, "true")
    static = spark.read.option("pathGlobFilter", pattern).parquet(base)
    reader = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", pattern))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _rebuild_nanos(reader.parquet(base), ns_cols)


def windowed_event_stats(stream: DataFrame, ts_col: str = "ts",
                         key_col: str = "event_type", value_col: str = "value",
                         window: str = "1 day",
                         watermark: str = "1 day") -> DataFrame:
    """Tumbling event-time window aggregation with a late-data watermark.

    At scale this is the canonical shape: the watermark bounds state, the
    window+key grouping shuffles once, partial aggregation is map-side.
    """
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(value_col).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), key_col,
                    "n", "sum_value"))


def streaming_last_n(stream: DataFrame, n: int, key_col: str = "user_id",
                     ts_col: str = "ts", value_col: str | list[str] = "value",
                     tiebreak_col: str = "event_id") -> DataFrame:
    """Stateful latest-n tracker: ``applyInPandasWithState`` keeping each
    entity's n most-recent events across micro-batches — the incremental
    twin of the batch sequence featurizer, for one or several value
    columns.

    Output: one row per entity per micro-batch with the current latest-n
    values per column (slot 1 = oldest retained, the pivot layout) plus a
    monotonically increasing ``ver`` — in update mode the memory sink
    appends one row per key per batch, so the final state per key is the
    max-``ver`` row. State is the bounded (ts_epoch_us, tiebreak,
    values...) tuple list + the counter — O(n·cols) per key.

    The key column keeps its source type; value columns must be numeric
    (tracked as doubles) and the tiebreak integral.
    """
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    key_type = dict(stream.dtypes)[key_col]
    out_cols = [key_col, "ver"] + [f"{s}_{c}" for c in value_cols
                                   for s in range(1, n + 1)]
    out_schema = (f"`{key_col}` {key_type}, ver int, " +
                  ", ".join(f"`{s}_{c}` double" for c in value_cols
                            for s in range(1, n + 1)))
    state_schema = ("ts array<long>, tb array<long>, " +
                    ", ".join(f"v{i} array<double>"
                              for i in range(len(value_cols))) + ", ver int")

    @shipped
    def update(key, pdfs, state: GroupState):
        import pandas as pd
        tuples, ver = [], 0
        if state.exists:
            st = state.get
            ts0, tb0, vals0, ver = st[0], st[1], st[2:-1], st[-1]
            tuples = list(zip(ts0, tb0, *vals0))
        for pdf in pdfs:
            ep = (pdf[ts_col].astype("int64") // 1000).tolist()  # ns -> us
            tuples.extend(zip(ep, pdf[tiebreak_col].tolist(),
                              *[pdf[c].tolist() for c in value_cols]))
        tuples.sort(key=lambda t: (t[0], t[1]))
        tuples = tuples[-n:]
        state.update((
            [int(t[0]) for t in tuples],
            [int(t[1]) for t in tuples],
            *[[float(t[2 + i]) for t in tuples]
              for i in range(len(value_cols))],
            ver + 1,
        ))
        pad = n - len(tuples)
        row = [key[0], ver + 1]
        for i in range(len(value_cols)):
            row += [t[2 + i] for t in tuples] + [None] * pad
        yield pd.DataFrame([row], columns=out_cols)

    return (stream.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_sessions(stream: DataFrame, gap: str = "2 days",
                       key_col: str = "user_id", ts_col: str = "ts",
                       value_col: str = "value",
                       watermark: str = "40 days") -> DataFrame:
    """Event-time sessionization over an unbounded stream — the
    incremental twin of the batch ``sessionize`` (W5), via Spark's
    native ``session_window`` state store.

    One row per (entity, session): start, end (= last event + gap, the
    session_window convention), event count, value sum. Sessions merge
    while an event lands strictly inside the gap horizon (``ts <
    prev + gap``); the watermark bounds both late-data acceptance and
    state retention — at production scale it should be the real
    lateness SLA (minutes), which evicts each session's state shortly
    after it closes. The generous default exists for finite
    availableNow drains where nothing may be dropped.

    Scale shape: the grouping shuffles once on (key, session-window);
    merging is done by the state store per key, so skew follows the
    entity key distribution — same bound as every per-entity operator
    here (AQE-splittable, no global state).
    """
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col),
                     F.session_window(F.col(ts_col), gap).alias("sw"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(value_col), 6).alias("sum_value"))
            .select(key_col, F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"), "n",
                    "sum_value"))


#: Per-key state of the prequential anomaly operator: EXACTLY three
#: fixed-width numbers (count, sum, sum of squares) = 24 bytes of
#: payload per entity. At 1e9 distinct entities that is ~24 GB of raw
#: state before store overhead (key bytes + HDFS-backed store ~2-3x) —
#: shard-by-entity across executors and it stays comfortably in memory;
#: state NEVER grows with events-per-key, only with key cardinality.
#: Pinned by tests/test_streaming.py (scale audit, r4 verdict item 9).
ANOMALY_STATE_SCHEMA = "n long, s double, q double"


def streaming_anomaly_zscore(stream: DataFrame, key_col: str = "user_id",
                             ts_col: str = "ts", value_col: str = "value",
                             tiebreak_col: str = "event_id") -> DataFrame:
    """Prequential per-entity anomaly scores over an unbounded stream:
    each event is z-scored against its entity's running statistics as
    they stood BEFORE that event arrived (test-then-train, so the score
    is honest — an event never influences its own baseline).

    State per key is three numbers (count, sum, sum-of-squares); the
    per-batch update is vectorized (cumulative sums over the batch's
    time-sorted values), so the Python worker does O(rows) numpy work,
    never a per-row interpreter loop. Emits (key, tiebreak, n_prior, z)
    with ``z`` null until two prior observations exist or the prior
    variance is 0; null values are ignored (excluded from both scoring
    and the state).

    Exact prequential semantics require a time-ordered replay, same
    contract as the stream-stream join: events must arrive no earlier
    than already-absorbed state (a shuffled-history replay would score
    events against statistics from their future).
    """
    key_type = dict(stream.dtypes)[key_col]
    tb_type = dict(stream.dtypes)[tiebreak_col]
    out_schema = (f"`{key_col}` {key_type}, `{tiebreak_col}` {tb_type}, "
                  "n_prior int, z double")
    state_schema = ANOMALY_STATE_SCHEMA

    @shipped
    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd
        n, s, q = (state.get if state.exists else (0, 0.0, 0.0))
        frames = [pdf[[ts_col, tiebreak_col, value_col]] for pdf in pdfs]
        batch = pd.concat(frames).sort_values([ts_col, tiebreak_col])
        batch = batch[batch[value_col].notna()]
        v = batch[value_col].to_numpy(dtype="float64")
        k = len(v)
        pn = n + np.arange(k)
        ps = s + np.concatenate([[0.0], np.cumsum(v)[:-1]])
        pq = q + np.concatenate([[0.0], np.cumsum(v * v)[:-1]])
        with np.errstate(invalid="ignore", divide="ignore"):
            var = (pq - ps * ps / np.maximum(pn, 1)) / np.maximum(pn - 1, 1)
            sd = np.sqrt(var)
            z = (v - ps / np.maximum(pn, 1)) / sd
        z = np.where((pn >= 2) & (sd > 0), np.round(z, 6), np.nan)
        state.update((int(n + k), float(s + v.sum()),
                      float(q + (v * v).sum())))
        if k:  # an all-null batch emits nothing (empty frames would
            #   reach Arrow with object dtypes and fail the schema)
            yield pd.DataFrame({
                key_col: [key[0]] * k,
                tiebreak_col: batch[tiebreak_col].to_numpy(),
                "n_prior": pn.astype("int32"),
                "z": z,
            })

    return (stream.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def enrich_with_static(stream: DataFrame, dim: DataFrame,
                       on: list[str] | str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (small)
    static dimension — planned as a broadcast hash join per batch, the
    canonical way to attach dimension attributes to a stream."""
    from pyspark.sql import functions as F
    return stream.join(F.broadcast(dim), on=on, how="left")


def stream_stream_join(left: DataFrame, right: DataFrame,
                       on: str | list[str], left_ts: str = "ts",
                       right_ts: str = "ts", max_delay: str = "3 days",
                       watermark: str = "1 day",
                       suffix: str = "_r") -> DataFrame:
    """Watermarked stream-stream inner join with an event-time bound.

    The canonical Spark shape for correlating two unbounded streams:
    both sides carry watermarks, and the join condition pairs the equi
    key with a time-range predicate
    (``left_ts <= right_ts <= left_ts + max_delay``). The range bound
    plus the watermarks is what makes state finite — each side's rows
    are evicted once the other side's watermark passes the last instant
    they could still match; without the bound the join would buffer both
    streams forever. Matches emit as they form (append mode), so no
    final-watermark flush is needed to see results.

    Right-side columns that collide with left names (including the
    timestamp) are suffixed. Inner join only: streaming outer joins need
    the watermark delta to emit nulls and are a different latency
    contract.
    """
    on = [on] if isinstance(on, str) else list(on)
    renamed = {}
    rw = right
    for c in right.columns:
        if c in left.columns:
            renamed[c] = c + suffix
            rw = rw.withColumnRenamed(c, c + suffix)
    rts = renamed.get(right_ts, right_ts)
    lw = left.withWatermark(left_ts, watermark)
    rw = rw.withWatermark(rts, watermark)
    cond = F.lit(True)
    for k in on:
        cond = cond & (F.col(k) == F.col(renamed.get(k, k)))
    cond = cond & (F.col(rts) >= F.col(left_ts)) \
                & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    out = lw.join(rw, cond, "inner")
    # collapse the duplicated join keys back to one column each
    for k in on:
        if k in renamed:
            out = out.drop(renamed[k])
    return out


def streaming_dedup(stream: DataFrame, id_cols: list[str], ts_col: str = "ts",
                    watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup with watermark-BOUNDED state.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): duplicate ids
    arriving within the watermark horizon collapse, and each key's state
    is evicted once the watermark passes it — plain ``dropDuplicates`` on
    non-event-time keys would grow state forever."""
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(id_cols))


def streaming_dedup_against_history(stream: DataFrame,
                                    history_keys: DataFrame,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    ts_col: str = "ts",
                                    watermark: str = "1 day",
                                    normalize: bool = True) -> DataFrame:
    """STREAMING incremental corpus dedup: the continuous form of
    ``llm.dedup.dedup_against_history`` — a document stream (the live
    crawl) drops (a) docs whose content key exists in the persisted
    history key table and (b) within-stream re-crawls inside the
    watermark horizon.

    Two stages, both state-bounded:

    1. stream-static LEFT ANTI join against ``history_keys`` (the
       parquet table ``llm.dedup.build_history_keys`` /
       ``save_history_keys`` maintain) — planned per micro-batch as a
       broadcast/hash anti join, no streaming state at all;
    2. ``dropDuplicatesWithinWatermark`` on the content key — dedup
       state per key is evicted once the watermark passes it.

    NULL-text contract matches the batch operator: a null text has no
    content key, so such rows are always kept — the anti join never
    matches a null key, and stage 2 keys null-text rows by
    ``id_col`` (otherwise every null-text row would collapse onto the
    single NULL key).

    Between crawl days, fold the accepted output into the key table
    with ``append_history_keys`` and save — the stream restart then
    dedups against the grown history without ever rescanning it.
    """
    from caspr_spark.llm.dedup import _content_key

    key = _content_key(text_col, normalize)
    keyed = stream.withColumn(
        "__k", F.coalesce(key, F.concat(F.lit("__null__"),
                                        F.col(id_col).cast("string"))))
    hk = history_keys.select(F.col("content_key").alias("__k"))
    kept = keyed.join(hk, on="__k", how="left_anti")
    return (kept.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__k"])
            .drop("__k"))


def streaming_gram_census(stream: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 8) -> DataFrame:
    """STREAMING substring-census fold: the continuous form of
    ``llm.dedup.build_gram_census`` / ``append_gram_census`` — a
    document stream's word-``n``-gram occurrence counts maintained as
    streaming aggregation state, one ``(gram_hash, cnt, gram_n)`` row
    per distinct gram.

    The batch fold is a pure per-hash sum, associative and commutative
    by construction (dedup.py:584 docstring) — which is exactly the
    contract a Structured Streaming aggregation needs: each micro-batch
    explodes its own documents' positional grams (``_positional_grams``
    — the SAME gram definition as every span operator, so the streamed
    census feeds ``duplicated_spans_incremental`` /
    ``trim_duplicated_spans_incremental`` unchanged) and the built-in
    ``groupBy(hash).count`` folds them into state. The drained state is
    therefore row-identical to a one-shot full-corpus
    ``build_gram_census`` REGARDLESS of how documents split into
    micro-batches or in what order they arrive — the
    ``stream_dedup_history`` oracle discipline, pinned by the
    batch-boundary-independence test and the full-corpus oracle.

    No watermark, deliberately: a census is a monotone ALL-TIME
    aggregate (history grams must keep counting), so state grows with
    gram cardinality — the same hash-only, text-free footprint as the
    persisted batch census, orders of magnitude smaller than the
    corpus. Run it in ``update`` mode with a stateful sink in
    production, or use :func:`run_gram_census_to_state` /
    :func:`gram_census_sink` — the ``foreachBatch`` +
    ``append_gram_census`` composition onto a versioned parquet state
    table, restart-safe and certified row-identical to the one-shot
    census (round 12); ``complete`` + memory sink in tests."""
    from caspr_spark.llm.dedup import _positional_grams

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    _, grams = _positional_grams(stream, id_col, text_col, n)
    return (grams.groupBy(F.col("__h").alias("gram_hash"))
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .withColumn("gram_n", F.lit(n).cast("int")))


from caspr_spark.state import prune_state, read_live_frames


def _leased(state_dir: str, fold):
    """The ``foreachBatch`` callable of a state sink: runs
    ``fold(batch_df, batch_id, trusted)`` under the single-writer lease
    on ``state_dir``.

    On a stream's thread the writer is the stream's query id (the
    ``sql.streaming.queryId`` local property: the same after a restart
    from one checkpoint, different under another checkpoint). The
    first fold under each id claims the dir for it
    (:func:`caspr_spark.state.claim_writer`), so a second stream
    pointed at the same state dir fails at its first fold instead of
    interleaving batch ids. ``trusted`` is True only while that lease
    is held and an earlier fold under it completed: that fold ran the
    sink's state probe, and every frame since was committed by this
    writer, so the sink may skip the probe. A direct caller has no
    query id: it takes no lease, ``trusted`` stays False and every
    fold probes, as the batch APIs do."""
    from caspr_spark.state import claim_writer

    held = {}          # query id -> an earlier fold under its lease completed

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if qid is not None and qid not in held:
            claim_writer(spark, state_dir, qid)
            held[qid] = False
        fold(batch_df, batch_id, held.get(qid, False))
        if qid is not None:
            held[qid] = True

    return _run


def _drain(writer, what: str, timeout_sec: int) -> None:
    """Start ``writer`` with an ``availableNow`` trigger and wait until
    it has processed everything in its source. On timeout the query is
    stopped first, so it cannot keep mutating the sink, then this
    raises instead of leaving a partial result."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"{what} did not drain within {timeout_sec}s")


def read_gram_census_state(spark, state_dir: str, n: int):
    """Current census state as ONE DataFrame, either layout.

    Rebuild layout (``v{b}`` dirs): the newest full census. Delta
    layout (``c{b}``/``d{b}``): the newest compact merged with every
    younger delta via
    :func:`~caspr_spark.llm.dedup.merge_gram_censuses` — at most
    ``compact_every`` frames, so the read-side merge stays bounded.
    Raises on an empty state dir and on a mixed-layout dir (a rebuild
    sink and a delta sink pointed at the same path)."""
    from caspr_spark.llm.dedup import _check_gram_n, merge_gram_censuses

    dfs = read_live_frames(spark, state_dir, "census")
    # the single-frame path keeps the in-plan width guard the merge
    # path gets from merge_gram_censuses — a state built at one n must
    # never silently feed a consumer expecting another
    return (_check_gram_n(dfs[0], n) if len(dfs) == 1
            else merge_gram_censuses(dfs, n))


def gram_census_sink(state_dir: str, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8,
                     track_first: bool = False,
                     layout: str = "rebuild", compact_every: int = 8):
    """The PRODUCTION sink for the streaming census — the
    ``foreachBatch`` + census-fold composition
    :func:`streaming_gram_census`'s docstring prescribes, as a ready
    ``foreachBatch`` callable. Two write layouts:

    ``layout='rebuild'``: micro-batch ``b`` folds into the latest
    committed census and writes the WHOLE census to ``state_dir/v{b}``.
    Simple, one live frame — but each fold pays O(census) write, so it
    fits batch-shaped cadences (a daily crawl against a state table
    that is large but rewritten once a day), NOT second-level triggers
    over web-scale state.

    ``layout='delta'``: the LSM shape — batch ``b`` writes only ITS OWN
    gram counts to ``d{b}`` (O(batch) write, independent of state
    size); every ``compact_every``-th commit merges the newest compact
    + live deltas + the batch into a new compact ``c{b}`` (the
    O(census) cost paid once per ``compact_every`` batches, amortized
    O(census/compact_every)); readers merge at most ``compact_every``
    frames (:func:`read_gram_census_state`), exact because the fold is
    associative (:func:`~caspr_spark.llm.dedup.merge_gram_censuses`).
    This is the layout that survives frequent triggers over
    billions-of-grams state.

    Both layouts write NEW paths only, never overwriting live state
    (the :func:`~caspr_spark.llm.dedup.append_history_keys` swap
    discipline: overwriting parquet a lazy reader may still hold
    truncates it mid-scan). Exactly-once across restarts comes from
    two facts: Structured Streaming's checkpoint REPLAYS a batch id
    after a crash rather than renumbering, and the fold is keyed by
    that id — a replayed batch whose dir is already committed
    (``_SUCCESS`` present) is skipped; one that crashed mid-write left
    no marker and is rewritten idempotently (batch ids never reuse, so
    the only possible occupant of the dir is a failed attempt of the
    SAME fold; the delta-vs-compact decision is a pure function of the
    committed set, so a replay re-decides identically). Prune
    superseded dirs with :func:`prune_census_state`.

    ``track_first=True`` builds first-occurrence-tracking state
    (``first_id``/``first_pos`` ride through every fold and merge),
    the shape
    :func:`~caspr_spark.llm.dedup.trim_duplicated_spans_incremental`
    consumes.

    On a stream, the first fold claims the state dir for the stream's
    query id (:func:`_leased`): a second stream with another checkpoint
    fails at its first fold instead of interleaving batch ids (each
    stream numbers batches from its own checkpoint, and the commit
    protocol cannot tell their ids apart after the fact).
    """
    if layout not in ("rebuild", "delta"):
        raise ValueError(f"layout must be 'rebuild' or 'delta', "
                         f"got {layout!r}")
    if compact_every < 2:
        raise ValueError(f"compact_every must be >= 2, got {compact_every}")
    from caspr_spark.llm.dedup import (build_gram_census,
                                       merge_gram_censuses)
    from caspr_spark.state import fold_commit

    def _fold(batch_df: DataFrame, batch_id: int, _trusted: bool) -> None:
        fold_commit(
            batch_df.sparkSession, state_dir, batch_id, layout,
            compact_every,
            build_gram_census(batch_df, id_col, text_col, n,
                              track_first=track_first),
            lambda frames: merge_gram_censuses(frames, n))

    return _leased(state_dir, _fold)


def prune_census_state(spark, state_dir: str, keep_last: int = 2) -> list[int]:
    """The TTL job :func:`gram_census_sink`'s docstring prescribes —
    delete SUPERSEDED committed state, layout-aware:

    - rebuild layout (``v{b}``): every full census older than the
      newest ``keep_last`` (default 2 — the live census plus one
      predecessor for in-flight readers);
    - delta layout (``c{b}``/``d{b}``): everything strictly older than
      the ``keep_last``-th-newest COMPACT — compacts are the restore
      points; deltas younger than the oldest kept compact are LIVE
      data and are never touched.

    Never touches markerless dirs (a concurrently-writing fold owns
    those). Returns the deleted batch ids. Run it AFTER consumers of
    the old versions have finished — parquet dirs a lazy plan still
    reads must not be deleted under it (the same swap-discipline
    caveat as ``append_history_keys``); scheduling it one trigger
    behind the stream keeps one version of slack.
    """
    return prune_state(spark, state_dir, keep_last)


def run_gram_census_to_state(stream: DataFrame, state_dir: str,
                             checkpoint_dir: str, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 8,
                             track_first: bool = False,
                             layout: str = "rebuild",
                             compact_every: int = 8,
                             timeout_sec: int = 120) -> DataFrame:
    """Drain a document stream through :func:`gram_census_sink` and
    return the current census state (:func:`read_gram_census_state`).
    ``availableNow`` trigger: processes everything currently in the
    source then stops — the batch-job-shaped invocation of the
    continuous pipeline (rerun on a schedule, or swap the trigger for
    a long-lived query). The checkpoint dir is what makes restarts
    resume at the next batch id instead of refolding from scratch —
    reuse it across invocations, and keep ``layout`` stable per state
    dir (the sink refuses a mismatch)."""
    _drain(stream.writeStream
           .foreachBatch(gram_census_sink(state_dir, id_col, text_col, n,
                                          track_first, layout,
                                          compact_every))
           .option("checkpointLocation", checkpoint_dir),
           "gram census stream", timeout_sec)
    return read_gram_census_state(stream.sparkSession, state_dir, n)


def dedup_corpus_sink(state_dir: str, out_dir: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      mode: str = "exact", normalize: bool = True,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_size: int = 3, threshold: float = 0.8,
                      hash_family: str = "fast",
                      compact_every: int = 8,
                      batch_internal: bool = True):
    """EXACTLY-ONCE streaming corpus dedup — the continuous-crawl
    composition of the incremental-dedup state layer, as a ready
    ``foreachBatch`` callable. Per micro-batch ``b``:

    1. find the batch's duplicates. Exact mode: keep the min-id doc
       per content key (:func:`~caspr_spark.llm.dedup.exact_dedup`,
       ``batch_internal=True``), then anti-join the versioned key
       table (:func:`~caspr_spark.llm.dedup.dedup_against_history`).
       Near mode: ONE banded join of the batch's band keys against
       the union of its own band keys (``batch_internal=True``) and
       the versioned signature table's, then one shingle-Jaccard
       verification join — a doc is dropped when it verifies against
       a LOWER batch id (the :func:`~caspr_spark.llm.dedup.minhash_lsh_dedup`
       greedy rule) or against ANY history doc (the near-mode
       :func:`~caspr_spark.llm.dedup.dedup_against_history` rule).
       History is never rescanned or self-joined;
    2. keep the batch minus those losers (one anti join);
    3. write the kept docs to ``out_dir/k{b}`` (parquet ``_SUCCESS``
       commit; a markerless pre-existing dir is a crashed attempt of
       the SAME batch and is rewritten; an already-MARKED dir means
       the crash fell between output commit and state fold — the
       deterministic recompute makes its bytes already correct, so
       the write is skipped and marked dirs stay immutable);
    4. fold the kept docs' keys/signatures into the versioned state —
       THE commit point
       (:func:`~caspr_spark.llm.dedup.append_history_keys_state` /
       :func:`~caspr_spark.llm.dedup.append_history_signatures_state`).

    Exactly-once across crashes, by the write order: a replayed batch
    whose state fold committed skips everything (its output dir was
    written BEFORE that fold, so it exists); a crash anywhere earlier
    leaves state untouched, so the replay recomputes the IDENTICAL
    kept set against the identical pre-batch state and rewrites the
    output idempotently. Out-of-order batch ids refuse up front —
    before the output write, so a late batch can't leave a committed
    output dir with no matching state fold. The deduplicated corpus
    is the union of committed output dirs
    (:func:`read_dedup_corpus`); each dir is immutable once marked,
    so downstream consumers can incrementally pick up new ``k{b}``
    dirs without re-reading old ones. Retention: ``out_dir`` gains one
    dir per batch forever — fold the old ones into a single merged dir
    on a cron cadence with :func:`compact_corpus` (crash-safe via the
    same supersede-then-delete rule the state frames use).

    Scale shape: state reads are the bounded LSM merge
    (<= ``compact_every`` frames); the exact-mode join input is the
    hash-only key table (~40 B/doc — a 1e9-doc corpus joins against
    ~40 GB, shuffled on the key, never the text); per-batch writes are
    O(batch). Near mode builds the batch's shingle+minhash signatures
    ONCE per micro-batch; they feed the batch side of the banded join,
    its verification, and the state fold. The batch-internal and
    history candidates come from the same banded join over batch ∪
    history band keys, so the fold plans one candidate pass, not two
    chained ones (each of which AQE would stage and broadcast on its
    own). Kept docs are re-read from
    the just-written parquet for the fold, so output and state are
    derived from the same bytes and the batch plan runs once;
    per-batch caches are released by a ``cache_scope`` around each
    fold, so a long-lived stream never accumulates stale persisted
    relations.
    """
    if mode not in ("exact", "near"):
        raise ValueError(f"mode must be 'exact' or 'near', got {mode!r}")
    from caspr_spark.llm.dedup import (_near_matches, _signature_side,
                                       append_history_keys_state,
                                       append_history_signatures_state,
                                       build_history_signatures,
                                       check_signature_state,
                                       dedup_against_history, exact_dedup,
                                       read_history_keys_state,
                                       read_history_signatures_state)
    from caspr_spark.state import output_committed, state_listing

    def _fold(batch_df: DataFrame, batch_id: int, trusted: bool) -> None:
        from caspr_spark.cache import cache_scope

        spark = batch_df.sparkSession
        committed = [b for b, _ in state_listing(spark, state_dir)]
        if mode == "near" and committed and not trusted:
            # PRE-WRITE guard, ahead of the replay skip as in the IVF
            # and PQ sinks: verify BOTH the hash family AND the
            # signature width against the committed state before any
            # output bytes are written. A mismatched state would
            # otherwise mis-band the history join silently and commit
            # an under-deduped output dir that a corrected replay then
            # skips and folds permanently.
            check_signature_state(spark, state_dir, hash_family,
                                  num_hashes)
        if batch_id in committed:
            return               # replay of a committed batch — no-op
        if any(b >= batch_id for b in committed):
            raise ValueError(
                f"batch_id {batch_id} is not newer than the committed "
                f"state under {state_dir} — a late fold would leave an "
                "output dir with no matching state commit")
        # everything below materializes inside the fold (parquet +
        # state writes), so the scope can release every per-batch
        # cache — without it a long-lived stream piles up one stale
        # persisted shingle relation per micro-batch
        with cache_scope():
            _fold_batch(spark, batch_df, batch_id, committed)

    def _fold_batch(spark, batch_df: DataFrame, batch_id: int,
                    committed: list) -> None:
        from caspr_spark.cache import register_cache

        kept = batch_df
        if mode == "exact":
            if batch_internal:
                kept = exact_dedup(kept, text_col, id_col, normalize)
            if committed:
                kept, _ = dedup_against_history(
                    kept, None, id_col, text_col, mode="exact",
                    normalize=normalize,
                    history_keys=read_history_keys_state(spark, state_dir))
        else:
            # ONE shingle+minhash pass per micro-batch, shared by the
            # banded join and the state fold
            batch_sigs = register_cache(
                build_history_signatures(batch_df, id_col, text_col,
                                         num_hashes, shingle_size,
                                         hash_family)
                .withColumnRenamed("history_id", id_col).persist())
            # withColumnRenamed returns a fresh object — re-attach the
            # provenance mark so the fold's family guard skips its probe
            batch_sigs._caspr_hash_family = hash_family
            history = None
            if committed:
                history = _signature_side(
                    read_history_signatures_state(spark, state_dir),
                    "history_id")
            if batch_internal or history is not None:
                matches = _near_matches(
                    _signature_side(batch_sigs, id_col), history,
                    batch_internal, num_hashes, bands, hash_family,
                    threshold)
                kept = batch_df.join(
                    matches.select(F.col("__id").alias(id_col)),
                    on=id_col, how="left_anti")
        out_path = f"{out_dir}/k{batch_id}"
        # A crash BETWEEN the output's _SUCCESS commit and the state
        # fold replays here with the output dir already complete; the
        # recompute is deterministic (identical pre-batch state AND
        # configuration — hold the sink's parameters constant across
        # replays of an uncommitted batch; family/width drift refuses
        # via the guards BEFORE this write, and the other knobs are
        # part of the state-dir contract regardless), so the existing
        # bytes are already correct — skip the rewrite to keep marked
        # dirs genuinely immutable for concurrent readers. One O(1)
        # marker probe, never a full out_dir listing (~9k dirs after a
        # year of hourly crawls).
        if not output_committed(spark, out_path):
            kept.write.mode("overwrite").parquet(out_path)
        kept_written = spark.read.parquet(out_path)
        if mode == "exact":
            append_history_keys_state(spark, state_dir, batch_id,
                                      kept_written, id_col, text_col,
                                      normalize, compact_every)
        else:
            # the fold derives its ROW SET from the written bytes
            # (kept_written ids) but reuses the batch's already-computed
            # signature values instead of a second full shingle+minhash
            # pass — deterministic build, so the committed state bytes
            # are identical (regression-tested in test_streaming); the
            # family/width probe already ran pre-write, in this fold or
            # in an earlier one under the held lease
            append_history_signatures_state(
                spark, state_dir, batch_id, kept_written, id_col,
                text_col, num_hashes, shingle_size, hash_family,
                compact_every, signatures=batch_sigs, check_state=False)

    return _leased(state_dir, _fold)


def ann_ingest_sink(state_dir: str, centroids: list,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    compact_every: int = 8,
                    partition_by_cell: bool = False):
    """EXACTLY-ONCE streaming embedding ingest into the versioned IVF
    index — the Structured-Streaming composition of
    :func:`caspr_spark.llm.similarity.append_ivf_state`, as a ready
    ``foreachBatch`` callable (the similarity-family sibling of
    :func:`gram_census_sink` / :func:`dedup_corpus_sink`). Each
    micro-batch assigns ITS OWN vectors under the pinned ``centroids``
    and folds them as an O(batch) delta; replayed batch ids skip,
    out-of-order ids refuse, a mismatched quantizer refuses via the
    fingerprint guard. Streaming batch ids are 0-based, the state
    protocol's ids start at the caller's choice — this sink folds at
    ``batch_id + 1`` so the first micro-batch commits as 1 (state ids
    must be positive and strictly increasing; the +1 is stable across
    restarts because the checkpoint replays ids, never renumbers).
    ``partition_by_cell`` writes frames hive-partitioned on
    ``ivf_cell`` so probe searches get dynamic partition pruning (see
    :func:`~caspr_spark.llm.similarity.append_ivf_state`). Search the
    accumulated index any time with
    :func:`caspr_spark.llm.similarity.cosine_topk_ivf_state`; prune
    superseded frames with :func:`caspr_spark.state.prune_state`."""
    from caspr_spark.llm.similarity import append_ivf_state

    def _fold(batch_df: DataFrame, batch_id: int, trusted: bool) -> None:
        append_ivf_state(batch_df.sparkSession, state_dir, batch_id + 1,
                         batch_df, centroids, id_col, vec_col,
                         compact_every, partition_by_cell=partition_by_cell,
                         check_state=not trusted)

    return _leased(state_dir, _fold)


def run_ann_ingest_to_state(stream: DataFrame, state_dir: str,
                            checkpoint_dir: str, centroids: list,
                            timeout_sec: int = 120,
                            **sink_kwargs) -> DataFrame:
    """Drain an embedding stream through :func:`ann_ingest_sink` and
    return the accumulated IVF index
    (:func:`~caspr_spark.llm.similarity.read_ivf_state`).
    ``availableNow`` trigger — the batch-job-shaped invocation; reuse
    the checkpoint dir across invocations to resume at the next batch
    id."""
    from caspr_spark.llm.similarity import read_ivf_state

    _drain(stream.writeStream
           .foreachBatch(ann_ingest_sink(state_dir, centroids,
                                         **sink_kwargs))
           .option("checkpointLocation", checkpoint_dir),
           "ANN ingest stream", timeout_sec)
    return read_ivf_state(stream.sparkSession, state_dir)


def pq_ingest_sink(state_dir: str, codebooks,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   compact_every: int = 8):
    """EXACTLY-ONCE streaming embedding ingest into the versioned PQ
    code table — :func:`ann_ingest_sink`'s sibling for
    :func:`caspr_spark.llm.pq.append_pq_state`, as a ready
    ``foreachBatch`` callable. Each micro-batch encodes ITS OWN
    vectors under the pinned ``codebooks`` and folds the codes as an
    O(batch) delta (the stored rows are the compressed codes, never
    the vectors); replayed batch ids skip, out-of-order ids refuse, a
    mismatched codebook refuses via the fingerprint guard. Same
    ``batch_id + 1`` offset as the other sinks (state ids are
    positive; stable across restarts because the checkpoint replays
    ids). Search the accumulated table any time with
    :func:`caspr_spark.llm.pq.adc_topk_pq_state`."""
    from caspr_spark.llm.pq import append_pq_state

    def _fold(batch_df: DataFrame, batch_id: int, trusted: bool) -> None:
        append_pq_state(batch_df.sparkSession, state_dir, batch_id + 1,
                        batch_df, codebooks, id_col, vec_col,
                        compact_every, check_state=not trusted)

    return _leased(state_dir, _fold)


def read_dedup_corpus(spark, out_dir: str) -> DataFrame:
    """The deduplicated corpus a :func:`dedup_corpus_sink` has
    accumulated: the newest merged ``m{b}`` dir (if
    :func:`compact_corpus` has run) plus every committed ``k{b}``
    output dir with a LARGER batch id. Markerless (crashed-attempt)
    dirs are invisible — same commit rule as the state frames — and
    so are dirs superseded by the newest merge (``k``/older-``m``
    dirs at or below its id survive only inside the crash window
    between a merge's commit and its victim deletes; the supersede
    rule keeps that window double-read-free)."""
    from caspr_spark.state import committed_output_ids

    ids_k = committed_output_ids(spark, out_dir)
    ids_m = committed_output_ids(spark, out_dir, prefix="m")
    base = max(ids_m) if ids_m else None
    paths = [f"{out_dir}/m{base}"] if base is not None else []
    paths += [f"{out_dir}/k{b}" for b in ids_k
              if base is None or b > base]
    if not paths:
        raise RuntimeError(f"no committed dedup output under {out_dir}")
    return spark.read.parquet(*paths)


def compact_corpus(spark, out_dir: str, keep_last: int = 8,
                   drop_ids: DataFrame | None = None) -> list[str]:
    """Fold old per-batch ``k{b}`` output dirs into ONE merged
    ``m{b_max}`` dir — the retention story for a corpus sink that
    would otherwise accumulate a dir per batch forever (a year of
    hourly crawls is ~9k dirs: listings stay cheap, but small-file
    pressure and open-cost per read grow without bound). The newest
    ``keep_last`` k-dirs are kept as-is so incremental consumers
    retain a tail window of per-batch dirs to pick up.

    Crash-safe by the SUPERSEDE rule :func:`read_dedup_corpus`
    enforces: the merged dir commits first (parquet ``_SUCCESS``),
    and from that instant every ``k``/older-``m`` dir at or below its
    id is invisible to readers — so a crash between the merge's
    commit and the victim deletes never double-reads; re-running the
    compaction deletes the leftovers. Incremental consumers that tail
    ``k{b}`` dirs track their consumed frontier ``f`` and skip any
    ``m{b}`` with ``b <= f`` (a merge contains nothing newer than its
    id). Caveat shared with :func:`caspr_spark.state.prune_state`: a
    reader that LISTED dirs before the merge committed can still hit a
    victim dir mid-delete — run compaction off the readers' cadence
    (the nightly-job shape), or let the reader retry its listing.
    Returns the dir names deleted.

    ``drop_ids`` (a one-column frame of document ids) is the output
    side of the forget-document story
    (:func:`caspr_spark.llm.dedup.forget_documents_state` handles the
    STATE side): the merged dir is written WITHOUT those docs, so the
    withdrawn content's bytes leave the corpus output when its source
    dirs fold into the merge. Only the merged span is filtered — the
    ``keep_last`` tail k-dirs are immutable by contract; run the next
    compaction (or ``keep_last=0``) to sweep a forgotten doc that
    still sits in the tail."""
    from caspr_spark.state import _fs, committed_output_ids

    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    ids_k = committed_output_ids(spark, out_dir)
    ids_m = committed_output_ids(spark, out_dir, prefix="m")
    base = max(ids_m) if ids_m else None
    # leftovers a crashed earlier compaction already superseded
    stale = [f"k{b}" for b in ids_k if base is not None and b <= base]
    stale += [f"m{b}" for b in ids_m if base is not None and b < base]
    live_k = [b for b in ids_k if base is None or b > base]
    victims = live_k[:len(live_k) - keep_last] if keep_last else live_k
    if victims:
        new_id = max(victims)
        paths = ([f"{out_dir}/m{base}"] if base is not None else []) \
            + [f"{out_dir}/k{b}" for b in victims]
        merged = spark.read.parquet(*paths)
        if drop_ids is not None:
            col = drop_ids.columns[0]
            if col not in merged.columns:
                raise ValueError(
                    f"drop_ids column {col!r} is not a corpus column "
                    f"({merged.columns}) — name the drop frame's one "
                    "column after the sink's id column")
            merged = merged.join(
                F.broadcast(drop_ids.select(col).distinct()),
                on=col, how="left_anti")
        merged.write.mode("overwrite").parquet(f"{out_dir}/m{new_id}")
        stale += [f"k{b}" for b in victims]
        if base is not None:
            stale += [f"m{base}"]
    jvm, fs, jpath = _fs(spark, out_dir)
    for name in stale:
        fs.delete(jvm.org.apache.hadoop.fs.Path(jpath, name), True)
    return sorted(set(stale))


def run_dedup_corpus_to_state(stream: DataFrame, state_dir: str,
                              out_dir: str, checkpoint_dir: str,
                              timeout_sec: int = 120,
                              **sink_kwargs) -> DataFrame:
    """Drain a document stream through :func:`dedup_corpus_sink` and
    return the deduplicated corpus so far (:func:`read_dedup_corpus`).
    ``availableNow`` trigger — the batch-job-shaped invocation; reuse
    the checkpoint dir across invocations to resume at the next batch
    id."""
    _drain(stream.writeStream
           .foreachBatch(dedup_corpus_sink(state_dir, out_dir,
                                           **sink_kwargs))
           .option("checkpointLocation", checkpoint_dir),
           "dedup corpus stream", timeout_sec)
    return read_dedup_corpus(stream.sparkSession, out_dir)


def run_to_memory(streaming_df: DataFrame, name: str,
                  output_mode: str = "complete",
                  timeout_sec: int = 120) -> DataFrame:
    """Drain a finite stream into an in-memory table and return it.

    Raises on timeout instead of returning a partial table
    (:func:`_drain`)."""
    _drain(streaming_df.writeStream.format("memory").queryName(name)
           .outputMode(output_mode), f"stream {name!r}", timeout_sec)
    return streaming_df.sparkSession.table(name)


def streaming_windowed_topk(stream: DataFrame, k: int = 3,
                            ts_col: str = "ts",
                            key_col: str = "event_type",
                            window: str = "1 day",
                            watermark: str = "1 day") -> DataFrame:
    """Windowed count stream feeding a per-window top-k — the trending
    dashboard shape (top hashtags per hour, top error codes per day).

    Structured Streaming forbids ranking windows inside a streaming
    plan, so this returns the WATERMARK-BOUNDED windowed counts stream
    (per (window, key), state evicted past the watermark — the scalable
    half); :func:`topk_of_windows` is the batch finisher a consumer
    applies to the sink table, where the relation is already reduced to
    (windows × keys) rows. Splitting at exactly that line keeps the
    unbounded-state part streaming-safe and the rank part trivially
    small.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"), "key", "cnt"))


def topk_of_windows(counts: DataFrame, k: int = 3) -> DataFrame:
    """Batch finisher for :func:`streaming_windowed_topk`'s sink table:
    rank keys per window (cnt desc, key asc — deterministic) and keep
    the top ``k`` — the grouped-limit primitive, delegated to
    ``operators.rank.topk_per_group`` (one implementation to maintain,
    WindowGroupLimit planning and k validation included)."""
    from caspr_spark.operators.rank import topk_per_group
    return topk_per_group(counts, ["window_start"],
                          [F.col("cnt").desc(), F.col("key").asc()], k)
