"""Structured Streaming and versioned-state queries: windowed and stateful
streams, the state sinks and the batch folds onto versioned state dirs,
each followed by its DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from contract.common import (
    _events, _ivf_fixed_centroids, _ivf_fixed_sql, _pq_fixed_cb,
    _pq_fixed_sql, _scratch_dir, _t, _utc,
)


def q_stream_windowed_stats(spark, sf_dir):
    """Streaming watermarked tumbling-window agg, drained with
    trigger(availableNow) — must equal the batch group-by."""
    from caspr_spark.streaming import (
        stream_events, windowed_event_stats, run_to_memory)
    _utc(spark)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    agg = windowed_event_stats(stream, window="1 day", watermark="1 day")
    tbl = run_to_memory(agg, "q_win_stats", "complete")
    return tbl.select("window_start", "event_type",
                      F.col("n").cast("long").alias("n"),
                      F.round("sum_value", 6).alias("sum_value"))

STREAM_WINDOWED_STATS_SQL = """
SELECT date_trunc('day', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2"""


def q_stream_sessions(spark, sf_dir):
    """Streaming sessionization (streaming.py streaming_sessions):
    native session_window state-store agg drained with availableNow —
    must equal the batch lag/cumsum sessionization (the oracle)."""
    from caspr_spark.streaming import (
        stream_events, streaming_sessions, run_to_memory)
    _utc(spark)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    tbl = run_to_memory(streaming_sessions(stream), "q_sessions", "complete")
    return tbl.select("user_id", "session_start", "session_end",
                      F.col("n").cast("long").alias("n"), "sum_value")

STREAM_SESSIONS_SQL = """
WITH l AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
f AS (SELECT *, CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 2 DAY
                     THEN 1 ELSE 0 END AS brk FROM l),
s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 2 DAY AS session_end,
       count(*)::bigint AS n, round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sid"""


def q_stream_anomaly(spark, sf_dir):
    """Prequential streaming anomaly z-scores (streaming.py
    streaming_anomaly_zscore): each event scored against its entity's
    running stats BEFORE absorption — single-batch drain must equal the
    batch preceding-rows window (the oracle)."""
    from caspr_spark.streaming import (
        stream_events, streaming_anomaly_zscore, run_to_memory)
    _utc(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = stream_events(spark, f"{sf_dir}/events.parquet")
        tbl = run_to_memory(streaming_anomaly_zscore(stream),
                            "q_stream_anomaly", "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return tbl.select("user_id", "event_id", "n_prior", "z")

STREAM_ANOMALY_SQL = """
WITH w AS (
  SELECT user_id, event_id, value,
         count(value) OVER win AS n_prior,
         sum(value) OVER win AS s,
         sum(value*value) OVER win AS q
  FROM events WHERE value IS NOT NULL
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id, CAST(coalesce(n_prior, 0) AS INT) AS n_prior,
       CASE WHEN n_prior >= 2
                 AND sqrt((q - s*s/n_prior)/(n_prior - 1)) > 0
            THEN round((value - s/n_prior)
                       / sqrt((q - s*s/n_prior)/(n_prior - 1)), 6)
       END AS z
FROM w"""


def q_stream_last3_state(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-entity latest-3 tracker — final state must equal the batch pivot."""
    from pyspark.sql import Window as W
    from caspr_spark.streaming import (
        stream_events, streaming_last_n, run_to_memory)
    _utc(spark)
    # few thousand keys: 8 state-store partitions beat the default 32
    # (each partition spins its own store + python worker per batch)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = stream_events(spark, f"{sf_dir}/events.parquet")
        tbl = run_to_memory(streaming_last_n(stream, 3), "q_last3", "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = W.partitionBy("user_id").orderBy(F.col("ver").desc())
    return (tbl.withColumn("__rn", F.row_number().over(w))
               .filter("__rn = 1").drop("__rn", "ver"))

STREAM_LAST3_STATE_SQL = """
WITH r AS (
  SELECT user_id, value,
         count(*) OVER (PARTITION BY user_id) AS sl,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
),
k AS (
  SELECT user_id, value,
         (sl - rd + 1) + CASE WHEN sl >= 3 THEN 3 - sl ELSE 0 END AS slot
  FROM r WHERE rd <= 3
)
SELECT user_id,
  max(CASE WHEN slot=1 THEN value END) AS "1_value",
  max(CASE WHEN slot=2 THEN value END) AS "2_value",
  max(CASE WHEN slot=3 THEN value END) AS "3_value"
FROM k GROUP BY user_id"""


def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment: per-batch broadcast join of a fitted
    dimension (event-type codes) onto the stream, then a windowed count
    per code — equals the batch join+group."""
    from caspr_spark.operators.encode import top_k_by_frequency
    from caspr_spark.streaming import (
        stream_events, enrich_with_static, run_to_memory)
    from pyspark.sql import Window as W
    _utc(spark)
    ev = _events(spark, sf_dir)
    dim = top_k_by_frequency(ev, "event_type", 5) \
        .withColumn("code", F.row_number().over(
            W.orderBy(F.col("count").desc(), F.col("event_type").asc()))) \
        .select("event_type", "code")
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    enriched = enrich_with_static(stream, dim, on="event_type")
    agg = (enriched.groupBy("code")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value")))
    tbl = run_to_memory(agg, "q_ss_join", "complete")
    return tbl.select(F.col("code").cast("int"),
                      F.col("n").cast("long").alias("n"), "sum_value")

STREAM_STATIC_JOIN_SQL = """
WITH dim AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS code
  FROM events GROUP BY event_type)
SELECT CAST(d.code AS INT) AS code, CAST(count(*) AS BIGINT) AS n,
       round(sum(e.value), 4) AS sum_value
FROM events e LEFT JOIN dim d USING (event_type)
GROUP BY d.code"""


def q_stream_dedup(spark, sf_dir):
    """Watermarked streaming dedup: the stream unioned with itself (every
    event duplicated) collapses back to exactly the distinct events."""
    from caspr_spark.streaming import (
        stream_events, streaming_dedup, run_to_memory)
    _utc(spark)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    doubled = stream.unionByName(stream)
    deduped = streaming_dedup(doubled, ["event_id"], "ts", watermark="1 day")
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"))
    tbl = run_to_memory(counts, "q_stream_dedup", "complete")
    return tbl

STREAM_DEDUP_SQL = """
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
FROM events GROUP BY event_type"""


def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream join: every view paired with the same
    user's purchases in the following 3 days — two unbounded sides with
    bounded state (watermark + time-range eviction), matches emitted in
    append mode as they form; must equal the batch theta-join."""
    from caspr_spark.streaming import (
        stream_events, stream_stream_join, run_to_memory)
    _utc(spark)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    views = stream.filter(F.col("event_type") == "view") \
        .select("user_id", F.col("event_id").alias("view_id"), "ts")
    purchases = stream.filter(F.col("event_type") == "purchase") \
        .select("user_id", F.col("event_id").alias("purchase_id"), "ts")
    joined = stream_stream_join(views, purchases, on="user_id",
                                max_delay="3 days", watermark="1 day")
    out = joined.select("user_id", "view_id", "purchase_id",
                        F.datediff(F.col("ts_r"), F.col("ts")).cast("int")
                         .alias("gap_days"))
    return run_to_memory(out, "q_stream_stream_join", "append")

STREAM_STREAM_JOIN_SQL = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(p.ts::DATE - v.ts::DATE AS INT) AS gap_days
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 3 DAY"""


def q_decontaminate_state(spark, sf_dir):
    """Benchmark decontamination against the VERSIONED gram-census
    state (filtering.py decontaminate_from_census — round 14): the
    eval suite arrives as TWO census folds into an exactly-once
    delta-layout state dir (gram_census_sink's fold, called with
    controlled batch ids), day 2 is then REPLAYED — a naive append
    would double the day's gram counts; the state protocol skips the
    committed id — and the training corpus is decontaminated against
    the state read. Decontamination depends only on the benchmark's
    gram-hash SET, which the exactly-once fold preserves (and both
    sides hash grams as md5 of the space-joined words), so the result
    is row-identical to the one-shot q_decontaminate — whose DuckDB
    twin is this query's oracle. The census width guard (gram_n==4)
    rides in-plan through the certified path."""
    from caspr_spark.llm.filtering import decontaminate_from_census
    from caspr_spark.streaming import (gram_census_sink,
                                       read_gram_census_state)
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    state = _scratch_dir("decontam_state_")
    sink = gram_census_sink(state, n=4, layout="delta", compact_every=2)
    sink(bench.filter(F.col("doc_id") % 2 == 0), 1)
    sink(bench.filter(F.col("doc_id") % 2 == 1), 2)
    # replay day 2 post-"crash": must be a protocol no-op (a naive
    # append would double day-2 gram counts; the SET stays the point)
    sink(bench.filter(F.col("doc_id") % 2 == 1), 2)
    census = read_gram_census_state(spark, state, n=4)
    return decontaminate_from_census(train, census, n=4) \
        .select("doc_id", "source")


def q_dedup_incremental_state(spark, sf_dir):
    """Incremental exact dedup against the VERSIONED LSM key-table
    state (dedup.py append_history_keys_state /
    read_history_keys_state — round 12): the even-id history arrives
    as THREE daily folds (compact, delta, then a compaction at
    compact_every=2), and the q_dedup_incremental batch dedups against
    the state read — per-day writes are O(batch keys), never the
    O(state) full-table rewrite of the save_history_keys loop. The
    kept set depends only on the key SET, which first-seen-wins
    merging preserves exactly, so this certifies the whole state
    protocol against the SAME oracle as dedup_incremental."""
    from caspr_spark.llm.dedup import (append_history_keys_state,
                                       dedup_against_history,
                                       read_history_keys_state)
    docs = _t(spark, sf_dir, "documents")
    state = _scratch_dir("keys_state_")
    for day, residue in ((1, 0), (2, 2), (3, 4)):
        append_history_keys_state(
            spark, state, day, docs.filter(F.col("doc_id") % 6 == residue),
            compact_every=2)
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    batch = (docs.filter(F.col("doc_id") % 2 == 1)
                 .select("doc_id", "text")
                 .unionByName(recrawl.select("doc_id", "text")))
    kept, _ = dedup_against_history(
        batch, None, mode="exact",
        history_keys=read_history_keys_state(spark, state))
    return kept.select("doc_id")


def q_simsearch_ivf_state(spark, sf_dir):
    """IVF probe search over the VERSIONED ingest index (similarity.py
    append_ivf_state / read_ivf_state / cosine_topk_ivf_state — round
    14, the similarity-family member of the exactly-once state story):
    the embeddings corpus arrives as THREE daily folds under the
    PINNED centroid literals (compact, delta, then a compaction at
    compact_every=2), day 2 is then REPLAYED — a rebuilt-index loop
    would re-assign the whole corpus per ingest and a naive append
    would duplicate the day's vectors; the state protocol skips the
    committed id — and the search probes the state-built index.
    Ingest pins the same deterministic nearest_centroid election the
    one-shot path uses and the exactly-once fold preserves the id set
    exactly, so the search is row-identical to simsearch_ivf_fixed —
    whose from-scratch DuckDB twin is this query's oracle (the whole
    state protocol is inside the certified path). Frames are written
    HIVE-PARTITIONED on ivf_cell (partition_by_cell=True — the scale
    layout, round 14), so the certified probe search also exercises
    dynamic partition pruning; the streaming row (stream_ann_index)
    keeps the plain layout, certifying both."""
    from caspr_spark.llm.similarity import (append_ivf_state,
                                            cosine_topk_ivf_state)
    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_fixed_centroids()
    state = _scratch_dir("ivf_state_")
    for day, residue in ((1, 0), (2, 1), (3, 2)):
        append_ivf_state(spark, state, day,
                         emb.filter(F.col("vec_id") % 3 == residue),
                         cents, compact_every=2, partition_by_cell=True)
    # replay day 2 post-"crash": must be a protocol no-op
    append_ivf_state(spark, state, 2,
                     emb.filter(F.col("vec_id") % 3 == 1),
                     cents, compact_every=2, partition_by_cell=True)
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf_state(spark, state, queries, k=5, n_probe=3,
                                centroids=cents)
    return out.select("query_id", "vec_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))


def q_stream_ann_index(spark, sf_dir):
    """EXACTLY-ONCE streaming embedding ingest end-to-end (streaming.py
    ann_ingest_sink / run_ann_ingest_to_state — round 14, the
    Structured-Streaming composition of the versioned IVF state the
    way stream_dedup_corpus composes the dedup state): the embeddings
    table streams through the sink in micro-batches across a REAL
    restart boundary, each batch folding its own vectors as an
    O(batch) delta under the PINNED centroid literals; the replayed/
    out-of-order protocol and the quantizer-fingerprint guard sit
    inside the certified path. Searching the accumulated index must
    be row-identical to the one-shot pinned-centroid search —
    simsearch_ivf_fixed's from-scratch DuckDB twin is the oracle."""
    from caspr_spark.llm.similarity import cosine_topk_ivf_state
    from caspr_spark.streaming import run_ann_ingest_to_state
    _utc(spark)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _ivf_fixed_centroids()
    src = _scratch_dir("ann_ingest_src_")
    state = _scratch_dir("ann_ingest_state_")
    ckpt = _scratch_dir("ann_ingest_ckpt_")
    emb.filter(F.col("vec_id") % 2 == 0).repartition(4) \
       .write.mode("overwrite").parquet(src)
    s1 = (spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_ann_ingest_to_state(s1, state, ckpt, cents)
    emb.filter(F.col("vec_id") % 2 == 1).repartition(4) \
       .write.mode("append").parquet(src)
    s2 = (spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_ann_ingest_to_state(s2, state, ckpt, cents)
    # simulated POST-CRASH foreachBatch replay (round 15): after a
    # crash between a micro-batch's state fold and the checkpoint
    # commit, Structured Streaming re-delivers that batch to the sink
    # — re-invoke the sink callable at the last committed micro-batch
    # id (sink folds at +1) and the protocol must skip it, leaving
    # the index unchanged
    from caspr_spark.state import state_listing
    from caspr_spark.streaming import ann_ingest_sink
    frontier = max(b for b, _ in state_listing(spark, state))
    ann_ingest_sink(state, cents)(
        emb.filter(F.col("vec_id") % 2 == 1), frontier - 1)
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf_state(spark, state, queries, k=5, n_probe=3,
                                centroids=cents)
    return out.select("query_id", "vec_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))


def q_simsearch_ivf_deleted(spark, sf_dir):
    """Deletion tombstones on the versioned IVF index (similarity.py
    append_ivf_deletes / vacuum_ivf_state — round 15, the
    right-to-erasure lifecycle op the append-only ingest story
    lacked): the corpus arrives as three daily folds under the PINNED
    centroids, every seventh vector is then TOMBSTONED (an id-only
    delete fold; the erasure day is also REPLAYED — protocol no-op),
    and vacuum_ivf_state force-compacts with the tombstones baked in
    and prunes the superseded frames — so the searched frames no
    longer hold the deleted vectors' bytes, not merely a read-side
    mask. The probe search over the vacuumed state must equal a
    one-shot pinned-centroid IVF search over ingested-minus-deleted:
    the same from-scratch DuckDB twin as simsearch_ivf_fixed with the
    deleted ids filtered out of the corpus scan (query ids < 5 are
    all survivors, so probe rankings are unaffected)."""
    from caspr_spark.llm.similarity import (append_ivf_deletes,
                                            append_ivf_state,
                                            cosine_topk_ivf_state,
                                            vacuum_ivf_state)
    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_fixed_centroids()
    state = _scratch_dir("ivf_del_state_")
    for day, residue in ((1, 0), (2, 1), (3, 2)):
        append_ivf_state(spark, state, day,
                         emb.filter(F.col("vec_id") % 3 == residue),
                         cents, compact_every=4)
    doomed = emb.filter(F.col("vec_id") % 7 == 6).select("vec_id")
    append_ivf_deletes(spark, state, 1, doomed)
    append_ivf_deletes(spark, state, 1, doomed)   # replayed erasure day
    vacuum_ivf_state(spark, state, 4, cents)
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf_state(spark, state, queries, k=5, n_probe=3,
                                centroids=cents)
    return out.select("query_id", "vec_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))

SIMSEARCH_IVF_DELETED_SQL = _ivf_fixed_sql(
    corpus_where="WHERE vec_id % 7 <> 6")


def q_simsearch_pq_state(spark, sf_dir):
    """VERSIONED PQ code-table ingest with the full lifecycle inside
    the certified path (llm/pq.py append_pq_state / append_pq_deletes
    / vacuum_pq_state / adc_topk_pq_state — round 15, the PQ family's
    member of the exactly-once state story): the corpus arrives as
    three daily folds encoded under the PINNED _pq_fixed_cb codebooks
    (the stored state is the 8-byte codes, never the vectors), day 2
    is REPLAYED post-"crash" (protocol no-op), every tenth vector is
    TOMBSTONED (the erasure day also replayed), and vacuum_pq_state
    force-compacts with the tombstones baked in and prunes — so the
    searched frames no longer hold the deleted codes' bytes. The ADC
    search over the vacuumed state must be byte-identical to the
    one-shot pq_encode + pq_search over ingested-minus-deleted:
    simsearch_pq_fixed's from-scratch DuckDB twin with the deleted
    ids filtered out of the corpus scan."""
    from caspr_spark.llm.pq import (adc_topk_pq_state, append_pq_deletes,
                                    append_pq_state, vacuum_pq_state)
    cb, q = _pq_fixed_cb()
    emb = _t(spark, sf_dir, "embeddings")
    state = _scratch_dir("pq_state_")
    for day, residue in ((1, 0), (2, 1), (3, 2)):
        append_pq_state(spark, state, day,
                        emb.filter(F.col("vec_id") % 3 == residue),
                        cb, compact_every=2)
    # replay day 2 post-"crash": must be a protocol no-op
    append_pq_state(spark, state, 2,
                    emb.filter(F.col("vec_id") % 3 == 1),
                    cb, compact_every=2)
    doomed = emb.filter(F.col("vec_id") % 10 == 9).select("vec_id")
    append_pq_deletes(spark, state, 1, doomed)
    append_pq_deletes(spark, state, 1, doomed)    # replayed erasure day
    vacuum_pq_state(spark, state, 4, cb)
    return adc_topk_pq_state(spark, state, q, cb, top_k=25)

# the PQ family's versioned-state lifecycle (ingest + replay +
# tombstone + vacuum) must be byte-identical to the one-shot
# encode+search over ingested-minus-deleted
SIMSEARCH_PQ_STATE_SQL = _pq_fixed_sql(
    corpus_where="WHERE vec_id % 10 <> 9")


def q_dedup_signature_state(spark, sf_dir):
    """Incremental NEAR dedup against the VERSIONED LSM signature
    state (dedup.py append_history_signatures_state /
    read_history_signatures_state — round 13, mirroring the key
    table's r12 state layer): the even-id history arrives as THREE
    daily folds (compact, delta, then a compaction at
    compact_every=2), day 2 is then REPLAYED — the plain
    append_history_signatures would re-append its rows, duplicating
    band keys and every downstream match row; the state protocol
    skips the committed id — and the q_dedup_incremental_portable
    batch dedups against the state read. The match relation depends
    only on the signature SET, which the exactly-once fold preserves,
    so this certifies the whole signature-state protocol (commit
    markers, replay skip, compaction union) against the SAME
    from-scratch DuckDB twin as dedup_incremental_portable."""
    from caspr_spark.llm.dedup import (append_history_signatures_state,
                                       dedup_against_history,
                                       read_history_signatures_state)
    docs = _t(spark, sf_dir, "documents")
    state = _scratch_dir("sigs_state_")
    for day, residue in ((1, 0), (2, 2), (3, 4)):
        append_history_signatures_state(
            spark, state, day, docs.filter(F.col("doc_id") % 6 == residue),
            num_hashes=16, shingle_size=3, hash_family="portable",
            compact_every=2)
    # replay day 2 post-"crash": must be a protocol no-op
    append_history_signatures_state(
        spark, state, 2, docs.filter(F.col("doc_id") % 6 == 2),
        num_hashes=16, shingle_size=3, hash_family="portable",
        compact_every=2)
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    batch = (docs.filter(F.col("doc_id") % 2 == 1)
                 .select("doc_id", "text")
                 .unionByName(recrawl.select("doc_id", "text")))
    _, matches = dedup_against_history(
        batch, None, mode="near", num_hashes=16, bands=8,
        shingle_size=3, threshold=0.2, hash_family="portable",
        history_signatures=read_history_signatures_state(spark, state))
    return matches.select("doc_id", "history_id",
                          F.round("jaccard", 6).alias("jaccard"))


def q_dedup_signature_state_fold(spark, sf_dir):
    """The ``signatures=`` FAST-PATH fold under a BATCH caller (round
    16, r15 verdict item 7): identical protocol exercise to
    q_dedup_signature_state — three daily folds, a compaction, a
    replayed day — but every fold hands in the batch's PRE-BUILT
    signature frame (build_history_signatures) instead of letting the
    fold re-derive from text, exactly the r15 optimization the
    streaming sink uses. The committed state bytes must be identical
    to the self-deriving fold (deterministic build + the semi-join row
    pinning), so the downstream match relation — and the DuckDB twin —
    is the SAME oracle as dedup_signature_state. This closes the
    one-consumer risk: the optimized fold path now has its own
    end-to-end oracle row outside the streaming envelope, with the
    commit's stamp guard exercised per fold."""
    from caspr_spark.llm.dedup import (append_history_signatures_state,
                                       build_history_signatures,
                                       dedup_against_history,
                                       read_history_signatures_state)
    docs = _t(spark, sf_dir, "documents")
    state = _scratch_dir("sigs_state_fold_")
    from caspr_spark.cache import cache_scope
    for day, residue in ((1, 0), (2, 2), (3, 4)):
        batch = docs.filter(F.col("doc_id") % 6 == residue)
        with cache_scope():
            sigs = build_history_signatures(
                batch, num_hashes=16, shingle_size=3,
                hash_family="portable").withColumnRenamed("history_id",
                                                          "doc_id")
            append_history_signatures_state(
                spark, state, day, batch, num_hashes=16, shingle_size=3,
                hash_family="portable", compact_every=2, signatures=sigs)
    # replay day 2 post-"crash": must be a protocol no-op on this path too
    append_history_signatures_state(
        spark, state, 2, docs.filter(F.col("doc_id") % 6 == 2),
        num_hashes=16, shingle_size=3, hash_family="portable",
        compact_every=2)
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    batch = (docs.filter(F.col("doc_id") % 2 == 1)
                 .select("doc_id", "text")
                 .unionByName(recrawl.select("doc_id", "text")))
    _, matches = dedup_against_history(
        batch, None, mode="near", num_hashes=16, bands=8,
        shingle_size=3, threshold=0.2, hash_family="portable",
        history_signatures=read_history_signatures_state(spark, state))
    return matches.select("doc_id", "history_id",
                          F.round("jaccard", 6).alias("jaccard"))


def q_stream_dedup_corpus(spark, sf_dir):
    """EXACTLY-ONCE streaming corpus dedup end-to-end (streaming.py
    dedup_corpus_sink / run_dedup_corpus_to_state — round 13): the
    documents corpus plus re-crawled copies of every fourth doc (new
    ids) streams through the sink in micro-batches across a REAL
    restart boundary; each batch dedups internally, drops docs already
    in the versioned key-table state, commits its kept docs to an
    immutable output dir, and folds its keys — so the accumulated
    corpus must hold EXACTLY ONE survivor per content key however the
    file source carved batches. Returned as the kept docs' content
    keys (order-independent: WHICH copy survives depends on arrival
    order, but the key multiset does not), checked against the
    distinct keys of the raw table."""
    from caspr_spark.streaming import run_dedup_corpus_to_state
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    corpus = docs.unionByName(recrawl)
    src = _scratch_dir("dedup_corpus_src_")
    state = _scratch_dir("dedup_corpus_state_")
    out = _scratch_dir("dedup_corpus_out_")
    ckpt = _scratch_dir("dedup_corpus_ckpt_")
    corpus.filter(F.col("doc_id") % 2 == 0).repartition(4) \
          .write.mode("overwrite").parquet(src)
    s1 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_dedup_corpus_to_state(s1, state, out, ckpt)
    corpus.filter(F.col("doc_id") % 2 == 1).repartition(4) \
          .write.mode("append").parquet(src)
    s2 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    final = run_dedup_corpus_to_state(s2, state, out, ckpt)
    return final.select(
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
        .alias("content_key"))

# streaming corpus dedup invariant: exactly one survivor per
# content key, however the file source carved micro-batches —
# WHICH copy survives is arrival-order-dependent, the key multiset
# is not (and the injected re-crawls add no new keys)
STREAM_DEDUP_CORPUS_SQL = r"""
SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
       AS content_key
FROM documents"""


def q_stream_dedup_corpus_compact(spark, sf_dir):
    """Corpus-output RETENTION inside the certified path (streaming.py
    compact_corpus — round 14): the exact-mode corpus sink runs across
    the same restart boundary as stream_dedup_corpus, but the
    accumulated per-batch k{b} output dirs are COMPACTED twice — once
    between the two stream invocations (so the second run's batches
    land NEXT TO a merged m{b} dir and read_dedup_corpus merges both
    layouts) and once at the end (folding the tail k-dirs into the
    existing merge — the supersede-then-delete crash rule's normal
    path). The deduplicated corpus a consumer reads must be unchanged
    by WHEN compaction ran: same one-survivor-per-content-key multiset,
    same DuckDB twin as stream_dedup_corpus."""
    from caspr_spark.streaming import (compact_corpus,
                                       read_dedup_corpus,
                                       run_dedup_corpus_to_state)
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    corpus = docs.unionByName(recrawl)
    src = _scratch_dir("dedup_compact_src_")
    state = _scratch_dir("dedup_compact_state_")
    out = _scratch_dir("dedup_compact_out_")
    ckpt = _scratch_dir("dedup_compact_ckpt_")
    corpus.filter(F.col("doc_id") % 2 == 0).repartition(4) \
          .write.mode("overwrite").parquet(src)
    s1 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_dedup_corpus_to_state(s1, state, out, ckpt)
    compact_corpus(spark, out, keep_last=1)
    corpus.filter(F.col("doc_id") % 2 == 1).repartition(4) \
          .write.mode("append").parquet(src)
    s2 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_dedup_corpus_to_state(s2, state, out, ckpt)
    compact_corpus(spark, out, keep_last=0)
    return read_dedup_corpus(spark, out).select(
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
        .alias("content_key"))


def q_stream_dedup_corpus_near(spark, sf_dir):
    """NEAR-mode streaming corpus dedup end-to-end (streaming.py
    dedup_corpus_sink mode='near' — round 14, closing the one
    composition the r13 exact-mode row left uncovered): the same
    corpus + re-crawl stream crosses the same REAL restart boundary,
    but each batch now dedups via MinHash signatures, a banded bucket
    join against the VERSIONED LSM signature state
    (append/read_history_signatures_state, portable md5 family,
    num_hashes=16, bands=8), and exact shingle-Jaccard verification —
    the full near machinery, exactly-once across the restart.

    threshold=1.0 is what makes a full oracle POSSIBLE: the testdata's
    distinct documents contain engineered near-dup pairs up to
    Jaccard ~0.99, so at any lower threshold WHICH docs survive
    depends on how the file source carved micro-batches (near-dup
    chains are arrival-order-dependent) and no carving-independent
    expected set exists. At 1.0 only identical shingle sets match:
    exact re-crawl copies carry IDENTICAL signatures (every band key
    collides — candidacy is certain, not probabilistic, so no LSH
    false-negative can leak a duplicate through), distinct texts
    (max pairwise Jaccard < 0.999 at both SFs, measured) never
    verify, and the kept-key multiset equals the distinct content
    keys however the stream was carved — the same invariant, and the
    same DuckDB twin, as the exact-mode row."""
    from caspr_spark.streaming import run_dedup_corpus_to_state
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = (docs.filter(F.col("doc_id") % 4 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
    corpus = docs.unionByName(recrawl)
    src = _scratch_dir("dedup_corpus_near_src_")
    state = _scratch_dir("dedup_corpus_near_state_")
    out = _scratch_dir("dedup_corpus_near_out_")
    ckpt = _scratch_dir("dedup_corpus_near_ckpt_")
    corpus.filter(F.col("doc_id") % 2 == 0).repartition(4) \
          .write.mode("overwrite").parquet(src)
    s1 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    run_dedup_corpus_to_state(s1, state, out, ckpt, mode="near",
                              num_hashes=16, bands=8, shingle_size=3,
                              threshold=1.0, hash_family="portable")
    corpus.filter(F.col("doc_id") % 2 == 1).repartition(4) \
          .write.mode("append").parquet(src)
    s2 = (spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 2).parquet(src))
    final = run_dedup_corpus_to_state(s2, state, out, ckpt, mode="near",
                                      num_hashes=16, bands=8,
                                      shingle_size=3, threshold=1.0,
                                      hash_family="portable")
    return final.select(
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
        .alias("content_key"))


def q_stream_topk(spark, sf_dir):
    """Streaming windowed top-k (streaming.py streaming_windowed_topk +
    topk_of_windows): per-day top-3 event types from a watermark-bounded
    streaming count, batch-finished on the sink — must equal the batch
    date_trunc count + rank."""
    from caspr_spark.streaming import (run_to_memory, stream_events,
                                       streaming_windowed_topk,
                                       topk_of_windows)
    _utc(spark)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    counts = streaming_windowed_topk(stream, k=3, window="1 day",
                                     watermark="1 day")
    tbl = run_to_memory(counts, "q_stream_topk", "complete")
    return topk_of_windows(tbl, k=3).select(
        "window_start", "key", F.col("cnt").cast("long").alias("cnt"),
        "rk")

STREAM_TOPK_SQL = """
WITH c AS (
  SELECT date_trunc('day', ts) AS window_start, event_type AS key,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY cnt DESC, key ASC) AS rk
      FROM c)
SELECT window_start, key, cnt, CAST(rk AS INT) AS rk FROM r
WHERE rk <= 3"""


def q_stream_dedup_history(spark, sf_dir):
    """STREAMING incremental corpus dedup (streaming.py
    streaming_dedup_against_history — round 6): the live-crawl form of
    dedup_incremental. A document stream anti-joins the persisted
    history KEY TABLE per micro-batch (no streaming state) and
    collapses within-stream re-crawls via
    dropDuplicatesWithinWatermark (watermark-bounded state). The kept
    CONTENT-KEY set is deterministic regardless of arrival order —
    distinct batch keys minus history keys — so unlike the other
    stateful streams this one carries a FULL oracle."""
    from caspr_spark.llm.dedup import build_history_keys
    from caspr_spark.streaming import (run_to_memory,
                                       streaming_dedup_against_history)
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    keys = build_history_keys(history)
    batch = (docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
             .unionByName(docs.filter(F.col("doc_id") % 4 == 0)
                          .withColumn("doc_id", F.col("doc_id") + 100000)
                          .select("doc_id", "text"))
             .withColumn("ts", F.timestamp_seconds(
                 F.lit(1704067200) + F.col("doc_id") % 3600)))
    tmp = _scratch_dir("stream_hist_")
    batch.write.mode("overwrite").parquet(tmp)
    stream = spark.readStream.schema(batch.schema).parquet(tmp)
    kept = streaming_dedup_against_history(stream, keys,
                                           watermark="365 days")
    tbl = run_to_memory(kept, "q_stream_dedup_history", "append")
    return (tbl.filter(F.col("text").isNotNull())
            .select(F.md5(F.lower(F.regexp_replace(
                F.trim(F.col("text")), r"\s+", " ")))
                .alias("content_key"))
            .distinct())

# the streaming twin keeps ONE row per surviving content key —
# the kept KEY SET is arrival-order independent: distinct batch
# keys minus history keys
STREAM_DEDUP_HISTORY_SQL = """
WITH batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 4 = 0),
hk AS (
  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
    AS k
  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL)
SELECT DISTINCT md5(lower(regexp_replace(trim(b.text), '\\s+', ' ', 'g')))
  AS content_key
FROM batch b
WHERE b.text IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM hk
  WHERE hk.k = md5(lower(regexp_replace(trim(b.text), '\\s+', ' ', 'g'))))"""


def q_stream_gram_census(spark, sf_dir):
    """STREAMING substring-census fold (streaming.py
    streaming_gram_census — round 11): the continuous form of
    build_gram_census/append_gram_census. Documents arrive as a
    multi-file stream with maxFilesPerTrigger=2, forcing the census to
    be folded across several micro-batches of streaming-aggregation
    state; because the fold is a pure per-hash sum (associative +
    commutative), the drained state must equal a one-shot full-corpus
    census ROW-FOR-ROW regardless of batch boundaries or arrival order
    — the stream_dedup_history oracle discipline. Oracle: the
    full-corpus word-4-gram census in SQL."""
    from caspr_spark.streaming import run_to_memory, streaming_gram_census
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _scratch_dir("stream_census_")
    docs.repartition(8).write.mode("overwrite").parquet(tmp)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 2).parquet(tmp))
    census = streaming_gram_census(stream, n=4)
    tbl = run_to_memory(census, "q_stream_gram_census", "complete")
    return tbl.select("gram_hash", "cnt",
                      F.col("gram_n").cast("int").alias("gram_n"))

# streaming census fold invariant: the drained streaming-aggregation
# state equals the one-shot full-corpus word-4-gram census
STREAM_GRAM_CENSUS_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
g AS (
  SELECT md5(array_to_string(t[i:i+3], ' ')) AS h
  FROM tok, unnest(range(1, len(t) - 2)) AS r(i)
  WHERE len(t) >= 4)
SELECT h AS gram_hash, count(*)::bigint AS cnt, 4 AS gram_n
FROM g GROUP BY h"""


def q_stream_gram_census_state(spark, sf_dir):
    """The streaming census's PRODUCTION SINK SHAPE (streaming.py
    run_gram_census_to_state — round 12): foreachBatch +
    append_gram_census folding each micro-batch into a VERSIONED
    parquet state table, exactly the composition
    streaming_gram_census's docstring prescribes (that certified row
    uses the memory sink). The query drains HALF the corpus, then
    appends the rest to the source and drains again against the SAME
    checkpoint + state dir — a real restart boundary: the second run
    resumes at the next batch id and folds only new arrivals onto
    persisted state. Because the fold is a pure per-hash sum, the
    final state table must equal the one-shot full-corpus census
    row-for-row — the same invariant oracle as stream_gram_census."""
    from caspr_spark.streaming import run_gram_census_to_state
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = _scratch_dir("census_state_src_")
    state = _scratch_dir("census_state_tbl_")
    ckpt = _scratch_dir("census_state_ckpt_")
    docs.filter(F.col("doc_id") % 2 == 0).repartition(4) \
        .write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    run_gram_census_to_state(stream, state, ckpt, n=4)
    # restart boundary: new files land, a fresh query on the SAME
    # checkpoint resumes at the next batch id
    docs.filter(F.col("doc_id") % 2 == 1).repartition(4) \
        .write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", 2).parquet(src))
    census = run_gram_census_to_state(stream2, state, ckpt, n=4)
    return census.select("gram_hash", "cnt",
                         F.col("gram_n").cast("int").alias("gram_n"))


def q_stream_gram_census_delta(spark, sf_dir):
    """The census state sink's DELTA (LSM) layout (streaming.py
    gram_census_sink layout='delta' — round 12): each micro-batch
    writes only its OWN gram counts (O(batch) — the rebuild layout's
    O(census)-per-fold write is what dies at billions-of-grams state
    under frequent triggers), every compact_every-th commit merges the
    live deltas into a new compact, and reads merge at most
    compact_every frames — exact because the census fold is
    associative (merge_gram_censuses). The query drains half the
    corpus, restarts on the same checkpoint for the rest (crossing a
    compaction), and the merged read must equal the one-shot
    full-corpus census row-for-row — the same invariant oracle as the
    other census rows."""
    from caspr_spark.streaming import run_gram_census_to_state
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = _scratch_dir("census_delta_src_")
    state = _scratch_dir("census_delta_tbl_")
    ckpt = _scratch_dir("census_delta_ckpt_")
    docs.filter(F.col("doc_id") % 2 == 0).repartition(4) \
        .write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    run_gram_census_to_state(stream, state, ckpt, n=4, layout="delta",
                             compact_every=3)
    docs.filter(F.col("doc_id") % 2 == 1).repartition(4) \
        .write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", 2).parquet(src))
    census = run_gram_census_to_state(stream2, state, ckpt, n=4,
                                      layout="delta", compact_every=3)
    return census.select("gram_hash", "cnt",
                         F.col("gram_n").cast("int").alias("gram_n"))
