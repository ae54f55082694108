"""Structured Streaming surface: windowed aggs + stateful last-n operator
must agree with their batch twins, independent of micro-batch boundaries."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from caspr_spark.operators import get_rank, featurize_sequential
from caspr_spark.streaming import (
    stream_events, windowed_event_stats, streaming_last_n, run_to_memory,
    streaming_sessions,
)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _final_state(tbl, key="user_id"):
    w = Window.partitionBy(key).orderBy(F.col("ver").desc())
    return (tbl.withColumn("__rn", F.row_number().over(w))
               .filter("__rn = 1").drop("__rn", "ver"))


class TestWindowedStats:
    def test_matches_batch(self, spark, events):
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        agg = windowed_event_stats(stream, window="1 day", watermark="1 day")
        got = run_to_memory(agg, "t_win_stats", "complete").toPandas()

        want = (events.groupBy(F.date_trunc("day", "ts").alias("window_start"),
                               "event_type")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
                .toPandas())
        key = ["window_start", "event_type"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got["n"].values == want["n"].values).all()
        assert abs(got["sum_value"].values - want["sum_value"].values).max() < 1e-6


class TestStreamingLastN:
    def test_single_batch_matches_pivot(self, spark, events):
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        tbl = run_to_memory(streaming_last_n(stream, 3), "t_last3", "update")
        got = _final_state(tbl).toPandas().set_index("user_id").sort_index()

        ranked = get_rank(events, ["user_id"], "ts", tiebreak=["event_id"])
        want = featurize_sequential(ranked, ["user_id"], 3, ["value"]) \
            .toPandas().set_index("user_id").sort_index()
        assert (got.index == want.index).all()
        for c in ("1_value", "2_value", "3_value"):
            a, b = got[c].fillna(-1), want[c].fillna(-1)
            assert abs(a - b).max() < 1e-9

    def test_batch_boundary_independence(self, spark, events, tmp_path):
        """Same final state whether events arrive in 1 batch or 4."""
        multi = str(tmp_path / "events_multi")
        events.repartition(4).write.mode("overwrite").parquet(multi)
        stream = stream_events(spark, multi, max_files_per_trigger=1)
        tbl = run_to_memory(streaming_last_n(stream, 3), "t_last3_multi",
                            "update", timeout_sec=180)
        assert tbl.agg(F.max("ver")).collect()[0][0] > 1  # really multi-batch
        got = _final_state(tbl).toPandas().set_index("user_id").sort_index()

        ranked = get_rank(events, ["user_id"], "ts", tiebreak=["event_id"])
        want = featurize_sequential(ranked, ["user_id"], 3, ["value"]) \
            .toPandas().set_index("user_id").sort_index()
        assert (got.index == want.index).all()
        for c in ("1_value", "2_value", "3_value"):
            a, b = got[c].fillna(-1), want[c].fillna(-1)
            assert abs(a - b).max() < 1e-9


class TestStreamingLastNMultiCol:
    def test_two_columns_match_batch_pivot(self, spark, events):
        from pyspark.sql import functions as F
        ev = events.withColumn("v2", F.col("value") * 2.0)
        stream = stream_events(spark, f"{SF_DIR}/events.parquet") \
            .withColumn("v2", F.col("value") * 2.0)
        tbl = run_to_memory(streaming_last_n(stream, 3,
                                             value_col=["value", "v2"]),
                            "t_last3_mc", "update")
        got = _final_state(tbl).toPandas().set_index("user_id").sort_index()

        ranked = get_rank(ev, ["user_id"], "ts", tiebreak=["event_id"])
        want = featurize_sequential(ranked, ["user_id"], 3, ["value", "v2"]) \
            .toPandas().set_index("user_id").sort_index()
        for c in ("1_value", "2_value", "3_value", "1_v2", "2_v2", "3_v2"):
            a, b = got[c].fillna(-1), want[c].fillna(-1)
            assert abs(a - b).max() < 1e-9


class TestStreamStaticAndDedup:
    def test_enrich_with_static_matches_batch(self, spark, events):
        from pyspark.sql import functions as F
        from caspr_spark.streaming import (
            stream_events, enrich_with_static, run_to_memory)
        dim = spark.createDataFrame(
            [("click", 1), ("view", 2)], "event_type string, code int")
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        agg = enrich_with_static(stream, dim, on="event_type") \
            .groupBy("code").count()
        got = {r["code"]: r["count"] for r in
               run_to_memory(agg, "t_ss", "complete").collect()}
        want = {r["code"]: r["count"] for r in
                events.join(F.broadcast(dim), on="event_type", how="left")
                      .groupBy("code").count().collect()}
        assert got == want

    def test_streaming_dedup_collapses_duplicates(self, spark, events):
        from pyspark.sql import functions as F
        from caspr_spark.streaming import (
            stream_events, streaming_dedup, run_to_memory)
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        doubled = stream.unionByName(stream)
        deduped = streaming_dedup(doubled, ["event_id"], "ts")
        out = run_to_memory(deduped.groupBy().count(), "t_sd", "complete")
        assert out.collect()[0]["count"] == events.count()


class TestStreamStreamJoin:
    def _batch_pairs(self, events):
        v = events.filter("event_type = 'view'") \
            .select("user_id", F.col("event_id").alias("view_id"),
                    F.col("ts").alias("vts"))
        p = events.filter("event_type = 'purchase'") \
            .select(F.col("user_id").alias("pu"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("pts"))
        j = v.join(p, (v.user_id == p.pu) & (p.pts >= v.vts)
                   & (p.pts <= v.vts + F.expr("INTERVAL 3 days")))
        return sorted((r.view_id, r.purchase_id) for r in j.collect())

    def test_matches_batch_theta_join(self, spark, events):
        from caspr_spark.streaming import stream_stream_join
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        views = stream.filter("event_type = 'view'") \
            .select("user_id", F.col("event_id").alias("view_id"), "ts")
        purch = stream.filter("event_type = 'purchase'") \
            .select("user_id", F.col("event_id").alias("purchase_id"), "ts")
        out = stream_stream_join(views, purch, on="user_id",
                                 max_delay="3 days", watermark="1 day")
        tbl = run_to_memory(out, "t_ssj", "append")
        got = sorted((r.view_id, r.purchase_id) for r in tbl.collect())
        assert got == self._batch_pairs(events)
        assert len(got) > 0

    def test_batch_boundary_independence(self, spark, events, tmp_path):
        """Same matches whether both sides arrive in 1 file or 4.

        Files are split by TIME RANGE (part-00000 = earliest quarter...):
        a stream-stream join only guarantees completeness for data that
        arrives within its watermark, so the multi-batch replay must be
        (roughly) time-ordered like a real stream — a random shuffle of
        history into files is a time machine, and the watermark correctly
        drops its beyond-horizon arrivals."""
        import os
        import time as _time

        import numpy as _np

        from caspr_spark.streaming import stream_stream_join
        multi = str(tmp_path / "ssj_multi")
        os.makedirs(multi)
        pdf = events.toPandas().sort_values(["ts", "event_id"])
        for i, part in enumerate(_np.array_split(pdf, 4)):
            # sequential writes -> ascending mtimes, so the file source
            # replays the quarters in time order like a real stream
            part.to_parquet(f"{multi}/part-{i}.parquet", index=False)
            _time.sleep(0.05)
        stream = stream_events(spark, multi, max_files_per_trigger=1)
        views = stream.filter("event_type = 'view'") \
            .select("user_id", F.col("event_id").alias("view_id"), "ts")
        purch = stream.filter("event_type = 'purchase'") \
            .select("user_id", F.col("event_id").alias("purchase_id"), "ts")
        out = stream_stream_join(views, purch, on="user_id",
                                 max_delay="3 days", watermark="1 day")
        tbl = run_to_memory(out, "t_ssj_multi", "append", timeout_sec=180)
        got = sorted((r.view_id, r.purchase_id) for r in tbl.collect())
        assert got == self._batch_pairs(events)


class TestStreamingSessions:
    def _want(self, events):
        """Batch twin: lag/cumsum sessionization with the session_window
        convention (break at ts >= prev + gap; end = last + gap)."""
        w = Window.partitionBy("user_id").orderBy("ts")
        gap_us = 2 * 86400 * 1_000_000
        us = (F.unix_micros("ts")
              - F.unix_micros(F.lag("ts", 1).over(w)))
        brk = F.when(us.isNull() | (us >= gap_us), 1).otherwise(0)
        sess = (events.withColumn("sid", F.sum(brk).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)))
                .groupBy("user_id", "sid")
                .agg(F.min("ts").alias("session_start"),
                     (F.max("ts") + F.expr("INTERVAL 2 DAYS"))
                     .alias("session_end"),
                     F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 6).alias("sum_value")))
        return (sess.drop("sid").toPandas()
                .sort_values(["user_id", "session_start"])
                .reset_index(drop=True))

    def test_single_batch_matches_batch_sessionize(self, spark, events):
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        tbl = run_to_memory(streaming_sessions(stream), "t_sess", "complete")
        got = (tbl.toPandas().sort_values(["user_id", "session_start"])
               .reset_index(drop=True))
        want = self._want(events)
        assert len(got) == len(want)
        assert (got.user_id.values == want.user_id.values).all()
        assert (got.session_start.values == want.session_start.values).all()
        assert (got.session_end.values == want.session_end.values).all()
        assert (got.n.values == want.n.values).all()
        assert abs(got.sum_value.values - want.sum_value.values).max() < 1e-6

    def test_batch_boundary_independence(self, spark, events, tmp_path):
        """Sessions merge correctly across micro-batch boundaries."""
        multi = str(tmp_path / "sess_multi")
        events.repartition(4).write.mode("overwrite").parquet(multi)
        stream = stream_events(spark, multi, max_files_per_trigger=1)
        tbl = run_to_memory(streaming_sessions(stream), "t_sess_multi",
                            "complete", timeout_sec=180)
        got = (tbl.toPandas().sort_values(["user_id", "session_start"])
               .reset_index(drop=True))
        want = self._want(events)
        assert len(got) == len(want)
        assert (got.session_start.values == want.session_start.values).all()
        assert (got.n.values == want.n.values).all()


class TestStreamingAnomalyZscore:
    def _want(self, events):
        from pyspark.sql import Window as W
        win = (W.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(W.unboundedPreceding, -1))
        e = events.filter(F.col("value").isNotNull())
        s, q, n = (F.sum("value").over(win),
                   F.sum(F.col("value") * F.col("value")).over(win),
                   F.count("value").over(win))
        sd = F.sqrt((q - s * s / n) / (n - 1))
        z = F.when((n >= 2) & (sd > 0),
                   F.round((F.col("value") - s / n) / sd, 6))
        return {r.event_id: (r.n_prior, r.z) for r in
                e.select("event_id",
                         F.coalesce(n, F.lit(0)).cast("int").alias("n_prior"),
                         z.alias("z")).collect()}

    def test_single_batch_matches_window(self, spark, events):
        from caspr_spark.streaming import streaming_anomaly_zscore
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        tbl = run_to_memory(streaming_anomaly_zscore(stream),
                            "t_anom", "update")
        got = {r.event_id: (r.n_prior, r.z) for r in tbl.collect()}
        want = self._want(events)
        assert got.keys() == want.keys()
        for k in want:
            assert got[k][0] == want[k][0]
            a, b = got[k][1], want[k][1]
            assert (a is None and b is None) or abs(a - b) < 1e-6

    def test_state_is_three_fixed_width_numbers(self, spark):
        # `spark` fixture: StructType.fromDDL parses via the active
        # context in Spark 4 — without it this test only passes when an
        # earlier test already built the session (a -k selection flake)
        # r4 verdict item 9: stream_anomaly grew 5.1x at 10x KEYS in the
        # sf1 sweep — expected, because state scales with key
        # cardinality. This pins the per-key payload at exactly three
        # fixed-width numbers (24 bytes), so the 1e9-key footprint
        # stays a computable ~24 GB + store overhead and can never
        # regress into per-event state silently.
        from pyspark.sql.types import DoubleType, LongType, StructType
        from caspr_spark.streaming import ANOMALY_STATE_SCHEMA
        st = StructType.fromDDL(ANOMALY_STATE_SCHEMA)
        assert len(st.fields) == 3
        widths = {LongType: 8, DoubleType: 8}
        payload = sum(widths[type(f.dataType)] for f in st.fields)
        assert payload == 24

    def test_time_ordered_multibatch(self, spark, events, tmp_path):
        """Prequential state carries across batches on an ordered replay."""
        import os
        import time as _time
        import numpy as _np
        from caspr_spark.streaming import streaming_anomaly_zscore
        multi = str(tmp_path / "anom_multi")
        os.makedirs(multi)
        pdf = events.toPandas().sort_values(["ts", "event_id"])
        for i, part in enumerate(_np.array_split(pdf, 4)):
            part.to_parquet(f"{multi}/part-{i}.parquet", index=False)
            _time.sleep(0.05)
        stream = stream_events(spark, multi, max_files_per_trigger=1)
        tbl = run_to_memory(streaming_anomaly_zscore(stream),
                            "t_anom_multi", "update", timeout_sec=180)
        got = {r.event_id: (r.n_prior, r.z) for r in tbl.collect()}
        want = self._want(events)
        assert got.keys() == want.keys()
        for k in want:
            assert got[k][0] == want[k][0]
            a, b = got[k][1], want[k][1]
            assert (a is None and b is None) or abs(a - b) < 1e-6


class TestStreamingTopk:
    def test_matches_batch_topk(self, spark, events):
        from caspr_spark.streaming import (streaming_windowed_topk,
                                           topk_of_windows)
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        counts = streaming_windowed_topk(stream, k=3, window="1 day",
                                         watermark="1 day")
        tbl = run_to_memory(counts, "t_topk", "complete")
        got = {(str(r.window_start), r.key, r.cnt, r.rk)
               for r in topk_of_windows(tbl, k=3).collect()}
        bw = Window.partitionBy("window_start").orderBy(
            F.col("cnt").desc(), F.col("key").asc())
        want = {(str(r.window_start), r.key, r.cnt, r.rk) for r in
                (events.groupBy(
                    F.date_trunc("day", "ts").alias("window_start"),
                    F.col("event_type").alias("key"))
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .withColumn("rk", F.row_number().over(bw))
                 .filter("rk <= 3")).collect()}
        assert got == want

    def test_batch_boundary_independence(self, spark, events, tmp_path):
        import numpy as _np
        import time as _time
        from caspr_spark.streaming import (streaming_windowed_topk,
                                           topk_of_windows)
        multi = str(tmp_path / "topk_multi")
        os.makedirs(multi)
        pdf = events.toPandas().sort_values(["ts", "event_id"])
        for i, part in enumerate(_np.array_split(pdf, 3)):
            part.to_parquet(f"{multi}/part-{i}.parquet", index=False)
            _time.sleep(0.05)
        stream = stream_events(spark, multi, max_files_per_trigger=1)
        counts = streaming_windowed_topk(stream, k=3, window="1 day",
                                         watermark="1 day")
        tbl = run_to_memory(counts, "t_topk_multi", "complete",
                            timeout_sec=180)
        single = run_to_memory(
            streaming_windowed_topk(
                stream_events(spark, f"{SF_DIR}/events.parquet"),
                k=3, window="1 day", watermark="1 day"),
            "t_topk_single", "complete")
        a = {(str(r.window_start), r.key, r.cnt, r.rk)
             for r in topk_of_windows(tbl, 3).collect()}
        b = {(str(r.window_start), r.key, r.cnt, r.rk)
             for r in topk_of_windows(single, 3).collect()}
        assert a == b

    def test_validation(self, spark):
        from caspr_spark.streaming import streaming_windowed_topk
        stream = stream_events(spark, f"{SF_DIR}/events.parquet")
        with pytest.raises(ValueError, match="k must"):
            streaming_windowed_topk(stream, k=0)


class TestStreamingDedupAgainstHistory:
    def _inputs(self, spark, tmp_path, parts=1):
        docs = [(100, "the quick brown fox jumps over the lazy dog"),
                (101, "some archived page with unique content")]
        history = spark.createDataFrame(docs, "doc_id long, text string")
        batch = spark.createDataFrame([
            (1, "The  quick brown fox   jumps over the lazy dog"),  # hist dup
            (2, "a genuinely new document"),
            (3, "a genuinely new document"),       # within-stream re-crawl
            (4, "another fresh one"),
            (5, None),                             # null text: always kept
            (6, None),
        ], "doc_id long, text string").withColumn(
            "ts", F.timestamp_seconds(1704067200 + F.col("doc_id")))
        path = str(tmp_path / "batchin")
        batch.repartition(parts).write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema(batch.schema).parquet(path)
        return history, stream

    def _run(self, spark, tmp_path, parts, name):
        from caspr_spark.llm.dedup import build_history_keys
        from caspr_spark.streaming import (run_to_memory,
                                           streaming_dedup_against_history)
        history, stream = self._inputs(spark, tmp_path, parts)
        kept = streaming_dedup_against_history(
            stream, build_history_keys(history), watermark="365 days")
        return run_to_memory(kept, name, "append").toPandas()

    def test_history_and_stream_dups_drop_nulls_kept(self, spark, tmp_path):
        got = self._run(spark, tmp_path, 1, "t_sdh1")
        # doc 1 matches history; docs 2/3 collapse to one; nulls both kept
        ids = sorted(got["doc_id"])
        assert 1 not in ids and 4 in ids and 5 in ids and 6 in ids
        assert sum(1 for i in ids if i in (2, 3)) == 1
        assert len(ids) == 4

    def test_kept_key_set_is_batch_boundary_independent(self, spark,
                                                        tmp_path):
        """The surviving CONTENT-KEY set must not depend on micro-batch
        boundaries (which row of a dup pair survives may — the key set
        is the contract, exactly what the oracle checks)."""
        a = self._run(spark, tmp_path / "a", 1, "t_sdh_a")
        b = self._run(spark, tmp_path / "b", 4, "t_sdh_b")

        def keyset(pdf):
            return set(pdf["text"].fillna("__null" +
                                          pdf["doc_id"].astype(str)))
        assert keyset(a) == keyset(b)
        assert len(a) == len(b)


class TestStreamingGramCensus:
    """Round-11: the streaming span census — the associative census
    fold surfaced as a built-in streaming aggregation."""

    def _drain(self, spark, docs, path, files_per_trigger, name):
        from caspr_spark.streaming import (run_to_memory,
                                           streaming_gram_census)
        docs.repartition(6).write.mode("overwrite").parquet(str(path))
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", files_per_trigger)
                  .parquet(str(path)))
        tbl = run_to_memory(streaming_gram_census(stream, n=3),
                            name, "complete")
        return {r["gram_hash"]: (r["cnt"], r["gram_n"])
                for r in tbl.collect()}

    def _docs(self, spark):
        rows = [(i, f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} tail{i}")
                for i in range(120)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_batch_census(self, spark, tmp_path):
        """Drained streaming state == one-shot build_gram_census."""
        from caspr_spark.llm.dedup import build_gram_census
        docs = self._docs(spark)
        got = self._drain(spark, docs, tmp_path / "s", 1, "t_sgc_batch")
        want = {r["gram_hash"]: (r["cnt"], r["gram_n"])
                for r in build_gram_census(docs, n=3).collect()}
        assert got == want

    def test_batch_boundary_independence(self, spark, tmp_path):
        """1-file and 6-file triggers must reach the identical census —
        the associative-fold contract."""
        docs = self._docs(spark)
        a = self._drain(spark, docs, tmp_path / "a", 1, "t_sgc_a")
        b = self._drain(spark, docs, tmp_path / "b", 6, "t_sgc_b")
        assert a == b

    def test_width_and_null_text(self, spark, tmp_path):
        """gram_n rides as data; null/short texts contribute nothing
        (the span family's NULL passthrough contract)."""
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, None), (3, "x y")],
            "doc_id long, text string")
        got = self._drain(spark, docs, tmp_path / "n", 1, "t_sgc_null")
        assert all(gn == 3 for _, gn in got.values())
        assert len(got) == 2  # 'a b c' and 'b c d' only
        assert all(c == 1 for c, _ in got.values())


class TestGramCensusStateSink:
    """Round-12: the census's PRODUCTION sink shape — foreachBatch +
    append_gram_census onto a versioned parquet state table
    (gram_census_sink / run_gram_census_to_state)."""

    def _docs(self, spark):
        rows = [(i, f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} tail{i}")
                for i in range(60)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _census_rows(self, df):
        return {r["gram_hash"]: (r["cnt"], r["gram_n"])
                for r in df.collect()}

    def test_state_roundtrip_with_restart(self, spark, tmp_path):
        """Half the docs drain to state; the rest land and a NEW query
        on the SAME checkpoint resumes — final state equals the
        one-shot full-corpus census row-for-row."""
        from caspr_spark.llm.dedup import build_gram_census
        from caspr_spark.streaming import run_gram_census_to_state
        docs = self._docs(spark)
        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        docs.filter("doc_id % 2 = 0").repartition(3) \
            .write.mode("overwrite").parquet(src)
        s1 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        mid = run_gram_census_to_state(s1, state, ckpt, n=3)
        want_mid = self._census_rows(
            build_gram_census(docs.filter("doc_id % 2 = 0"), n=3))
        assert self._census_rows(mid) == want_mid
        docs.filter("doc_id % 2 = 1").repartition(3) \
            .write.mode("append").parquet(src)
        s2 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        final = run_gram_census_to_state(s2, state, ckpt, n=3)
        assert self._census_rows(final) == self._census_rows(
            build_gram_census(docs, n=3))

    def test_replayed_batch_id_is_skipped(self, spark, tmp_path):
        """Exactly-once leg 1: a batch id whose version is already
        committed is a post-crash replay — the fold must be a no-op
        even if the replayed frame differs (the committed state is the
        truth; re-folding would double-count)."""
        from caspr_spark.state import state_listing
        from caspr_spark.streaming import gram_census_sink
        state = str(tmp_path / "state")
        fold = gram_census_sink(state, n=3)
        docs = self._docs(spark)
        fold(docs, 0)
        assert [b for b, _ in state_listing(spark, state)] == [0]
        before = self._census_rows(spark.read.parquet(f"{state}/v0"))
        fold(docs.limit(5), 0)              # replay with different data
        assert self._census_rows(
            spark.read.parquet(f"{state}/v0")) == before

    def test_crashed_write_is_rewritten(self, spark, tmp_path):
        """Exactly-once leg 2: a markerless v{b} dir is a crashed
        attempt of the SAME batch (ids never reuse) — it is invisible
        to version listing and overwritten idempotently."""
        import os
        from caspr_spark.llm.dedup import build_gram_census
        from caspr_spark.state import state_listing
        from caspr_spark.streaming import gram_census_sink
        state = str(tmp_path / "state")
        os.makedirs(f"{state}/v0")
        with open(f"{state}/v0/part-junk.parquet", "w") as fh:
            fh.write("partial garbage")     # no _SUCCESS marker
        assert [b for b, _ in state_listing(spark, state)] == []
        docs = self._docs(spark)
        gram_census_sink(state, n=3)(docs, 0)
        assert [b for b, _ in state_listing(spark, state)] == [0]
        assert self._census_rows(spark.read.parquet(f"{state}/v0")) == \
            self._census_rows(build_gram_census(docs, n=3))

    def test_prune_keeps_newest_and_skips_markerless(self, spark, tmp_path):
        """The TTL job: old committed versions go, the newest keep_last
        stay, markerless (in-flight/crashed) dirs are untouched."""
        import os
        from caspr_spark.state import state_listing
        from caspr_spark.streaming import (gram_census_sink,
                                           prune_census_state)
        state = str(tmp_path / "state")
        docs = self._docs(spark)
        fold = gram_census_sink(state, n=3)
        for b in range(4):
            fold(docs.filter(f"doc_id % 4 = {b}"), b)
        os.makedirs(f"{state}/v9")          # markerless in-flight dir
        assert [b for b, _ in state_listing(spark, state)] == [0, 1, 2, 3]
        deleted = prune_census_state(spark, state, keep_last=2)
        assert deleted == [0, 1]
        assert [b for b, _ in state_listing(spark, state)] == [2, 3]
        assert os.path.isdir(f"{state}/v9")  # never touched
        assert prune_census_state(spark, state, keep_last=2) == []
        with pytest.raises(ValueError, match="keep_last"):
            prune_census_state(spark, state, keep_last=0)

    def test_delta_layout_roundtrip_compaction_prune(self, spark, tmp_path):
        """The LSM layout: per-batch deltas (O(batch) writes), periodic
        compaction, bounded read-side merge — final state equals the
        one-shot census across a restart; pruning drops only what the
        newest compact supersedes."""
        from caspr_spark.llm.dedup import build_gram_census
        from caspr_spark.state import state_listing
        from caspr_spark.streaming import (prune_census_state,
                                           read_gram_census_state,
                                           run_gram_census_to_state)
        docs = self._docs(spark)
        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        docs.filter("doc_id % 2 = 0").repartition(3) \
            .write.mode("overwrite").parquet(src)
        s1 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        run_gram_census_to_state(s1, state, ckpt, n=3, layout="delta",
                                 compact_every=3)
        # 3 one-file batches: first commit is a compact, then deltas
        # (batch 2 sees only one live delta, below the threshold)
        assert state_listing(spark, state) == \
            [(0, "compact"), (1, "delta"), (2, "delta")]
        docs.filter("doc_id % 2 = 1").repartition(3) \
            .write.mode("append").parquet(src)
        s2 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        final = run_gram_census_to_state(s2, state, ckpt, n=3,
                                         layout="delta", compact_every=3)
        # restart resumed at batch 3: two live deltas + the batch hit
        # the threshold -> compact c3; 4 and 5 are deltas again
        assert state_listing(spark, state) == \
            [(0, "compact"), (1, "delta"), (2, "delta"),
             (3, "compact"), (4, "delta"), (5, "delta")]
        want = self._census_rows(build_gram_census(docs, n=3))
        assert self._census_rows(final) == want
        # prune: c3 supersedes c0/d1/d2; live deltas d4/d5 untouched
        assert prune_census_state(spark, state, keep_last=1) == [0, 1, 2]
        assert state_listing(spark, state) == \
            [(3, "compact"), (4, "delta"), (5, "delta")]
        assert self._census_rows(
            read_gram_census_state(spark, state, n=3)) == want

    def test_layout_mismatch_refused(self, spark, tmp_path):
        """One state dir, one layout: a sink of the other layout
        refuses to write, and the reader refuses a mixed dir."""
        import os
        from caspr_spark.streaming import (gram_census_sink,
                                           read_gram_census_state)
        state = str(tmp_path / "state")
        docs = self._docs(spark)
        gram_census_sink(state, n=3, layout="delta")(docs, 0)
        with pytest.raises(RuntimeError, match="one state dir"):
            gram_census_sink(state, n=3, layout="rebuild")(docs, 1)
        gram_census_sink(str(tmp_path / "other"), n=3)(docs, 0)
        # hand-mix: copy a rebuild dir next to the delta state
        import shutil
        shutil.copytree(str(tmp_path / "other" / "v0"), f"{state}/v7")
        with pytest.raises(RuntimeError, match="mixed"):
            read_gram_census_state(spark, state, n=3)
        with pytest.raises(ValueError, match="layout"):
            gram_census_sink(state, n=3, layout="append")
        with pytest.raises(ValueError, match="compact_every"):
            gram_census_sink(state, n=3, layout="delta", compact_every=1)

    def test_out_of_order_batch_id_refused(self, spark, tmp_path):
        """An UNCOMMITTED batch id at or below the committed frontier
        raises (shared fold_commit guard): merges order frames by
        batch id, so a late fold would be silently excluded below a
        compact instead of counted."""
        from caspr_spark.streaming import gram_census_sink
        docs = self._docs(spark)
        state = str(tmp_path / "state")
        fold = gram_census_sink(state, n=3, layout="delta")
        fold(docs.limit(10), 5)
        with pytest.raises(ValueError, match="not newer"):
            fold(docs.limit(5), 3)
        # rebuild layout: same guard
        state2 = str(tmp_path / "state2")
        fold2 = gram_census_sink(state2, n=3)
        fold2(docs.limit(10), 5)
        with pytest.raises(ValueError, match="not newer"):
            fold2(docs.limit(5), 3)

    def test_read_width_guard_single_frame(self, spark, tmp_path):
        """A state built at one n refuses (in-plan) to feed a reader
        expecting another — including the single-live-frame path that
        bypasses the merge."""
        from caspr_spark.streaming import (gram_census_sink,
                                           read_gram_census_state)
        state = str(tmp_path / "state")
        # n=3 over the 4-token docs yields real rows (an in-plan guard
        # on an EMPTY census has nothing to evaluate)
        gram_census_sink(state, n=3)(self._docs(spark), 0)
        with pytest.raises(Exception, match="operator expects n=4"):
            read_gram_census_state(spark, state, n=4).collect()

    def test_track_first_rides_through_folds(self, spark, tmp_path):
        """track_first state (first_id/first_pos) folds batch over
        batch to the same values as a one-shot tracking census — the
        min(struct) election is associative."""
        from caspr_spark.llm.dedup import build_gram_census
        from caspr_spark.streaming import gram_census_sink
        docs = self._docs(spark)
        state = str(tmp_path / "state")
        fold = gram_census_sink(state, n=3, track_first=True)
        fold(docs.filter("doc_id >= 30"), 0)   # later ids arrive FIRST
        fold(docs.filter("doc_id < 30"), 1)
        got = {r["gram_hash"]: (r["cnt"], r["first_id"], r["first_pos"])
               for r in spark.read.parquet(f"{state}/v1").collect()}
        want = {r["gram_hash"]: (r["cnt"], r["first_id"], r["first_pos"])
                for r in build_gram_census(docs, n=3,
                                           track_first=True).collect()}
        assert got == want

    def test_second_writer_refused(self, spark, tmp_path):
        """Round-13 single-writer tripwire: a second stream pointed at
        the SAME state dir under a DIFFERENT checkpoint fails loudly
        at its first fold (each stream numbers batches from its own
        checkpoint — letting both fold would interleave batch ids and
        make each skip the other's commits as replays); the SAME
        checkpoint re-claims freely (that is the restart path)."""
        from caspr_spark.streaming import run_gram_census_to_state
        docs = self._docs(spark)
        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        ckpt_a, ckpt_b = str(tmp_path / "ckptA"), str(tmp_path / "ckptB")
        docs.filter("doc_id % 2 = 0").repartition(2) \
            .write.mode("overwrite").parquet(src)
        s = (spark.readStream.schema(docs.schema)
             .option("maxFilesPerTrigger", 1).parquet(src))
        run_gram_census_to_state(s, state, ckpt_a, n=3)
        # same checkpoint, more data: the restart path still works
        docs.filter("doc_id % 2 = 1").repartition(2) \
            .write.mode("append").parquet(src)
        s2 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        run_gram_census_to_state(s2, state, ckpt_a, n=3)
        # different checkpoint onto the same state dir: refused
        s3 = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        with pytest.raises(Exception, match="claimed by writer"):
            run_gram_census_to_state(s3, state, ckpt_b, n=3)

    def test_dedup_corpus_sink_exact(self, spark, tmp_path):
        """Round-13 streaming corpus dedup (exactly-once composition):
        direct folds with controlled batch ids — batch-internal dup
        collapses, cross-batch dup drops via the key state, first
        arrival wins, REPLAY of a committed batch is a no-op, and an
        out-of-order id refuses BEFORE writing output."""
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out)
        b1 = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the  QUICK brown fox"),
             (3, "some unique day one text")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, "the quick brown fox"),       # dup of batch-1 doc 1
             (11, "fresh day two material"),
             (12, "fresh day two material")],   # internal dup of 11
            "doc_id long, text string")
        sink(b1, 1)
        sink(b2, 2)
        got = {(r.doc_id, r.text) for r in
               read_dedup_corpus(spark, out).collect()}
        assert {d for d, _ in got} == {1, 3, 11}
        # replay: corpus unchanged
        sink(b2, 2)
        assert {(r.doc_id, r.text) for r in
                read_dedup_corpus(spark, out).collect()} == got
        # out-of-order: refused, and no k0 output dir appears
        import pytest as _pytest
        with _pytest.raises(ValueError, match="not newer"):
            sink(b1, 0)
        from caspr_spark.state import committed_output_ids
        assert committed_output_ids(spark, out) == [1, 2]

    def test_dedup_corpus_sink_near_mode(self, spark, tmp_path):
        """Near mode: an LSH near-duplicate of a prior batch's doc is
        dropped via the versioned signature state; novel text
        survives."""
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out, mode="near", num_hashes=64,
                                 bands=32, threshold=0.5,
                                 hash_family="portable")
        b1 = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "completely different archival content here")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the sleepy dog"),
             (11, "novel second day material nothing like before")],
            "doc_id long, text string")
        sink(b1, 1)
        sink(b2, 2)
        kept = {r.doc_id for r in read_dedup_corpus(spark, out).collect()}
        assert kept == {1, 2, 11}

    def test_dedup_corpus_stream_restart(self, spark, tmp_path):
        """End-to-end through a real stream with a RESTART boundary:
        the accumulated corpus holds exactly one survivor per content
        key — no key lost, no duplicate kept — regardless of how the
        file source carved micro-batches."""
        from pyspark.sql import functions as SF

        from caspr_spark.streaming import run_dedup_corpus_to_state
        docs = self._docs(spark)   # 60 docs, all distinct texts
        dup = docs.withColumn("doc_id", SF.col("doc_id") + 1000)
        corpus = docs.unionByName(dup)   # every text exactly twice
        src = str(tmp_path / "src")
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        corpus.filter("doc_id % 2 = 0").repartition(3) \
              .write.mode("overwrite").parquet(src)
        s1 = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        run_dedup_corpus_to_state(s1, state, out, ckpt)
        corpus.filter("doc_id % 2 = 1").repartition(3) \
              .write.mode("append").parquet(src)
        s2 = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        final = run_dedup_corpus_to_state(s2, state, out, ckpt)
        keys = [r[0] for r in final.select(
            SF.md5(SF.lower(SF.regexp_replace(
                SF.trim("text"), r"\s+", " ")))).collect()]
        want = {r[0] for r in docs.select(
            SF.md5(SF.lower(SF.regexp_replace(
                SF.trim("text"), r"\s+", " ")))).distinct().collect()}
        assert len(keys) == len(want) and set(keys) == want

    def test_claim_writer_direct(self, spark, tmp_path):
        """claim_writer semantics without a stream: first claim
        writes the lease, same-id re-claim is a no-op, different id
        raises, and deleting the lease hands the dir over."""
        import os

        from caspr_spark.state import claim_writer
        state = str(tmp_path / "state")
        claim_writer(spark, state, "writerA")
        claim_writer(spark, state, "writerA")
        with pytest.raises(RuntimeError, match="claimed by writer"):
            claim_writer(spark, state, "writerB")
        os.remove(os.path.join(state, "_writer"))
        claim_writer(spark, state, "writerB")

    def test_claim_writer_corrupt_lease_reports(self, spark, tmp_path):
        """A zero-byte/garbage _writer lease (pre-rename-era crash or
        external edit) reports itself as corrupt with the delete-to-
        re-claim remedy, instead of an opaque JSONDecodeError; no
        staging temp files are left behind by a normal claim."""
        import os

        from caspr_spark.state import claim_writer
        state = str(tmp_path / "state")
        os.makedirs(state)
        with open(os.path.join(state, "_writer"), "w"):
            pass                                # zero-byte lease
        with pytest.raises(RuntimeError, match="unreadable"):
            claim_writer(spark, state, "writerA")
        os.remove(os.path.join(state, "_writer"))
        claim_writer(spark, state, "writerA")
        assert not [f for f in os.listdir(state)
                    if f.startswith("_writer.tmp")]

    def test_corpus_sink_marked_output_not_rewritten(self, spark,
                                                     tmp_path):
        """Crash-replay immutability: when the crash fell BETWEEN the
        output dir's _SUCCESS commit and the state fold, the replay
        must NOT rewrite the already-marked k{b} dir (a concurrent
        reader that listed the marker would see it vanish) — it skips
        straight to the state fold."""
        import os

        from caspr_spark.state import state_listing
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out)
        b1 = spark.createDataFrame([(1, "alpha text"), (2, "beta text")],
                                   "doc_id long, text string")
        b2 = spark.createDataFrame([(10, "alpha text"), (11, "gamma")],
                                   "doc_id long, text string")
        sink(b1, 1)
        sink(b2, 2)
        # simulate the crash window: state fold of batch 2 lost, but
        # its output dir is committed
        import shutil
        shutil.rmtree(os.path.join(state, "d2"))
        assert [b for b, _ in state_listing(spark, state)] == [1]
        sentinel = os.path.join(out, "k2", "_sentinel")
        with open(sentinel, "w") as f:
            f.write("untouched")
        sink(b2, 2)                              # replay
        assert os.path.exists(sentinel), \
            "marked output dir was rewritten on crash replay"
        assert [b for b, _ in state_listing(spark, state)] == [1, 2]
        kept = {r.doc_id for r in read_dedup_corpus(spark, out).collect()}
        assert kept == {1, 2, 11}

    def test_describe_state(self, spark, tmp_path):
        """describe_state reports frames/live/layout/frontier/lease/
        crash debris from listings alone — committed cadence, a
        markerless crashed dir, a claimed lease, and a corrupt lease
        all show up."""
        import os

        from caspr_spark.llm.dedup import append_history_keys_state
        from caspr_spark.state import claim_writer, describe_state
        state = str(tmp_path / "keys")
        assert describe_state(spark, state)["frames"] == []
        for d in (1, 2, 3):
            append_history_keys_state(
                spark, state, d,
                spark.createDataFrame([(d, f"day {d} text")],
                                      "doc_id long, text string"),
                compact_every=2)
        claim_writer(spark, state, "ckpt-A")
        os.makedirs(os.path.join(state, "d9"))   # crashed attempt
        info = describe_state(spark, state)
        assert [(f["batch_id"], f["kind"]) for f in info["frames"]] \
            == [(1, "compact"), (2, "delta"), (3, "compact")]
        assert all(f["files"] >= 1 and f["bytes"] > 0
                   for f in info["frames"])
        assert info["layout"] == "delta" and info["frontier"] == 3
        assert [x["batch_id"] for x in info["live"]] == [3]
        assert info["writer"] == "ckpt-A"
        assert info["markerless"] == ["d9"]
        os.remove(os.path.join(state, "_writer"))
        crc = os.path.join(state, "._writer.crc")
        if os.path.exists(crc):
            os.remove(crc)        # drop Hadoop's checksum shadow too
        with open(os.path.join(state, "_writer"), "w") as f:
            f.write("not json")
        assert describe_state(spark, state)["writer"] == "<corrupt>"

    def test_compact_corpus_retention(self, spark, tmp_path):
        """Round-14 output-dir retention: compact_corpus folds old
        k{b} dirs into one m{b_max} merge, keeps the newest keep_last
        k-dirs for tailing consumers, the post-compaction corpus is
        row-identical, a crash between merge commit and victim
        deletes never double-reads (supersede rule), and re-running
        cleans the leftovers."""
        import os

        from caspr_spark.streaming import (compact_corpus,
                                           dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out)
        for b in range(1, 6):
            sink(spark.createDataFrame(
                [(b * 10 + i, f"batch {b} doc {i} body")
                 for i in range(3)],
                "doc_id long, text string"), b)
        want = {r.doc_id for r in read_dedup_corpus(spark, out).collect()}
        assert len(want) == 15
        deleted = compact_corpus(spark, out, keep_last=2)
        assert deleted == ["k1", "k2", "k3"]
        assert sorted(d for d in os.listdir(out)
                      if not d.startswith("_")) == ["k4", "k5", "m3"]
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == want
        # crash window: merge m5 committed but victims k4/k5 + old m3
        # not yet deleted — simulate by compacting everything, then
        # restoring a superseded k-dir copy
        import shutil
        shutil.copytree(os.path.join(out, "k4"),
                        os.path.join(out, "k4.bak"))
        compact_corpus(spark, out, keep_last=0)
        assert sorted(d for d in os.listdir(out)
                      if not d.startswith("_")) == ["k4.bak", "m5"]
        shutil.move(os.path.join(out, "k4.bak"), os.path.join(out, "k4"))
        # superseded leftover k4 (id <= newest merge) is invisible
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == want
        # re-run deletes the leftover without re-merging
        assert compact_corpus(spark, out, keep_last=0) == ["k4"]
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == want
        # the sink keeps appending past a merge: new k6 is picked up
        sink(spark.createDataFrame([(60, "batch six body")],
                                   "doc_id long, text string"), 6)
        got = {r.doc_id for r in read_dedup_corpus(spark, out).collect()}
        assert got == want | {60}

    def test_near_sink_family_mismatch_refuses_before_output(
            self, spark, tmp_path):
        """A near-mode sink pointed at a PRE-EXISTING state dir of the
        other hash family must refuse BEFORE writing any output dir —
        a marked k{b} of un-deduped docs would otherwise survive the
        crash-replay skip-rewrite rule as permanent wrong bytes."""
        import os

        from caspr_spark.llm.dedup import append_history_signatures_state
        from caspr_spark.streaming import dedup_corpus_sink
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        append_history_signatures_state(spark, state, 1, docs,
                                        num_hashes=16,
                                        hash_family="fast")
        sink = dedup_corpus_sink(state, out, mode="near", num_hashes=16,
                                 bands=8, hash_family="portable")
        b2 = spark.createDataFrame([(10, "novel second day material")],
                                   "doc_id long, text string")
        with pytest.raises(ValueError, match="hash_family"):
            sink(b2, 2)
        assert not os.path.exists(os.path.join(out, "k2")), \
            "output dir written before the family refusal"

    def test_signature_guard_survives_empty_newest_frame(self, spark,
                                                         tmp_path):
        """The signature-state family/width guard probes PAST empty
        frames: after a batch where every doc deduped away (zero-row
        delta — routine in the corpus sink's near mode), a fold with
        a mismatched family must still refuse."""
        from caspr_spark.llm.dedup import append_history_signatures_state
        state = str(tmp_path / "sigstate")
        b1 = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        empty = b1.filter("doc_id < 0")
        append_history_signatures_state(spark, state, 1, b1,
                                        hash_family="portable")
        append_history_signatures_state(spark, state, 2, empty,
                                        hash_family="portable")
        with pytest.raises(ValueError, match="hash_family"):
            append_history_signatures_state(spark, state, 3, b1,
                                            hash_family="fast")
        with pytest.raises(ValueError, match="num_hashes"):
            append_history_signatures_state(spark, state, 3, b1,
                                            num_hashes=32,
                                            hash_family="portable")

    def test_key_state_normalize_mismatch_refuses(self, spark, tmp_path):
        """The two ``normalize`` settings key the same text differently,
        so a copy that differs only in case or spacing would be kept
        silently: a key-table fold and an exact-mode sink under the
        other setting refuse, the sink before writing any output dir;
        the stamp survives a compaction."""
        import os

        from caspr_spark.llm.dedup import append_history_keys_state
        from caspr_spark.state import state_listing
        from caspr_spark.streaming import dedup_corpus_sink
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        day = lambda i, text: spark.createDataFrame(
            [(i, text)], "doc_id long, text string")
        append_history_keys_state(spark, state, 1, day(1, "Hello  World"),
                                  compact_every=2)
        append_history_keys_state(spark, state, 2, day(2, "other text"),
                                  compact_every=2)       # a compaction
        with pytest.raises(ValueError, match="normalize"):
            append_history_keys_state(spark, state, 3,
                                      day(3, "hello world"),
                                      normalize=False)
        sink = dedup_corpus_sink(state, out, mode="exact", normalize=False)
        with pytest.raises(ValueError, match="normalize"):
            sink(day(4, "hello world"), 4)
        assert not os.path.exists(os.path.join(out, "k4")), \
            "output dir written before the normalize refusal"
        # under the state's own setting the copy is found and dropped
        dedup_corpus_sink(state, out, mode="exact")(day(5, "hello world"), 5)
        assert state_listing(spark, state)[-1][0] == 5
        assert spark.read.parquet(os.path.join(out, "k5")).count() == 0

    def test_near_sink_width_mismatch_refuses_before_output(
            self, spark, tmp_path):
        """r14 ADVICE regression: a near-mode sink pointed at a
        PRE-EXISTING signature state of a different WIDTH (num_hashes)
        must refuse BEFORE writing any output dir. The old read-side
        guard checked only hash_family — a width mismatch mis-banded
        the history join silently, committed an under-deduped k{b},
        and the corrected replay's skip-rewrite folded the stale bytes
        into state permanently."""
        import os

        from caspr_spark.llm.dedup import append_history_signatures_state
        from caspr_spark.streaming import dedup_corpus_sink
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        append_history_signatures_state(spark, state, 1, docs,
                                        num_hashes=32,
                                        hash_family="fast")
        sink = dedup_corpus_sink(state, out, mode="near", num_hashes=16,
                                 bands=8, hash_family="fast")
        b2 = spark.createDataFrame([(10, "novel second day material")],
                                   "doc_id long, text string")
        with pytest.raises(ValueError, match="num_hashes"):
            sink(b2, 2)
        assert not os.path.exists(os.path.join(out, "k2")), \
            "output dir written before the width refusal"
        # corrected width proceeds and commits normally
        ok = dedup_corpus_sink(state, out, mode="near", num_hashes=32,
                               bands=8, hash_family="fast")
        ok(b2, 2)
        assert os.path.exists(os.path.join(out, "k2", "_SUCCESS"))

    def test_claim_writer_readback_catches_replace_rename(
            self, spark, tmp_path, monkeypatch):
        """r14 ADVICE regression: POSIX/RawLocalFileSystem rename
        silently REPLACES an existing destination and returns true, so
        a successful rename is not proof of ownership — two racing
        first-claimers with different ids could both 'win'. The
        read-back check makes the overwritten claimer detect the loss:
        simulate writerB's replace-rename landing immediately after
        writerA's by overwriting the lease inside a wrapped rename."""
        import caspr_spark.state as state_mod
        state = str(tmp_path / "state")
        real_fs = state_mod._fs

        class _RaceFS:
            def __init__(self, fs, jvm):
                self._fs, self._jvm = fs, jvm
                self.checked = False

            def __getattr__(self, name):
                return getattr(self._fs, name)

            def exists(self, p):
                # writerA's pre-claim existence check runs before
                # writerB's rename lands: report the lease absent once
                if p.getName() == "_writer" and not self.checked:
                    self.checked = True
                    return False
                return self._fs.exists(p)

            def rename(self, src, dst):
                ok = self._fs.rename(src, dst)
                # writerB's replace-rename lands just after writerA's
                out = self._fs.create(dst, True)
                out.write(bytearray(
                    b'{"writer_id": "writerB"}'))
                out.close()
                return ok

        def raced_fs(spark_, state_dir):
            jvm, fs, jpath = real_fs(spark_, state_dir)
            return jvm, _RaceFS(fs, jvm), jpath

        monkeypatch.setattr(state_mod, "_fs", raced_fs)
        with pytest.raises(RuntimeError, match="writerB"):
            state_mod.claim_writer(spark, state, "writerA")
        monkeypatch.undo()
        # the surviving lease is writerB's — B re-claims fine, A refuses
        state_mod.claim_writer(spark, state, "writerB")
        with pytest.raises(RuntimeError, match="claimed by writer"):
            state_mod.claim_writer(spark, state, "writerA")

    def test_forget_document_readmits_exact(self, spark, tmp_path):
        """Round-15 forget-document: a withdrawn doc's content key
        stops suppressing future docs the moment its tombstone commits
        — the corpus sink then re-admits the next doc with that
        content; the key table's first-seen-wins election elects the
        re-admitted owner (anti-join BEFORE the election), and a
        replayed sink fold still skips."""
        from caspr_spark.llm.dedup import (forget_documents_state,
                                           read_history_keys_state)
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out)
        b1 = spark.createDataFrame(
            [(1, "withdrawn press release text"),
             (2, "innocent bystander document")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, "withdrawn press release text")],   # dup of doc 1
            "doc_id long, text string")
        sink(b1, 1)
        sink(b2, 2)
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {1, 2}
        forget_documents_state(
            spark, state, 1,
            spark.createDataFrame([(1,)], "doc_id long"))
        b3 = spark.createDataFrame(
            [(20, "withdrawn press release text")],
            "doc_id long, text string")
        sink(b3, 3)                       # re-admits post-forget
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {1, 2, 20}
        # replayed sink fold: still a no-op after the forget
        sink(b3, 3)
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {1, 2, 20}
        # election: the re-admitted doc owns the key now, 2 keeps its own
        owners = {r.history_id for r in
                  read_history_keys_state(spark, state).collect()}
        assert owners == {2, 20}

    def test_forget_document_readmits_near(self, spark, tmp_path):
        """The same forget lifecycle through the NEAR-mode signature
        state: the forgotten doc's signatures stop matching, the next
        identical doc survives the banded history join."""
        from caspr_spark.llm.dedup import forget_documents_state
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out, mode="near", num_hashes=16,
                                 bands=8, hash_family="portable")
        b1 = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        sink(b1, 1)
        sink(b2, 2)                       # dropped via signature state
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {1}
        forget_documents_state(
            spark, state, 1,
            spark.createDataFrame([(1,)], "doc_id long"))
        b3 = spark.createDataFrame(
            [(20, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        sink(b3, 3)
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {1, 20}

    def test_forget_compaction_bakes_and_prunes(self, spark, tmp_path):
        """Erasure end-state for the key table: after a tombstone, the
        next compaction's RAW frame no longer holds the forgotten
        doc's rows (read masking alone would pass with the bytes still
        on disk), and prune_state then drops the superseded frames."""
        from caspr_spark.llm.dedup import (append_history_keys_state,
                                           forget_documents_state)
        from caspr_spark.state import prune_state, state_listing, state_path
        state = str(tmp_path / "state")
        mk = lambda rows: spark.createDataFrame(rows,
                                                "doc_id long, text string")
        append_history_keys_state(spark, state, 1,
                                  mk([(1, "doomed text"), (2, "keep a")]),
                                  compact_every=2)
        append_history_keys_state(spark, state, 2, mk([(3, "keep b")]),
                                  compact_every=2)
        forget_documents_state(spark, state, 1,
                               spark.createDataFrame([(1,)], "doc_id long"))
        # third fold crosses the compact_every=2 boundary -> compact
        append_history_keys_state(spark, state, 3, mk([(4, "keep c")]),
                                  compact_every=2)
        assert (3, "compact") in state_listing(spark, state)
        raw = spark.read.parquet(state_path(state, 3, "compact"))
        assert {r.history_id for r in raw.collect()} == {2, 3, 4}
        assert prune_state(spark, state, keep_last=1) == [1, 2]

    def test_compact_corpus_drop_ids(self, spark, tmp_path):
        """Output-side erasure: compact_corpus(drop_ids=...) writes the
        merged dir WITHOUT the withdrawn docs, so their text leaves
        the corpus output when their source dirs fold into the merge."""
        from caspr_spark.streaming import (compact_corpus,
                                           dedup_corpus_sink,
                                           read_dedup_corpus)
        state, out = str(tmp_path / "state"), str(tmp_path / "out")
        sink = dedup_corpus_sink(state, out)
        sink(spark.createDataFrame([(1, "to be erased"), (2, "stays")],
                                   "doc_id long, text string"), 1)
        sink(spark.createDataFrame([(3, "also stays")],
                                   "doc_id long, text string"), 2)
        gone = compact_corpus(
            spark, out, keep_last=0,
            drop_ids=spark.createDataFrame([(1,)], "doc_id long"))
        assert set(gone) == {"k1", "k2"}
        assert {r.doc_id for r in
                read_dedup_corpus(spark, out).collect()} == {2, 3}

    def test_expect_state_fleet_report(self, spark, tmp_path):
        """Round-15 fleet health checks: expect_state evaluates
        operational rules over MANY state dirs from listings alone —
        a healthy claimed delta-layout table passes, a dir with crash
        debris and an unclaimed lease fails exactly the debris/lease
        rows, and the age clock is pinnable for determinism."""
        import os

        from caspr_spark import state as state_mod
        from caspr_spark.llm.dedup import append_history_keys_state
        healthy = str(tmp_path / "healthy")
        messy = str(tmp_path / "messy")
        for d in (1, 2, 3):
            for sd in (healthy, messy):
                append_history_keys_state(
                    spark, sd, d,
                    spark.createDataFrame([(d, f"day {d} text")],
                                          "doc_id long, text string"),
                    compact_every=2)
        state_mod.claim_writer(spark, healthy, "ckpt-A")
        os.makedirs(os.path.join(messy, "d9"))     # crashed attempt
        rules = [
            {"rule": "writer_is", "writer_id": "ckpt-A"},
            {"rule": "layout_is", "layout": "delta"},
            {"rule": "max_live_deltas", "max": 1},
            {"rule": "frontier_at_least", "min": 3},
            {"rule": "no_markerless"},
            {"rule": "no_stray_tmp"},
            {"rule": "max_live_bytes", "max": 10 * 1024 * 1024},
        ]
        rep = state_mod.expect_state(spark, [healthy, messy], rules)
        rows = {(r.state_dir, r.rule): r for r in rep.collect()}
        assert len(rows) == 2 * len(rules)
        assert rows[(healthy, "writer_is")].passed
        assert not rows[(messy, "writer_is")].passed      # unclaimed
        assert rows[(messy, "writer_is")].observed == "None"
        assert all(rows[(d, "layout_is")].passed
                   for d in (healthy, messy))
        # cadence: compact at 3 is newest, zero live deltas behind it
        assert rows[(healthy, "max_live_deltas")].observed == "0"
        assert rows[(healthy, "max_live_deltas")].passed
        assert rows[(healthy, "frontier_at_least")].passed
        assert rows[(healthy, "no_markerless")].passed
        assert not rows[(messy, "no_markerless")].passed
        assert rows[(messy, "no_markerless")].observed == "1"
        assert rows[(messy, "no_stray_tmp")].passed
        assert rows[(healthy, "max_live_bytes")].passed

    def test_expect_state_fold_age(self, spark, tmp_path):
        """max_fold_age_sec reads the newest committed file mtime
        (describe_state's mtime_ms field): a pinned now just past the
        fold passes, a pinned now far in the future fails, and an
        empty dir fails loudly rather than passing vacuously."""
        from caspr_spark import state as state_mod
        from caspr_spark.llm.dedup import append_history_keys_state
        sd = str(tmp_path / "aged")
        append_history_keys_state(
            spark, sd, 1,
            spark.createDataFrame([(1, "text")],
                                  "doc_id long, text string"))
        newest = max(f["mtime_ms"] for f in
                     state_mod.describe_state(spark, sd)["frames"])
        rule = [{"rule": "max_fold_age_sec", "max": 3600}]
        fresh = state_mod.expect_state(spark, [sd], rule,
                                       now_ms=newest + 1000).collect()
        assert fresh[0].passed
        stale = state_mod.expect_state(
            spark, [sd], rule, now_ms=newest + 7200 * 1000).collect()
        assert not stale[0].passed
        empty = state_mod.expect_state(
            spark, [str(tmp_path / "never")], rule,
            now_ms=newest).collect()
        assert not empty[0].passed and empty[0].observed == "no frames"

    def test_expect_state_rejects_bad_input(self, spark, tmp_path):
        """Unknown rules and empty inputs refuse up front."""
        import pytest as _pytest

        from caspr_spark import state as state_mod
        with _pytest.raises(ValueError, match="unknown rule"):
            state_mod.expect_state(spark, [str(tmp_path)],
                                   [{"rule": "nope"}])
        with _pytest.raises(ValueError, match="at least one rule"):
            state_mod.expect_state(spark, [str(tmp_path)], [])
        with _pytest.raises(ValueError, match="at least one state dir"):
            state_mod.expect_state(spark, [],
                                   [{"rule": "no_markerless"}])

    def test_fold_refuses_schema_drift(self, spark, tmp_path):
        """One state dir, one schema (r15): a batch frame whose
        columns or types drift from the committed state refuses
        BEFORE any bytes are written — in both layouts — while
        reordered columns (set-equal schema) still fold."""
        from caspr_spark import state as state_mod

        def merge(frames):
            u = frames[0]
            for f in frames[1:]:
                u = u.unionByName(f)
            return u

        sd = str(tmp_path / "s")
        base = spark.createDataFrame([(1, "a")], "id long, v string")
        state_mod.fold_commit(spark, sd, 1, "delta", 4, base, merge)
        with pytest.raises(ValueError, match="one state dir, one schema"):
            state_mod.fold_commit(
                spark, sd, 2, "delta", 4,
                spark.createDataFrame([(2, "b", 0.5)],
                                      "id long, v string, w double"),
                merge)
        with pytest.raises(ValueError, match="one state dir, one schema"):
            state_mod.fold_commit(
                spark, sd, 2, "delta", 4,
                spark.createDataFrame([(2, "b")], "id int, v string"),
                merge)
        # reordered columns are the same schema — folds fine
        state_mod.fold_commit(
            spark, sd, 2, "delta", 4,
            spark.createDataFrame([("b", 2)], "v string, id long")
                 .select("v", "id"), merge)
        assert [b for b, _ in state_mod.state_listing(spark, sd)] == [1, 2]
        # rebuild layout refuses too (the merge would fail mid-write)
        rd = str(tmp_path / "r")
        state_mod.fold_commit(spark, rd, 1, "rebuild", 4, base, merge)
        with pytest.raises(ValueError, match="one state dir, one schema"):
            state_mod.fold_commit(
                spark, rd, 2, "rebuild", 4,
                spark.createDataFrame([(2,)], "id long"), merge)


def _py_shingle_set(text, k=3):
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


class TestNearCorpusSinkFold:
    """The near-mode corpus sink finds batch-internal and history
    near-duplicates in ONE banded join over batch ∪ history band keys;
    it must keep exactly what the chained composition kept — the
    internal LSH pass (``minhash_lsh_dedup``), then the history join
    (``dedup_against_history``) on the survivors' signatures — and
    commit the same state frames."""

    H1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    P = "one two three four five six seven eight nine ten eleven twelve"
    A = "red orange yellow green blue indigo violet black white grey pink brown"
    B = A.rsplit(" ", 1)[0] + " cyan"            # A ≈ B (J = 9/11)
    C = "maroon " + B.split(" ", 1)[1]           # B ≈ C (J = 9/11), A ≉ C
    N = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    BATCHES = {
        1: [(1, H1), (2, P), (3, P)],            # internal exact dup, no history
        2: [(10, H1),                            # matches history only
            (11, H1.rsplit(" ", 1)[0] + " mike"),  # matches 10 (lower) AND 1
            (12, A), (13, B),
            (14, C),                             # matches only B, a loser
            (15, N), (16, N)],                   # internal exact dup
    }

    @classmethod
    def _expected(cls, batch_internal, threshold):
        """Greedy rule in plain python: a doc is dropped when it reaches
        ``threshold`` against a lower id of its own batch (loser or
        not) or against any doc committed by an earlier fold."""
        history, kept = [], {}
        for b, rows in sorted(cls.BATCHES.items()):
            sh = {i: _py_shingle_set(t) for i, t in rows}

            def sim(x, y):
                return len(x & y) / len(x | y)
            kept[b] = {i for i in sh
                       if not any(sim(sh[i], h) >= threshold
                                  for h in history)
                       and not (batch_internal and any(
                           j < i and sim(sh[i], sh[j]) >= threshold
                           for j in sh))}
            history += [sh[i] for i in kept[b]]
        return kept

    @staticmethod
    def _reference_fold(spark, state, out, batch, batch_id, committed,
                        batch_internal, hash_family, threshold):
        from caspr_spark.llm.dedup import (append_history_signatures_state,
                                           build_history_signatures,
                                           dedup_against_history,
                                           minhash_lsh_dedup,
                                           read_history_signatures_state)
        sigs = build_history_signatures(
            batch, "doc_id", "text", 64, 3,
            hash_family).withColumnRenamed("history_id", "doc_id")
        kept = batch
        if batch_internal:
            kept = minhash_lsh_dedup(kept, num_hashes=64, bands=16,
                                     threshold=threshold,
                                     hash_family=hash_family,
                                     signatures=sigs)[0]
        if committed:
            bs = (sigs.join(kept.select("doc_id"), "doc_id", "left_semi")
                  if batch_internal else sigs)
            kept = dedup_against_history(
                kept, None, mode="near", num_hashes=64, bands=16,
                threshold=threshold, hash_family=hash_family,
                history_signatures=read_history_signatures_state(spark,
                                                                 state),
                batch_signatures=bs)[0]
        path = f"{out}/k{batch_id}"
        kept.write.mode("overwrite").parquet(path)
        written = spark.read.parquet(path)
        append_history_signatures_state(
            spark, state, batch_id, written, num_hashes=64,
            shingle_size=3, hash_family=hash_family, signatures=sigs)
        return {r.doc_id for r in written.collect()}

    @staticmethod
    def _frames(spark, state):
        from caspr_spark.state import state_listing, state_path
        return {(b, k): sorted((r.history_id, tuple(r.shingles),
                                tuple(r.minhash), r.hash_family)
                               for r in spark.read.parquet(
                                   state_path(state, b, k)).collect())
                for b, k in state_listing(spark, state)}

    @pytest.mark.parametrize("threshold", [0.8, 1.0])
    @pytest.mark.parametrize("batch_internal", [True, False])
    @pytest.mark.parametrize("hash_family", ["fast", "portable"])
    def test_fold_equals_chained_composition(self, spark, tmp_path,
                                             hash_family, batch_internal,
                                             threshold):
        from caspr_spark.streaming import dedup_corpus_sink
        kw = dict(hash_family=hash_family, threshold=threshold)
        sink = dedup_corpus_sink(str(tmp_path / "s"), str(tmp_path / "o"),
                                 mode="near", batch_internal=batch_internal,
                                 **kw)
        got, ref = {}, {}
        for b, rows in sorted(self.BATCHES.items()):
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            sink(batch, b)
            got[b] = {r.doc_id for r in
                      spark.read.parquet(str(tmp_path / "o" / f"k{b}"))
                      .collect()}
            ref[b] = self._reference_fold(
                spark, str(tmp_path / "rs"), str(tmp_path / "ro"), batch, b,
                b > 1, batch_internal, **kw)
        assert got == ref == self._expected(batch_internal, threshold)
        assert (self._frames(spark, str(tmp_path / "s"))
                == self._frames(spark, str(tmp_path / "rs")))

    def test_warm_history_fold_job_budget(self, spark, tmp_path):
        """A warm near fold against history runs one candidate pass:
        the chained internal-then-history composition planned the
        internal LSH result twice and ran 43-45 jobs for this fold; the
        single banded join runs 22-24."""
        from caspr_spark.streaming import dedup_corpus_sink
        sink = dedup_corpus_sink(str(tmp_path / "s"), str(tmp_path / "o"),
                                 mode="near")
        batches = [
            spark.createDataFrame(
                [(b * 100 + i, f"{self.H1} {b} {i % 3}") for i in range(8)]
                + [(b * 100 + 50, f"{self.N} {b}")],
                "doc_id long, text string")
            for b in range(3)]
        sink(batches[0], 0)
        sink(batches[1], 1)          # first history fold
        sc = spark.sparkContext
        sc.setJobGroup("near-fold-budget", "warm near fold")
        try:
            sink(batches[2], 2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup("near-fold-budget")
        assert 0 < len(jobs) <= 32, len(jobs)
