"""Tests for the Phase-A operator additions (F5, A8-A11, A9 labels, P7,
multimodal mapInPandas plumbing)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from caspr_spark.operators import (
    remove_outliers, column_cardinalities, distinct_values_sorted,
    build_multi_hot_labels, join_labels, pack_feature_arrays,
)
from caspr_spark.llm.multimodal import (
    attach_binary_payload, extract_features, sample_frames,
)


class TestRemoveOutliers:
    def test_cuts_tail(self, spark):
        rows = [(i, float(i % 10)) for i in range(100)] + [(100, 1e6)]
        df = spark.createDataFrame(rows, "id long, x double")
        out = remove_outliers(df, ["x"], k=3.0)
        ids = {r["id"] for r in out.collect()}
        assert 100 not in ids and len(ids) == 100

    def test_zero_variance_kept(self, spark):
        df = spark.createDataFrame([(i, 5.0) for i in range(10)], "id long, x double")
        assert remove_outliers(df, ["x"], k=3.0).count() == 10

    def test_multi_column_conjunction(self, spark):
        rows = [(i, float(i % 5), 1.0) for i in range(50)] + [(50, 2.0, 1e9)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        out = remove_outliers(df, ["x", "y"], k=3.0)
        assert 50 not in {r["id"] for r in out.collect()}


class TestCardinalityProbes:
    def test_column_cardinalities(self, micro_events):
        cards = column_cardinalities(micro_events, ["user_id", "cat"])
        assert cards["user_id"] == 5
        assert cards["cat"] == 3  # a, b, c (null not counted)

    def test_distinct_values_sorted(self, micro_events):
        rows = distinct_values_sorted(micro_events, "cat").collect()
        assert [(r["pos"], r["cat"]) for r in rows] == [(0, "a"), (1, "b"), (2, "c")]


class TestMultiHotLabels:
    def test_window_and_clip(self, micro_events):
        # label window (01-05 12:00, 01-09 12:00]: u2 -> 11(b),12(a);
        # u3 -> 25(b),26(c) (24 is 01-05 10:00, before the start);
        # u4 -> 30(a),31(b),32(a); u1/u5 have no in-window events
        labels = build_multi_hot_labels(
            micro_events, ["user_id"], "cat", "ts",
            label_start=datetime(2024, 1, 5, 12),
            label_end=datetime(2024, 1, 9, 12))
        got = {r["user_id"]: (r["label_a"], r["label_b"], r["label_c"])
               for r in labels.collect()}
        assert got[2] == (1, 1, 0)
        assert got[3] == (0, 1, 1)
        assert got[4] == (1, 1, 0)
        assert 1 not in got and 5 not in got

    def test_explicit_activities_pin_schema(self, micro_events):
        labels = build_multi_hot_labels(
            micro_events.filter("cat = 'a'"), ["user_id"], "cat",
            activities=["a", "b", "z"])
        assert set(labels.columns) == {"user_id", "label_a", "label_b", "label_z"}
        row = labels.filter("user_id = 2").collect()[0]
        assert (row["label_a"], row["label_b"], row["label_z"]) == (1, 0, 0)

    def test_join_labels(self, micro_events):
        labels = build_multi_hot_labels(micro_events, ["user_id"], "cat",
                                        activities=["a"])
        feats = micro_events.select("user_id").distinct()
        joined = join_labels(feats, labels, ["user_id"])
        assert joined.count() == labels.count()


class TestPackFeatureArrays:
    def test_pack_shapes(self, micro_events):
        out = pack_feature_arrays(micro_events.na.drop(subset=["val", "cat"]),
                                  cont_cols=["val"], cat_cols=["user_id"])
        row = out.first()
        assert len(row["cont_features"]) == 1
        assert len(row["cat_features"]) == 1
        assert "val" not in out.columns and "user_id" not in out.columns

    def test_keep_originals(self, micro_events):
        out = pack_feature_arrays(micro_events, cont_cols=["val"], drop=False)
        assert "val" in out.columns and "cont_features" in out.columns


class TestMultimodal:
    def test_payload_metadata(self, spark):
        df = spark.createDataFrame([(1, "abcd"), (2, "xy")], "doc_id long, text string")
        out = attach_binary_payload(df)
        got = {r["doc_id"]: r for r in out.collect()}
        assert got[1]["payload_bytes"] == 4
        assert bytes(got[1]["payload"]) == b"abcd"
        assert got[2]["media_type"] == "application/octet-stream"

    def test_extract_features_kernel(self, spark):
        df = attach_binary_payload(
            spark.createDataFrame([(1, "ab")], "doc_id long, text string"))
        row = extract_features(df).collect()[0]
        assert row["n_bytes"] == 2
        assert row["head_mean"] == pytest.approx((97 + 98) / 2)
        assert row["head_max"] == 98

    def test_sample_frames_stride(self, spark):
        text = "a" * 40  # strides 0,16,32 in range -> 3 frames
        df = attach_binary_payload(
            spark.createDataFrame([(7, text)], "doc_id long, text string"))
        rows = sample_frames(df, stride=16, max_frames=8).collect()
        assert [(r["frame_idx"], r["frame_byte"]) for r in rows] == \
            [(0, 97), (1, 97), (2, 97)]

    def test_decode_gate(self):
        from caspr_spark.llm.multimodal import decode_image, HAVE_PIL
        if not HAVE_PIL:
            with pytest.raises(NotImplementedError):
                decode_image(b"\x89PNG")


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        from caspr_spark.operators import sessionize
        from pyspark.sql import functions as F
        rows = [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 10:10:00"),
                (3, 1, "2024-01-01 12:00:00"),   # 110-min gap -> new session
                (4, 1, "2024-01-01 12:20:00"),
                (5, 2, "2024-01-01 10:00:00")]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string") \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        out = sessionize(df, "user_id", "ts", gap_minutes=30,
                         tiebreak=["event_id"])
        got = {r["event_id"]: r["session_id"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}

    def test_exact_gap_not_split(self, spark):
        from caspr_spark.operators import sessionize
        from pyspark.sql import functions as F
        rows = [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 10:30:00")]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string") \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        out = sessionize(df, "user_id", "ts", gap_minutes=30)
        assert {r["session_id"] for r in out.collect()} == {1}


class TestCuration:
    def test_filters_and_dedup(self, spark):
        from caspr_spark.llm.curate import curate_corpus, curation_report
        rows = [
            (1, "the cat and the dog sat with the mat in that sunny place "
                "of warm light and it is nice to see them play all day", "a"),
            (2, "the cat and the dog sat with the mat in that sunny place "
                "of warm light and it is nice to see them play all day", "a"),
            (3, "short text", "b"),                                # too few tokens
            (4, "el rapido zorro de la casa que con los por una vez mas "
                "salta sobre el perro perezoso cada manana sin falta hoy", "b"),
            (5, "!!! ??? ... ,,, ;;; ::: !!! ??? ... ,,, ;;; ::: !!! ??? "
                "... ,,, ;;; ::: !!! ??? ... ,,, ;;; :::", "c"),   # punct soup
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = curate_corpus(df, min_tokens=15, languages=("en",))
        kept = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert kept == {1}   # 2 is an exact dup, 3 too short, 4 es, 5 punct
        rep = {r["source"]: (r["docs_in"], r["docs_kept"])
               for r in curation_report(df, out).collect()}
        assert rep["a"] == (2, 1)
        assert rep["b"] == (2, 0)
        assert rep["c"] == (1, 0)


class TestRollingAggregate:
    def test_trailing_window_values(self, spark):
        from caspr_spark.operators.rank import rolling_aggregate
        from pyspark.sql import functions as F
        rows = [(1, 1, "2024-01-01 00:00:00", 1.0),
                (2, 1, "2024-01-05 00:00:00", 2.0),
                (3, 1, "2024-01-09 00:00:00", 4.0),   # 01-01 out of 7d range
                (4, 2, "2024-01-09 00:00:00", 8.0)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string, value double") \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        out = rolling_aggregate(df, "user_id", "ts", "value", days=7)
        got = {r["event_id"]: (r["r7d_sum"], r["r7d_count"])
               for r in out.collect()}
        assert got[1] == (1.0, 1)
        assert got[2] == (3.0, 2)     # 01-01 within [12-29, 01-05]
        assert got[3] == (6.0, 2)     # 01-01 dropped, 01-05 kept (inclusive)
        assert got[4] == (8.0, 1)     # other user untouched


class TestReviewRegressions:
    """Regressions for the round-1 code-review findings."""

    def test_salted_join_rejects_outer(self, spark):
        from caspr_spark.operators import salted_join
        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError):
            salted_join(df, df, on=["k"], how="full")

    def test_category_substitution_never_unk_or_oov(self, spark):
        import pandas as pd
        import numpy as np
        from caspr_spark.noise import random_category_substitution
        df = spark.createDataFrame(pd.DataFrame({"c": np.full(2000, 1)}))
        out = random_category_substitution(df, ["c"], {"c": 4}, p=1.0)
        vals = {r["c"] for r in out.select("c").distinct().collect()}
        assert vals <= {1, 2, 3}  # fitted codes only: never 0 (UNK) or 4

    def test_simhash_pairs_pigeonhole_precondition(self, spark):
        from caspr_spark.llm.dedup import simhash_near_pairs
        df = spark.createDataFrame([(1, 5)], "doc_id long, simhash long")
        with pytest.raises(ValueError):
            simhash_near_pairs(df, max_hamming=4, chunks=4)

    def test_absolute_date_fill_preserves_nonnull_and_dtype(self, spark):
        from pyspark.sql import functions as F
        from caspr_spark.operators import fill_date_nans
        df = spark.createDataFrame(
            [(1700000000.75, "2024-01-15"), (None, "2024-01-15")],
            "ts double, pred_s string") \
            .withColumn("prediction_date", F.to_timestamp("pred_s")) \
            .drop("pred_s")
        out = fill_date_nans(df, ["ts"], history_days=7, interval=False)
        assert dict(out.dtypes)["ts"] == "double"
        vals = sorted(r["ts"] for r in out.collect())
        assert 1700000000.75 in vals  # fractional value untouched

    def test_tensorize_includes_non_seq_date_cols(self):
        import pandas as pd
        from caspr_spark.roles import ColumnRoles
        from caspr_spark.data import transform_and_load
        roles = ColumnRoles(tgt_id=["uid"], activity_date="ts",
                            cont_cols=["x"], date_cols=["ts", "signup"],
                            seq_cols=["x"], non_seq_cols=["signup"])
        pdf = pd.DataFrame({"uid": [1], "1_x": [0.5], "2_x": [0.6],
                            "signup": [0.9]})
        b = transform_and_load(pdf, roles, 2)
        assert b.non_seq_cont.shape == (1, 1)
        assert b.non_seq_cont[0, 0] == pd.Series([0.9], dtype="float32")[0]


class TestDeterministicSampling:
    """Samplers must be pure functions of (ids, seed) — identical output
    under any partitioning, unlike engine-seeded sample()."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [(i, ["en", "de", "es"][i % 3]) for i in range(600)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_exact_quota_and_partition_independence(self, docs):
        from caspr_spark.operators.sampling import stratified_sample_exact
        fr = {"en": 0.5, "de": 0.25, "es": 0.0}
        out = stratified_sample_exact(docs, "lang", fr, ["doc_id"], seed=1)
        counts = {r["lang"]: r["n"] for r in
                  out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts == {"en": 100, "de": 50}  # ceil(f*200), es dropped
        a = sorted(r.doc_id for r in out.collect())
        b = sorted(r.doc_id for r in stratified_sample_exact(
            docs.repartition(13), "lang", fr, ["doc_id"], seed=1).collect())
        assert a == b

    def test_hash_sample_fraction_and_determinism(self, docs):
        from caspr_spark.operators.sampling import stratified_sample_hash
        out = stratified_sample_hash(docs, "lang", 0.5, ["doc_id"], seed=3)
        n = out.count()
        assert 240 < n < 360  # binomial around 300
        again = stratified_sample_hash(docs.repartition(7), "lang", 0.5,
                                       ["doc_id"], seed=3)
        assert sorted(r.doc_id for r in out.collect()) == \
               sorted(r.doc_id for r in again.collect())
        # different seed -> different sample
        other = stratified_sample_hash(docs, "lang", 0.5, ["doc_id"], seed=4)
        assert sorted(r.doc_id for r in other.collect()) != \
               sorted(r.doc_id for r in out.collect())

    def test_hash_dict_drops_missing_strata(self, docs):
        from caspr_spark.operators.sampling import stratified_sample_hash
        out = stratified_sample_hash(docs, "lang", {"en": 1.0}, ["doc_id"])
        assert {r["lang"] for r in out.select("lang").distinct().collect()} \
            == {"en"}
        assert out.count() == 200  # fraction 1.0 keeps every en row

    def test_cap_and_subset_stability(self, docs):
        from caspr_spark.operators.sampling import downsample_to_cap
        capped = downsample_to_cap(docs, "lang", 30, ["doc_id"], seed=5)
        counts = {r["lang"]: r["n"] for r in
                  capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts == {"en": 30, "de": 30, "es": 30}
        # cap larger than stratum keeps everything
        assert downsample_to_cap(docs, "lang", 10**6,
                                 ["doc_id"]).count() == 600

    def test_fraction_validation(self, docs):
        from caspr_spark.operators.sampling import (stratified_sample_exact,
                                                    stratified_sample_hash)
        with pytest.raises(ValueError, match="fraction"):
            stratified_sample_hash(docs, "lang", 1.5, ["doc_id"])
        with pytest.raises(ValueError, match="fraction"):
            stratified_sample_exact(docs, "lang", {"en": -0.1}, ["doc_id"])


class TestConfigureForScale:
    def test_sizing_arithmetic(self, spark):
        from caspr_spark.session import configure_for_scale
        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            par = spark.sparkContext.defaultParallelism
            # 100 TB at 128 MiB -> ~819k, clamped to the 200k ceiling
            got = configure_for_scale(spark, 100 * 1024 ** 4)
            assert got["shuffle_partitions"] == 200_000
            # tiny input -> floor of 2x parallelism
            got = configure_for_scale(spark, 10 * 1024 ** 2)
            assert got["shuffle_partitions"] == 2 * par
            # mid: 1 TB -> 8192 partitions of 128 MiB
            got = configure_for_scale(spark, 1024 ** 4)
            assert got["shuffle_partitions"] == max(8192, 2 * par)
            assert spark.conf.get("spark.sql.shuffle.partitions") == \
                str(got["shuffle_partitions"])
            import pytest as _pytest
            with _pytest.raises(ValueError, match="input_bytes"):
                configure_for_scale(spark, -1)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


class TestHistogram:
    def test_bins_edges_and_clamp(self, spark):
        from caspr_spark.operators.profile import histogram
        df = spark.createDataFrame(
            [(v,) for v in [-5.0, 0.0, 1.0, 4.9, 5.0, 9.9, 25.0, None]],
            "v double")
        out = histogram(df, "v", bins=2, lo=0.0, hi=10.0).collect()
        assert [(r.bin, r.lo_edge, r.hi_edge) for r in out] == \
            [(0, 0.0, 5.0), (1, 5.0, 10.0)]
        # -5 clamps into bin 0, 25 into bin 1; null dropped
        assert [r.cnt for r in out] == [4, 3]

    def test_no_clamp_drops_out_of_range(self, spark):
        from caspr_spark.operators.profile import histogram
        df = spark.createDataFrame(
            [(v,) for v in [-5.0, 2.0, 10.0, 25.0]], "v double")
        out = histogram(df, "v", bins=2, lo=0.0, hi=10.0,
                        clamp=False).collect()
        # hi boundary value lands in the LAST bin (closed upper edge)
        assert [r.cnt for r in out] == [1, 1]

    def test_empty_bins_emitted_and_auto_range(self, spark):
        from caspr_spark.operators.profile import histogram
        df = spark.createDataFrame([(0.0,), (10.0,)], "v double")
        out = histogram(df, "v", bins=5).collect()
        assert len(out) == 5
        assert sum(r.cnt for r in out) == 2
        assert out[0].cnt == 1 and out[-1].cnt == 1

    def test_validation(self, spark):
        from caspr_spark.operators.profile import histogram
        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError, match="bins"):
            histogram(df, "v", bins=0)
        with pytest.raises(ValueError, match="hi > lo"):
            histogram(df, "v")   # constant column -> no range


class TestTopkPerGroup:
    def test_groups_and_determinism(self, spark):
        from caspr_spark.operators.rank import topk_per_group
        df = spark.createDataFrame(
            [(g, i, i * 10) for g in (1, 2) for i in range(5)],
            "g long, i long, v long")
        out = topk_per_group(df, ["g"], [F.col("v").desc(),
                                         F.col("i").desc()], k=2)
        got = {(r.g, r.i, r.rk) for r in out.collect()}
        assert got == {(1, 4, 1), (1, 3, 2), (2, 4, 1), (2, 3, 2)}

    def test_plan_uses_window_group_limit(self, spark):
        from caspr_spark.operators.rank import topk_per_group
        df = spark.range(1000).withColumn("g", F.col("id") % 7)
        out = topk_per_group(df, ["g"], [F.col("id").desc()], k=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_validation(self, spark):
        from caspr_spark.operators.rank import topk_per_group
        df = spark.createDataFrame([(1, 2)], "g long, v long")
        with pytest.raises(ValueError, match="k must"):
            topk_per_group(df, ["g"], ["v"], k=0)
        with pytest.raises(ValueError, match="key"):
            topk_per_group(df, [], ["v"], k=1)


class TestEnsureParallelism:
    def test_parquet_dirs_by_partition_count(self, spark, tmp_path):
        """Two parquet dirs with the same schema split into different
        partition counts: the narrow one is widened, the wide one is
        returned as is, and a repeat read decides the same."""
        from caspr_spark.sources import ensure_parallelism
        one, six = str(tmp_path / "one"), str(tmp_path / "six")
        spark.range(60).coalesce(1).write.parquet(one)
        spark.range(60).repartition(6).write.parquet(six)
        assert spark.read.parquet(one).rdd.getNumPartitions() == 1
        n = spark.read.parquet(six).rdd.getNumPartitions()
        assert n > 1
        a = spark.read.parquet(one)
        assert ensure_parallelism(a, n) is not a        # 1 < n: widened
        b = spark.read.parquet(six)
        assert ensure_parallelism(b, n) is b            # n >= n: as is
        again = spark.read.parquet(six)
        assert ensure_parallelism(again, n) is again

    def test_local_frames_by_partition_count(self, spark):
        """Local relations of 1 and many rows have 1 and
        ``defaultParallelism`` partitions: only the first is widened."""
        import pyarrow as pa

        from caspr_spark.sources import ensure_parallelism
        dp = spark.sparkContext.defaultParallelism
        assert dp > 1
        small = spark.createDataFrame(pa.table({"a": [1]}), "a long")
        big = spark.createDataFrame(pa.table({"a": list(range(2 * dp))}),
                                    "a long")
        assert ensure_parallelism(small) is not small
        assert ensure_parallelism(big) is big

    def test_cpu_light_size_cap(self, spark, tmp_path, monkeypatch):
        """``cpu_light`` caps the target by the optimizer's size estimate
        (~2 MB per task, floor 4): a tiny one-file frame gets 4
        partitions, not one per core (16 cores here, whatever the host
        has)."""
        from pyspark import SparkContext

        from caspr_spark.sources import ensure_parallelism
        dp = 16
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: dp))
        p = str(tmp_path / "s.parquet")
        spark.range(100).coalesce(1).write.parquet(p)
        light = ensure_parallelism(spark.read.parquet(p), cpu_light=True)
        assert light.rdd.getNumPartitions() == 4
        heavy = ensure_parallelism(spark.read.parquet(p))
        assert heavy.rdd.getNumPartitions() == dp


class TestEnsureParallelismCache:
    def test_schema_memo_invalidates_on_rewrite(self, spark, tmp_path):
        """Round-16 schema memo: a repeat read of an unchanged path is
        schema-pinned (cache hit) and identical; overwriting the path
        (new file mtimes) misses and re-infers the NEW schema."""
        from caspr_spark.sources import _SCHEMA_CACHE, read_parquet_table
        import time as _time
        p = str(tmp_path / "m.parquet")
        spark.range(10).coalesce(1).write.parquet(p)
        _SCHEMA_CACHE.clear()
        a = read_parquet_table(spark, p)
        assert len(_SCHEMA_CACHE) == 1
        b = read_parquet_table(spark, p)
        assert len(_SCHEMA_CACHE) == 1          # hit
        assert a.schema == b.schema and b.count() == 10
        _time.sleep(1.1)                        # mtime resolution
        spark.range(10).selectExpr("id", "id * 3 as v") \
             .coalesce(1).write.mode("overwrite").parquet(p)
        c = read_parquet_table(spark, p)
        assert c.columns == ["id", "v"]         # re-inferred, not stale
