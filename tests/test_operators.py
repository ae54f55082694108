"""Unit tests for the featurization operators (SURVEY §5 plan)."""

import pytest
from pyspark.sql import functions as F

from caspr_spark.operators import (
    get_rank, timestamps_to_intervals, filter_history_window, filter_last_n,
    fit_encoding, fit_summary, normalize_columns, denormalize_columns,
    featurize_sequential, collect_sequences, sequences_to_wide,
    petastorm_rename_list, get_sequence_length,
)
from caspr_spark.operators.encode import CategoricalEncoding
from caspr_spark.roles import generate_col_lists


class TestRank:
    def test_invariant(self, micro_events):
        """rank_asc + rank_desc == seq_len + 1 (reference preprocess.py:538)."""
        df = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        bad = df.filter(F.col("rank_asc") + F.col("rank_desc")
                        != F.col("seq_len") + 1).count()
        assert bad == 0

    def test_latest_event_rank_desc_1(self, micro_events):
        df = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        top = {r["user_id"]: r["event_id"]
               for r in df.filter("rank_desc = 1").collect()}
        assert top[2] == 12 and top[3] == 26
        # duplicate-ts user: larger event_id wins (deterministic tiebreak)
        assert top[4] == 32

    def test_duplicate_ts_deterministic(self, micro_events):
        df = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        u4 = {r["event_id"]: r["rank_desc"]
              for r in df.filter("user_id = 4").collect()}
        assert u4 == {32: 1, 31: 2, 30: 3}

    def test_intervals(self, micro_events):
        df = timestamps_to_intervals(micro_events, "user_id", "ts",
                                     tiebreak=["event_id"])
        u2 = {r["event_id"]: r["interval"]
              for r in df.filter("user_id = 2").collect()}
        assert u2 == {10: None, 11: 1, 12: 1}


class TestFilters:
    def test_history_window(self, micro_events):
        # prediction 2024-01-15; 7-day window keeps ts in (01-08, 01-15)
        out = filter_history_window(micro_events, "ts", "prediction_date", 7)
        ids = {r["event_id"] for r in out.select("event_id").collect()}
        assert ids == {1, 30, 31, 32, 40, 41}

    def test_history_window_end_is_exact(self, spark):
        """The end bound is ``ts < prediction_date`` to the microsecond: an
        event 0.4 s before a fractional-second prediction date is in the
        window, one at the prediction date is not."""
        df = spark.createDataFrame(
            [(1, "2024-01-15 10:00:00.300000"),
             (2, "2024-01-15 10:00:00.700000")],
            "event_id long, ts_s string"
        ).select("event_id", F.to_timestamp("ts_s").alias("ts"),
                 F.to_timestamp(F.lit("2024-01-15 10:00:00.700000"))
                  .alias("prediction_date"))
        out = filter_history_window(df, "ts", "prediction_date", 7)
        assert [r["event_id"] for r in out.collect()] == [1]

    def test_last_n(self, micro_events):
        df = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        out = filter_last_n(df, 2)
        assert out.filter("user_id = 3").count() == 2
        assert out.filter("user_id = 1").count() == 1

    def test_last_n_requires_rank(self, micro_events):
        with pytest.raises(ValueError):
            filter_last_n(micro_events, 2)


class TestEncoding:
    def test_codes_frequency_then_value(self, micro_events):
        enc = fit_encoding(micro_events, ["cat"])
        # counts: a=6, b=5, c=4  -> codes 1,2,3
        assert enc.mappings["cat"] == [("a", 1), ("b", 2), ("c", 3)]

    def test_cap_and_unknown(self, micro_events):
        enc = fit_encoding(micro_events, ["cat"], max_cardinality=2)
        assert [v for v, _ in enc.mappings["cat"]] == ["a", "b"]
        out = enc.apply(micro_events)
        codes = {r["event_id"]: r["cat"] for r in out.collect()}
        assert codes[20] == 0          # 'c' pruned -> UNK
        assert codes[40] == 0          # null -> UNK
        assert codes[10] == 1 and codes[11] == 2
        assert enc.stats["pruned_product"] == pytest.approx(1 - 2 / 3)
        with pytest.raises(ValueError, match="max_cardinality"):
            fit_encoding(micro_events, ["cat"], max_cardinality=0)

    def test_decode_roundtrip(self, micro_events):
        enc = fit_encoding(micro_events, ["cat"])
        decoded = enc.decode(enc.apply(micro_events))
        orig = {r["event_id"]: r["cat"]
                for r in micro_events.filter("cat is not null").collect()}
        got = {r["event_id"]: r["cat"] for r in decoded.collect()}
        for eid, v in orig.items():
            assert got[eid] == v
        assert got[40] == "UNK"        # null encoded to 0 -> decodes to UNK

    @pytest.mark.parametrize("token", ["it's", "back\\slash\\'", "ü\n?"])
    def test_decode_unknown_token_verbatim(self, micro_events, token):
        """The unknown token reaches the projection as a SQL literal;
        quotes, backslashes and newlines come back unchanged."""
        enc = fit_encoding(micro_events, ["cat"])
        decoded = enc.decode(enc.apply(micro_events), unknown_token=token)
        got = {r["event_id"]: r["cat"] for r in decoded.collect()}
        assert got[40] == token

    @pytest.mark.parametrize("empty", [False, True])
    def test_fit_with_summary_equals_separate_fits(self, micro_events, empty):
        """The one-aggregate fit reads the dictionaries, the prune stats
        and the summary that the separate fits give; an empty input (no
        ``()`` row) gives empty dictionaries and an all-null summary."""
        from caspr_spark.operators.encode import fit_encoding_with_summary
        df = micro_events.filter("user_id < 0") if empty else micro_events
        for cap in (2, 10):
            enc, summary = fit_encoding_with_summary(
                df, ["cat", "user_id"], ["val", "event_id"], cap)
            want = fit_encoding(df, ["cat", "user_id"], cap)
            assert enc.mappings == want.mappings
            assert enc.stats == want.stats
            assert summary == fit_summary(df, ["val", "event_id"])

    def test_json_roundtrip(self, micro_events):
        enc = fit_encoding(micro_events, ["cat"])
        enc2 = CategoricalEncoding.from_json(enc.to_json())
        assert enc2.mappings == enc.mappings
        assert enc2.vocab_sizes() == {"cat": 4}

    def test_collect_fit_cardinality_guard(self, spark, micro_events):
        from caspr_spark.operators.encode import fit_encoding_collect
        # under the cap: normal sorted-distinct dictionary
        enc = fit_encoding_collect(micro_events, ["cat"], max_cardinality=10)
        assert [v for v, _ in enc.mappings["cat"]] == ["a", "b", "c"]
        # over the cap: raises instead of collecting an unbounded set
        wide = spark.range(0, 5000).selectExpr("cast(id as string) AS cat")
        with pytest.raises(ValueError, match="max_cardinality"):
            fit_encoding_collect(wide, ["cat"], max_cardinality=100)


class TestScaling:
    def test_minmax_bounds(self, events):
        df, summary = normalize_columns(events, ["value"], scaling="min_max")
        row = df.agg(F.min("value"), F.max("value")).collect()[0]
        assert row[0] == 0.0 and row[1] == 1.0

    def test_roundtrip(self, events):
        for scaling in ("min_max", "standard"):
            df, summary = normalize_columns(events, ["value"], scaling=scaling)
            back = denormalize_columns(df, ["value"], summary, scaling=scaling)
            diff = back.select(
                F.max(F.abs(F.col("value") -
                            events.select("value").toPandas()["value"].max()))
            )
            joined = back.select("event_id", "value").join(
                events.select("event_id", F.col("value").alias("orig")), "event_id")
            err = joined.agg(F.max(F.abs(F.col("value") - F.col("orig")))).collect()[0][0]
            assert err < 1e-9

    def test_zero_variance_skipped(self, spark):
        df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id int, x double")
        out, _ = normalize_columns(df, ["x"], scaling="min_max")
        assert {r["x"] for r in out.collect()} == {5.0}

    def test_bad_scaling_raises(self, events):
        with pytest.raises(ValueError):
            normalize_columns(events, ["value"], scaling="bogus")

    def test_fit_summary_matches_describe(self, events):
        s = fit_summary(events, ["value"])["value"]
        d = {r["summary"]: float(r["value"])
             for r in events.describe("value").collect()}
        assert s["min"] == d["min"] and s["max"] == d["max"]
        assert s["mean"] == pytest.approx(d["mean"], rel=1e-9)
        assert s["stddev"] == pytest.approx(d["stddev"], rel=1e-9)


class TestPivot:
    """Padding truth table from the reference comment block
    (caspr/utils/spark/preprocess.py:415-424)."""

    def _pivot(self, df, n, left_pad):
        ranked = get_rank(df, ["user_id"], "ts", tiebreak=["event_id"])
        return featurize_sequential(ranked, ["user_id"], n, ["val"], left_pad)

    def test_right_pad_short_user(self, micro_events):
        wide = self._pivot(micro_events, 3, left_pad=False)
        u1 = wide.filter("user_id = 1").collect()[0]
        assert u1["1_val"] == 1.0 and u1["2_val"] is None and u1["3_val"] is None

    def test_left_pad_short_user(self, micro_events):
        wide = self._pivot(micro_events, 3, left_pad=True)
        u1 = wide.filter("user_id = 1").collect()[0]
        assert u1["1_val"] is None and u1["2_val"] is None and u1["3_val"] == 1.0

    def test_exact_length_user(self, micro_events):
        for lp in (False, True):
            wide = self._pivot(micro_events, 3, left_pad=lp)
            u2 = wide.filter("user_id = 2").collect()[0]
            assert (u2["1_val"], u2["2_val"], u2["3_val"]) == (2.0, 3.0, 4.0)

    def test_truncation_keeps_latest(self, micro_events):
        for lp in (False, True):
            wide = self._pivot(micro_events, 3, left_pad=lp)
            u3 = wide.filter("user_id = 3").collect()[0]
            assert (u3["1_val"], u3["2_val"], u3["3_val"]) == (9.0, 10.0, 11.0)

    def test_array_layout_matches_wide(self, micro_events):
        ranked = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        for lp in (False, True):
            wide = self._pivot(micro_events, 3, left_pad=lp) \
                .orderBy("user_id").toPandas()
            arr = sequences_to_wide(
                collect_sequences(ranked, ["user_id"], 3, ["val"], lp),
                ["val"], 3).orderBy("user_id").toPandas()
            assert wide[sorted(wide.columns)].equals(arr[sorted(arr.columns)])

    def test_collect_sequences_bare_rank_desc(self, micro_events):
        """Round-15: collect_sequences needs only rank_desc (the padding
        truth table resolves post-aggregation), so a bare row_number
        ranking — no seq_len/rank_asc count window — must produce the
        same arrays as ranking with full get_rank."""
        from pyspark.sql import Window

        ranked = get_rank(micro_events, ["user_id"], "ts",
                          tiebreak=["event_id"])
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                                  F.col("event_id").desc())
        light = micro_events.withColumn("rank_desc", F.row_number().over(w))
        for lp in (False, True):
            full = collect_sequences(ranked, ["user_id"], 3, ["val"], lp) \
                .orderBy("user_id").toPandas()
            bare = collect_sequences(light, ["user_id"], 3, ["val"], lp) \
                .orderBy("user_id").toPandas()
            import pandas as pd
            for fx, bx in zip(full["val_seq"], bare["val_seq"]):
                for fv, bv in zip(list(fx), list(bx)):
                    assert (pd.isna(fv) and pd.isna(bv)) or fv == bv

    def test_multi_seq_col_names(self, micro_events):
        ranked = get_rank(micro_events, ["user_id"], "ts", tiebreak=["event_id"])
        wide = featurize_sequential(ranked, ["user_id"], 2, ["val", "cat"])
        assert {"1_val", "2_val", "1_cat", "2_cat"}.issubset(wide.columns)


class TestNames:
    def test_generate_col_lists_right_pad(self):
        cat, cont, seq, non_seq, date = generate_col_lists(
            3, ["c"], ["v"], ["d"], ["c", "v", "d"], ["p"])
        assert cat == ["1_c", "2_c", "3_c"]
        assert cont == ["1_v", "2_v", "3_v"]
        assert non_seq == ["p"]
        assert date == ["1_d", "2_d", "3_d"]

    def test_generate_col_lists_left_pad_reversed(self):
        cat, *_ = generate_col_lists(3, ["c"], [], [], ["c"], [], left_pad=True)
        assert cat == ["3_c", "2_c", "1_c"]

    def test_petastorm_rename(self):
        assert petastorm_rename_list(["1_value", "15_event_type", "user_id"]) == \
            ["value1", "event_type15", "user_id"]


class TestProbes:
    def test_sequence_length_percentile(self, events):
        n = get_sequence_length(events, ["user_id"], 0.5)
        counts = sorted(r[0] for r in
                        events.groupBy("user_id").count().select("count").collect())
        assert counts[0] <= n <= counts[-1]


class TestGroupNormalize:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "a", 0.0), (2, "a", 5.0), (3, "a", 10.0),
             (4, "b", 100.0), (5, "b", 300.0),
             (6, "c", 7.0), (7, "c", 7.0)],        # constant group
            "id long, g string, x double")

    def test_minmax_within_group(self, spark):
        from caspr_spark.operators.scale import normalize_by_group
        out, _ = normalize_by_group(self._df(spark), ["x"], ["g"])
        got = {r.id: r.x for r in out.collect()}
        assert got[1] == 0.0 and got[2] == 0.5 and got[3] == 1.0
        assert got[4] == 0.0 and got[5] == 1.0
        # constant group passes through untouched
        assert got[6] == 7.0 and got[7] == 7.0

    def test_zscore_within_group(self, spark):
        from caspr_spark.operators.scale import normalize_by_group
        out, _ = normalize_by_group(self._df(spark), ["x"], ["g"],
                                    scaling="standard")
        got = {r.id: r.x for r in out.collect()}
        assert abs(got[2]) < 1e-12            # group mean -> 0
        assert got[1] == -got[3]              # symmetric
        assert got[6] == 7.0                  # zero variance untouched

    def test_fit_apply_split_and_unseen_group(self, spark):
        from caspr_spark.operators.scale import (fit_group_summary,
                                                 normalize_by_group)
        train = self._df(spark)
        stats = fit_group_summary(train, ["x"], ["g"])
        test = spark.createDataFrame(
            [(10, "a", 5.0), (11, "zzz", 42.0)], "id long, g string, x double")
        out, _ = normalize_by_group(test, ["x"], ["g"], stats=stats)
        got = {r.id: r.x for r in out.collect()}
        assert got[10] == 0.5            # train-group scale applied
        assert got[11] == 42.0           # unseen group passes through

    def test_validation(self, spark):
        from caspr_spark.operators.scale import normalize_by_group
        with pytest.raises(ValueError):
            normalize_by_group(self._df(spark), ["x"], ["g"], scaling="nope")
        with pytest.raises(ValueError, match="non-empty"):
            normalize_by_group(self._df(spark), [], ["g"])
