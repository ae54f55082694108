"""Tests: IVF ANN, sliding-window trainset builder, ablation explainability."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from caspr_spark.llm.similarity import cosine_topk, cosine_topk_ivf, ivf_index
from caspr_spark.explain import linear_ablation_importance, ablation_importance


class TestIVF:
    def test_index_partitions_corpus(self, embeddings):
        indexed, centroids = ivf_index(embeddings, n_cells=4)
        assert len(centroids) == 4
        cells = {r["ivf_cell"] for r in
                 indexed.select("ivf_cell").distinct().collect()}
        assert cells <= {0, 1, 2, 3}
        assert indexed.count() == embeddings.count()

    def test_full_probe_equals_exact(self, embeddings):
        """n_probe == n_cells must reproduce brute-force top-k exactly."""
        q = embeddings.filter(F.col("vec_id") < 3)
        exact = cosine_topk(embeddings, q, k=5).toPandas()
        ivf = cosine_topk_ivf(embeddings, q, k=5, n_cells=4, n_probe=4).toPandas()
        key = ["query_id", "rank"]
        exact = exact.sort_values(key).reset_index(drop=True)
        ivf = ivf.sort_values(key).reset_index(drop=True)
        assert (exact["vec_id"].values == ivf["vec_id"].values).all()
        assert np.allclose(exact["cosine"].values, ivf["cosine"].values)

    def test_fixed_centroids_full_probe_equals_exact(self, embeddings):
        """centroids= pins the coarse quantizer; probing every cell
        must still reproduce brute-force top-k exactly (assignment
        only prunes, never reorders)."""
        from contract.common import _ivf_fixed_centroids
        cents = _ivf_fixed_centroids(n_cells=4, dim=64)
        q = embeddings.filter(F.col("vec_id") < 3)
        exact = cosine_topk(embeddings, q, k=5).toPandas()
        ivf = cosine_topk_ivf(embeddings, q, k=5, n_probe=4,
                              centroids=cents).toPandas()
        key = ["query_id", "rank"]
        exact = exact.sort_values(key).reset_index(drop=True)
        ivf = ivf.sort_values(key).reset_index(drop=True)
        assert (exact["vec_id"].values == ivf["vec_id"].values).all()
        assert np.allclose(exact["cosine"].values, ivf["cosine"].values)

    def test_fixed_centroid_assignment_matches_numpy(self, embeddings):
        """Cell election = numpy argmin of euclidean^2 (first-min-wins)
        against the same literals — third-engine parity for the
        portable half of the IVF certificate."""
        from caspr_spark.llm.similarity import _cell_distance_structs
        from contract.common import _ivf_fixed_centroids
        cents = np.asarray(_ivf_fixed_centroids(n_cells=4, dim=64))
        assign = F.element_at(
            F.array_sort(_cell_distance_structs("embedding", cents)),
            1)["cell"]
        got = {r["vec_id"]: r["cell"] for r in
               embeddings.withColumn("cell", assign)
                         .select("vec_id", "cell").collect()}
        for r in embeddings.collect():
            x = np.asarray(r["embedding"], dtype=np.float64)
            expect = int(((cents - x) ** 2).sum(axis=1).argmin())
            assert got[r["vec_id"]] == expect, r["vec_id"]

    def test_partial_probe_subset(self, embeddings):
        """With fewer probes, results are a subset of the probed cells and
        recall@5 stays reasonable on clustered data."""
        q = embeddings.filter(F.col("vec_id") < 5)
        exact = cosine_topk(embeddings, q, k=5).toPandas()
        ivf = cosine_topk_ivf(embeddings, q, k=5, n_cells=8, n_probe=3).toPandas()
        hits = 0
        for qid in range(5):
            e = set(exact[exact.query_id == qid].vec_id)
            i = set(ivf[ivf.query_id == qid].vec_id)
            hits += len(e & i)
        assert hits / 25 > 0.5


class TestIVFState:
    def _cents(self, n_cells=4):
        from contract.common import _ivf_fixed_centroids
        return _ivf_fixed_centroids(n_cells=n_cells, dim=64)

    def test_state_search_equals_one_shot(self, embeddings, tmp_path):
        """Round-14 versioned IVF ingest: three daily folds (crossing
        a compaction at compact_every=2) plus a REPLAYED day, then a
        probe search over the state — row-identical to a one-shot
        cosine_topk_ivf index over the same corpus under the same
        pinned centroids (ingest uses the same nearest_centroid
        election, and the exactly-once protocol keeps the id set
        identical)."""
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                cosine_topk_ivf_state,
                                                read_ivf_state)
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        for day, residue in ((1, 0), (2, 1), (3, 2)):
            append_ivf_state(spark, state, day,
                             embeddings.filter(F.col("vec_id") % 3
                                               == residue),
                             cents, compact_every=2)
        # replay day 2 post-"crash": protocol no-op
        append_ivf_state(spark, state, 2,
                         embeddings.filter(F.col("vec_id") % 3 == 1),
                         cents, compact_every=2)
        assert read_ivf_state(spark, state).count() == embeddings.count()
        q = embeddings.filter(F.col("vec_id") < 3)
        got = cosine_topk_ivf_state(spark, state, q, k=5, n_probe=2,
                                    centroids=cents).toPandas()
        want = cosine_topk_ivf(embeddings, q, k=5, n_probe=2,
                               centroids=cents).toPandas()
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert (got["vec_id"].values == want["vec_id"].values).all()
        assert np.allclose(got["cosine"].values, want["cosine"].values)

    def test_guards_and_ordering(self, embeddings, tmp_path):
        """Quantizer fingerprint guard (fold, search AND vacuum, probing
        past an empty delta), out-of-order refusal."""
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                cosine_topk_ivf_state,
                                                vacuum_ivf_state)
        spark = embeddings.sparkSession
        cents, other = self._cents(), self._cents(n_cells=8)
        state = str(tmp_path / "ivf")
        append_ivf_state(spark, state, 1, embeddings, cents)
        # empty delta (every vector already ingested upstream, say)
        append_ivf_state(spark, state, 2,
                         embeddings.filter("vec_id < 0"), cents)
        with pytest.raises(ValueError, match="fingerprint"):
            append_ivf_state(spark, state, 3, embeddings, other)
        with pytest.raises(ValueError, match="not newer"):
            append_ivf_state(spark, state, 0, embeddings, cents)
        q = embeddings.filter(F.col("vec_id") < 2)
        with pytest.raises(ValueError, match="fingerprint"):
            cosine_topk_ivf_state(spark, state, q, k=3, centroids=other)
        # the newest live frame is the empty delta: the vacuum's guard
        # must probe past it, not pass a wrong quantizer
        with pytest.raises(ValueError, match="fingerprint"):
            vacuum_ivf_state(spark, state, 3, other)

    def test_unstamped_state_refuses_as_drift(self, embeddings, tmp_path):
        """A committed frame whose ``centroid_fp`` carries no stamp (an
        external writer's, say) refuses a fold and a search as a schema
        drift, and the message names the migration."""
        from caspr_spark.llm.similarity import (_centroid_fingerprint,
                                                append_ivf_state,
                                                cosine_topk_ivf_state,
                                                nearest_centroid)
        from caspr_spark.state import compact_merge, fold_commit
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        frame = embeddings.select(
            "vec_id", "embedding",
            nearest_centroid("embedding", cents).alias("ivf_cell"),
            F.lit(_centroid_fingerprint(cents)).alias("centroid_fp"))
        fold_commit(spark, state, 1, "delta", 8, frame,
                    compact_merge(spark, state, "vec_id"))
        with pytest.raises(ValueError, match="without a stamp.*migrate"):
            append_ivf_state(spark, state, 2, embeddings, cents)
        q = embeddings.filter(F.col("vec_id") < 2)
        with pytest.raises(ValueError, match="without a stamp"):
            cosine_topk_ivf_state(spark, state, q, k=3, centroids=cents)

    def test_partitioned_ingest_prunes_and_matches(self, embeddings,
                                                   tmp_path):
        """partition_by_cell=True: frames are hive-partitioned on
        ivf_cell (empty batches fall back to a readable plain frame),
        the read merges both layouts, search results equal the
        unpartitioned path, and the probe reads only its cells' files
        — via the static literal cell filter by default (r15), or a
        dynamic-partition-pruning join with static_prune=False."""
        import os

        from caspr_spark.llm.similarity import (append_ivf_state,
                                                cosine_topk_ivf_state,
                                                read_ivf_state)
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivfp")
        append_ivf_state(spark, state, 1,
                         embeddings.filter(F.col("vec_id") % 2 == 0),
                         cents, compact_every=2, partition_by_cell=True)
        append_ivf_state(spark, state, 2,
                         embeddings.filter("vec_id < 0"),   # empty day
                         cents, compact_every=2, partition_by_cell=True)
        append_ivf_state(spark, state, 3,
                         embeddings.filter(F.col("vec_id") % 2 == 1),
                         cents, compact_every=2, partition_by_cell=True)
        # frame layout: partitioned dirs for data frames, plain for empty
        assert any(d.startswith("ivf_cell=")
                   for d in os.listdir(os.path.join(state, "c1")))
        idx = read_ivf_state(spark, state)
        assert idx.count() == embeddings.count()
        q = embeddings.filter(F.col("vec_id") < 3)
        got = cosine_topk_ivf_state(spark, state, q, k=4, n_probe=2,
                                    centroids=cents).toPandas()
        want = cosine_topk_ivf(embeddings, q, k=4, n_probe=2,
                               centroids=cents).toPandas()
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert (got["vec_id"].values == want["vec_id"].values).all()
        # static path (default): literal partition filter on the scan
        plan = (cosine_topk_ivf_state(spark, state, q, k=4, n_probe=2,
                                      centroids=cents)
                ._jdf.queryExecution().executedPlan().toString())
        assert "ivf_cell#" in plan and "PartitionFilters: [" in plan
        assert "ivf_cell IN" in plan or "isin" in plan.lower() \
            or "dynamicpruning" in plan
        # dynamic path still available and row-identical
        dyn = cosine_topk_ivf_state(spark, state, q, k=4, n_probe=2,
                                    centroids=cents,
                                    static_prune=False)
        dplan = dyn._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in dplan
        dyn_pd = dyn.toPandas().sort_values(key).reset_index(drop=True)
        assert (dyn_pd["vec_id"].values == got["vec_id"].values).all()

    def test_stream_ingest_restart_equals_one_shot(self, embeddings,
                                                   tmp_path):
        """End-to-end through a real stream with a RESTART boundary:
        the accumulated IVF index holds every vector exactly once and
        a probe search equals the one-shot index — and a second
        stream under a DIFFERENT checkpoint refuses the state dir."""
        from caspr_spark.llm.similarity import (cosine_topk_ivf_state,
                                                read_ivf_state)
        from caspr_spark.streaming import run_ann_ingest_to_state
        spark = embeddings.sparkSession
        cents = self._cents()
        emb = embeddings.select("vec_id", "embedding")
        src = str(tmp_path / "src")
        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
        emb.filter("vec_id % 2 = 0").repartition(3) \
           .write.mode("overwrite").parquet(src)
        s1 = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        run_ann_ingest_to_state(s1, state, ckpt, cents)
        emb.filter("vec_id % 2 = 1").repartition(3) \
           .write.mode("append").parquet(src)
        s2 = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        final = run_ann_ingest_to_state(s2, state, ckpt, cents)
        assert final.count() == emb.count()
        assert (read_ivf_state(spark, state)
                .select("vec_id").distinct().count() == emb.count())
        q = emb.filter("vec_id < 3")
        got = cosine_topk_ivf_state(spark, state, q, k=4, n_probe=2,
                                    centroids=cents).toPandas()
        want = cosine_topk_ivf(embeddings, q, k=4, n_probe=2,
                               centroids=cents).toPandas()
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert (got["vec_id"].values == want["vec_id"].values).all()
        # different checkpoint onto the same state dir: refused
        s3 = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
        with pytest.raises(Exception, match="claimed by writer"):
            run_ann_ingest_to_state(s3, state, str(tmp_path / "ckpt2"),
                                    cents)

    def test_prune_retention(self, embeddings, tmp_path):
        """prune_state on the IVF path: post-prune read still holds
        every ingested vector with its original cell."""
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                read_ivf_state)
        from caspr_spark.state import prune_state, state_listing
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        for day in range(1, 6):
            append_ivf_state(spark, state, day,
                             embeddings.filter(F.col("vec_id") % 5
                                               == day - 1),
                             cents, compact_every=2)
        want = {(r.vec_id, r.ivf_cell) for r in
                read_ivf_state(spark, state)
                .select("vec_id", "ivf_cell").collect()}
        assert len(want) == embeddings.count()
        assert prune_state(spark, state, keep_last=1) == [1, 2, 3, 4]
        assert state_listing(spark, state) == [(5, "compact")]
        got = {(r.vec_id, r.ivf_cell) for r in
               read_ivf_state(spark, state)
               .select("vec_id", "ivf_cell").collect()}
        assert got == want


class TestIVFDeletes:
    def _cents(self, n_cells=4):
        from contract.common import _ivf_fixed_centroids
        return _ivf_fixed_centroids(n_cells=n_cells, dim=64)

    def test_tombstones_mask_read_and_search(self, embeddings, tmp_path):
        """Round-15 deletion tombstones: append_ivf_deletes makes the
        deleted vectors invisible to read_ivf_state AND to the probe
        search immediately (before any compaction), search equals a
        one-shot index over ingested-minus-deleted, a REPLAYED delete
        fold is a protocol no-op, and out-of-order delete ids refuse."""
        from caspr_spark.llm.similarity import (append_ivf_deletes,
                                                append_ivf_state,
                                                cosine_topk_ivf_state,
                                                read_ivf_state)
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        for day, residue in ((1, 0), (2, 1), (3, 2)):
            append_ivf_state(spark, state, day,
                             embeddings.filter(F.col("vec_id") % 3
                                               == residue),
                             cents, compact_every=4)
        doomed = embeddings.filter(F.col("vec_id") % 7 == 6) \
                           .select("vec_id")
        append_ivf_deletes(spark, state, 1, doomed)
        # replayed delete day: no-op; out-of-order: refused
        append_ivf_deletes(spark, state, 1, doomed)
        with pytest.raises(ValueError, match="not newer"):
            append_ivf_deletes(spark, state, 0, doomed)
        survivors = embeddings.filter(F.col("vec_id") % 7 != 6)
        got_ids = {r.vec_id for r in
                   read_ivf_state(spark, state).select("vec_id").collect()}
        assert got_ids == {r.vec_id for r in
                           survivors.select("vec_id").collect()}
        q = embeddings.filter(F.col("vec_id") < 3)
        got = cosine_topk_ivf_state(spark, state, q, k=5, n_probe=2,
                                    centroids=cents).toPandas()
        want = cosine_topk_ivf(survivors, q, k=5, n_probe=2,
                               centroids=cents).toPandas()
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert (got["vec_id"].values == want["vec_id"].values).all()
        assert np.allclose(got["cosine"].values, want["cosine"].values)

    def test_vacuum_erases_bytes(self, embeddings, tmp_path):
        """vacuum_ivf_state force-compacts with tombstones baked in and
        prunes the superseded frames: afterwards NO live or retained
        frame's raw bytes hold a deleted id (the right-to-erasure
        check — read masking alone would pass even with the bytes
        still on disk), and ingest can continue past the vacuum id."""
        from caspr_spark.llm.similarity import (append_ivf_deletes,
                                                append_ivf_state,
                                                read_ivf_state,
                                                vacuum_ivf_state)
        from caspr_spark.state import state_listing, state_path
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        append_ivf_state(spark, state, 1,
                         embeddings.filter(F.col("vec_id") % 2 == 0),
                         cents, compact_every=8)
        append_ivf_state(spark, state, 2,
                         embeddings.filter(F.col("vec_id") % 2 == 1),
                         cents, compact_every=8)
        doomed = embeddings.filter(F.col("vec_id") % 5 == 0) \
                           .select("vec_id")
        append_ivf_deletes(spark, state, 1, doomed)
        pruned = vacuum_ivf_state(spark, state, 3, cents)
        assert pruned == [1, 2]
        listing = state_listing(spark, state)
        assert listing == [(3, "compact")]
        raw = spark.read.parquet(state_path(state, 3, "compact"))
        doomed_ids = {r.vec_id for r in doomed.collect()}
        assert not ({r.vec_id for r in raw.select("vec_id").collect()}
                    & doomed_ids)
        # the id sequence continues past the vacuum fold
        append_ivf_state(spark, state, 4,
                         embeddings.filter(F.col("vec_id") % 5 == 0),
                         cents, compact_every=8)
        assert (read_ivf_state(spark, state).count()
                == embeddings.count() - len(doomed_ids))
        # the re-ingest of a deleted id resurfaces nothing: tombstone
        # still masks (unique-id contract makes this a caller error,
        # but the mask is the safe default)

    def test_compaction_cadence_bakes_deletes(self, embeddings, tmp_path):
        """Without any explicit vacuum, the normal compact_every
        cadence bakes the current tombstone set into the compact —
        the streaming-sink path to erasure (external vacuum folds
        can't interleave with checkpoint-derived batch ids)."""
        from caspr_spark.llm.similarity import (append_ivf_deletes,
                                                append_ivf_state)
        from caspr_spark.state import state_listing, state_path
        spark = embeddings.sparkSession
        cents = self._cents()
        state = str(tmp_path / "ivf")
        for day, residue in ((1, 0), (2, 1)):
            append_ivf_state(spark, state, day,
                             embeddings.filter(F.col("vec_id") % 3
                                               == residue),
                             cents, compact_every=2)
        doomed = embeddings.filter(F.col("vec_id") % 4 == 0) \
                           .select("vec_id")
        append_ivf_deletes(spark, state, 1, doomed)
        # third fold hits the compact_every=2 boundary -> compact
        # (the first commit counts as the initial compact)
        append_ivf_state(spark, state, 3,
                         embeddings.filter(F.col("vec_id") % 3 == 2),
                         cents, compact_every=2)
        assert (3, "compact") in state_listing(spark, state)
        raw = spark.read.parquet(state_path(state, 3, "compact"))
        doomed_ids = {r.vec_id for r in doomed.collect()}
        assert not ({r.vec_id for r in raw.select("vec_id").collect()}
                    & doomed_ids)


class TestSlidingTrainset:
    def test_windows_and_labels(self, events, spark):
        from datetime import timedelta
        from caspr_spark import ColumnRoles, SequenceFeaturizer
        from caspr_spark.pipeline import build_sliding_window_trainset

        pred = events.agg(F.max("ts")).collect()[0][0]
        cutoffs = [pred - timedelta(days=7), pred - timedelta(days=14)]
        roles = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                            cat_cols=["event_type"], cont_cols=["value"],
                            seq_cols=["value", "ts"], date_cols=["ts"],
                            order_tiebreak=["event_id"])
        feat = SequenceFeaturizer(roles=roles, history_days=7, seq_len=3,
                                  interval=True)
        out, model = build_sliding_window_trainset(
            events, feat, cutoffs, label_window_days=7,
            activity_col="event_type",
            activities=["click", "error", "purchase", "signup", "view"])
        pdf = out.toPandas()
        assert set(pdf.window_id.unique()) == {0, 1}
        assert "label_click" in pdf.columns
        assert set(pdf.label_click.unique()) <= {0, 1}
        # window 0 cutoff is later; label window (cut0, cut0+7] reaches pred
        assert len(pdf[pdf.window_id == 0]) > 0
        assert model is not None

    def test_shared_feature_space(self, events):
        """Earlier windows must reuse the encoding fitted on the first."""
        from datetime import timedelta
        from caspr_spark import ColumnRoles, SequenceFeaturizer
        from caspr_spark.pipeline import build_sliding_window_trainset

        pred = events.agg(F.max("ts")).collect()[0][0]
        roles = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                            cat_cols=["event_type"], cont_cols=["value"],
                            seq_cols=["event_type"], date_cols=["ts"],
                            order_tiebreak=["event_id"])
        feat = SequenceFeaturizer(roles=roles, history_days=7, seq_len=2,
                                  interval=True)
        out, model = build_sliding_window_trainset(
            events, feat, [pred, pred - timedelta(days=10)])
        codes = {r[0] for r in out.select("1_event_type").distinct().collect()
                 if r[0] is not None}
        assert codes <= set(range(0, len(model.encoding.mappings["event_type"]) + 1))


class TestExplain:
    def test_linear_closed_form_matches_numpy(self, embeddings):
        rng = np.random.default_rng(3)
        W = rng.normal(size=(4, 64))
        out = linear_ablation_importance(embeddings, W, dims=[0, 5]) \
            .toPandas().set_index("dim")
        pdf = embeddings.select("embedding").toPandas()
        X = np.stack(pdf["embedding"].values).astype(np.float64)
        for j in (0, 5):
            want = np.abs(X[:, j] - X[:, j].mean()).mean() * \
                np.linalg.norm(W[:, j])
            assert out.loc[j, "importance"] == pytest.approx(want, rel=1e-6,
                                                             abs=1e-6)

    def test_generic_ablation_nonzero_for_used_feature(self, spark):
        """LSTM encoder: ablating a varying input moves the embedding;
        ablating a constant input does not."""
        import pandas as pd
        from caspr_spark.models import CASPRFactory
        from caspr_spark.score import pack_for_scoring

        n, t = 40, 3
        rng = np.random.default_rng(0)
        pdf = pd.DataFrame({
            "uid": range(n),
            **{f"{s}_x": rng.normal(size=n) for s in range(1, t + 1)},
            **{f"{s}_c": rng.integers(1, 5, size=n) for s in range(1, t + 1)},
        })
        sdf = pack_for_scoring(
            spark.createDataFrame(pdf),
            cont_cols=[f"{s}_x" for s in range(1, t + 1)],
            cat_cols=[f"{s}_c" for s in range(1, t + 1)])
        model = CASPRFactory({"c": 6}, {}, 1, 0, t).create("LSTMAutoencoder")
        imp = ablation_importance(sdf, model, seq_len=t, n_seq_cat=1,
                                  n_seq_cont=1, features=[0, 1]) \
            .toPandas().set_index("feature")
        assert imp.loc[0, "importance"] > 0
        assert imp.loc[1, "importance"] > 0


class TestAttributionPresentation:
    """separate_pos_neg / visualize_layout parity (reference explain/utils.py)."""

    def test_separate_pos_neg_parts_sum_back(self):
        import pandas as pd
        from caspr_spark.explain import separate_pos_neg
        df = pd.DataFrame({"a": [1.0, -2.0, 0.0], "b": [-0.5, 0.5, 3.0]})
        pos, neg = separate_pos_neg(df)
        assert (pos.values >= 0).all() and (neg.values <= 0).all()
        assert ((pos + neg) == df).all().all()

    def test_layout_combined_matches_reference_arithmetic(self):
        import pandas as pd
        from caspr_spark.explain import visualize_layout
        df = pd.DataFrame({"a": [1.0, -2.0], "b": [0.5, 0.5]})
        lay = visualize_layout(df)
        # mean pos = [.5,.5], mean |neg| = [1,0] -> combined bars [1.5,.5],
        # xlim_pos = .5*1.25 + 1*1.25 = 1.875, one-sided
        assert lay["pos"].tolist() == [1.5, 0.5]
        assert lay["neg"] is None
        assert lay["xlim"] == (0.0, 1.875)

    def test_layout_separated_is_symmetric(self):
        import pandas as pd
        from caspr_spark.explain import visualize_layout
        lay = visualize_layout(pd.DataFrame({"a": [1.0, -2.0], "b": [0.5, 0.5]}),
                               separate_pos_neg_imp=True)
        lo, hi = lay["xlim"]
        assert lo == -hi and lay["neg"] is not None

    def test_visualize_gated_without_matplotlib(self):
        import pandas as pd
        import pytest
        try:
            import matplotlib  # noqa: F401
            pytest.skip("matplotlib present; gate not exercised")
        except ImportError:
            pass
        from caspr_spark.explain import visualize
        with pytest.raises(NotImplementedError):
            visualize(pd.DataFrame({"a": [1.0]}))


class TestLshAutoPlanSqlParity:
    """Round-12 emb_near_dup_auto certificate: the SQL twin re-derives
    (n_planes, n_tables) from a count(*) CTE with exact integer
    arithmetic + precomputed table-count literals. Sweep the whole
    covered corpus range and require bit-equality with lsh_plan."""

    def test_plan_exprs_match_lsh_plan(self):
        import duckdb
        from caspr_spark.llm.similarity import lsh_plan
        from contract.llm import _lsh_auto_plan_exprs
        thr, rec, p_max = 0.45, 0.5, 8
        np_expr, nt_expr = _lsh_auto_plan_exprs(thr, rec, p_max)
        # every power-of-two boundary ±1 (the only places a float-log2
        # rule could disagree) plus a spread of interior points
        ns = sorted({1, 2, 100, 128, 129, 500, 2000, 20000, 32768} |
                    {128 * (1 << k) + d for k in range(0, p_max + 1)
                     for d in (-1, 0, 1)} |
                    {937, 3001, 7777, 12345, 30000})
        con = duckdb.connect()
        for n in ns:
            if n < 1:
                continue
            got = con.sql(
                f"SELECT np, {nt_expr} AS nt FROM "
                f"(SELECT {np_expr} AS np FROM "
                f"(SELECT {n}::BIGINT AS n))").fetchone()
            if n > 128 * (1 << p_max):
                assert got == (None, None), n   # loud out-of-coverage
                continue
            want = lsh_plan(n, thr, rec)
            assert got == want, (n, got, want)

    def test_plane_prefix_property(self):
        """The certificate's other leg: random_hyperplanes(d, P, s) is
        a PREFIX of random_hyperplanes(d, P_MAX, s) — what lets the
        twin embed p_max planes and activate the first np."""
        from caspr_spark.llm.similarity import random_hyperplanes
        full = random_hyperplanes(64, 8, seed=42)
        for p in (4, 5, 6, 7):
            assert random_hyperplanes(64, p, seed=42) == full[:p]


class TestArrowAssignment:
    def _cents(self, n_cells=8):
        from contract.common import _ivf_fixed_centroids
        return _ivf_fixed_centroids(n_cells=n_cells, dim=64)

    def test_arrow_election_parity(self, embeddings):
        """Round-15 bulk-ingest fast path: nearest_centroid_arrow (one
        float64 GEMM per Arrow batch) elects the same cell as the
        certified expression election on every corpus vector — the
        parity the 'arrow' assign mode rests on (ulp ties could
        differ in principle; this pins that they don't here)."""
        from caspr_spark.llm.similarity import (nearest_centroid,
                                                nearest_centroid_arrow)
        cents = self._cents()
        a = embeddings.select(
            "vec_id", nearest_centroid("embedding", cents).alias("c")) \
            .alias("A")
        b = embeddings.select(
            "vec_id",
            nearest_centroid_arrow("embedding", cents).alias("c")) \
            .alias("B")
        assert a.join(b, "vec_id").filter("A.c <> B.c").count() == 0

    def test_arrow_ingest_state_matches_expr(self, embeddings, tmp_path):
        """append_ivf_state(assign='arrow') builds a state whose probe
        search is row-identical to the expression-assigned state — the
        two ingest modes are interchangeable on this corpus."""
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                cosine_topk_ivf_state)
        spark = embeddings.sparkSession
        cents = self._cents()
        dirs = {}
        for mode in ("expr", "arrow"):
            d = str(tmp_path / mode)
            for day, residue in ((1, 0), (2, 1)):
                append_ivf_state(spark, d, day,
                                 embeddings.filter(F.col("vec_id") % 2
                                                   == residue),
                                 cents, compact_every=4, assign=mode)
            dirs[mode] = d
        q = embeddings.filter(F.col("vec_id") < 3)
        got = {m: sorted(map(tuple, cosine_topk_ivf_state(
                   spark, dirs[m], q, k=5, n_probe=2,
                   centroids=cents).collect()))
               for m in dirs}
        assert got["expr"] == got["arrow"]
        assert len(got["expr"]) > 0

    def test_bad_assign_mode_refuses(self, embeddings, tmp_path):
        from caspr_spark.llm.similarity import append_ivf_state
        with pytest.raises(ValueError, match="assign"):
            append_ivf_state(embeddings.sparkSession,
                             str(tmp_path / "x"), 1, embeddings,
                             self._cents(), assign="numpy")


class TestPQState:
    def _cb(self):
        from contract.common import _pq_fixed_cb
        return _pq_fixed_cb()

    def test_state_search_equals_one_shot(self, embeddings, tmp_path):
        """Round-15 versioned PQ ingest: three daily folds (crossing a
        compaction) plus a REPLAYED day, then ADC search over the
        state — byte-identical to one-shot pq_encode + pq_search over
        the same corpus under the same pinned codebooks."""
        from caspr_spark.llm.pq import (adc_topk_pq_state,
                                        append_pq_state, pq_encode,
                                        pq_search, read_pq_state)
        spark = embeddings.sparkSession
        cb, q = self._cb()
        state = str(tmp_path / "pq")
        for day, residue in ((1, 0), (2, 1), (3, 2)):
            append_pq_state(spark, state, day,
                            embeddings.filter(F.col("vec_id") % 3
                                              == residue),
                            cb, compact_every=2)
        append_pq_state(spark, state, 2,
                        embeddings.filter(F.col("vec_id") % 3 == 1),
                        cb, compact_every=2)          # replay: no-op
        assert read_pq_state(spark, state).count() == embeddings.count()
        got = sorted(map(tuple, adc_topk_pq_state(
            spark, state, q, cb, top_k=10).collect()))
        want = sorted(map(tuple, pq_search(
            pq_encode(embeddings, cb), q, cb, top_k=10).collect()))
        assert got == want

    def test_codebook_guard_and_ordering(self, embeddings, tmp_path):
        """Codebook-fingerprint guard on fold, search, and vacuum (also
        with an empty newest delta); out-of-order refusal."""
        import numpy as np

        from caspr_spark.llm.pq import (adc_topk_pq_state,
                                        append_pq_state,
                                        vacuum_pq_state)
        spark = embeddings.sparkSession
        cb, q = self._cb()
        other = np.asarray(cb) + 0.25
        state = str(tmp_path / "pq")
        append_pq_state(spark, state, 1, embeddings, cb)
        with pytest.raises(ValueError, match="fingerprint"):
            append_pq_state(spark, state, 2, embeddings, other)
        with pytest.raises(ValueError, match="not newer"):
            append_pq_state(spark, state, 0, embeddings, cb)
        with pytest.raises(ValueError, match="fingerprint"):
            adc_topk_pq_state(spark, state, q, other, top_k=3)
        with pytest.raises(ValueError, match="fingerprint"):
            vacuum_pq_state(spark, state, 2, other)
        append_pq_state(spark, state, 2, embeddings.filter("vec_id < 0"),
                        cb)                       # empty newest delta
        with pytest.raises(ValueError, match="fingerprint"):
            vacuum_pq_state(spark, state, 3, other)

    def test_tombstones_and_vacuum(self, embeddings, tmp_path):
        """append_pq_deletes masks immediately, a replayed erasure day
        is a no-op, and vacuum_pq_state bakes the tombstones into a
        forced compact + prunes so the searched state equals one-shot
        encode+search over ingested-minus-deleted."""
        from caspr_spark.llm.pq import (adc_topk_pq_state,
                                        append_pq_deletes,
                                        append_pq_state, pq_encode,
                                        pq_search, read_pq_state)
        from caspr_spark.llm.pq import vacuum_pq_state
        from caspr_spark.state import state_listing
        spark = embeddings.sparkSession
        cb, q = self._cb()
        state = str(tmp_path / "pq")
        for day, residue in ((1, 0), (2, 1)):
            append_pq_state(spark, state, day,
                            embeddings.filter(F.col("vec_id") % 2
                                              == residue),
                            cb, compact_every=4)
        doomed = embeddings.filter(F.col("vec_id") % 5 == 4) \
                           .select("vec_id")
        append_pq_deletes(spark, state, 1, doomed)
        append_pq_deletes(spark, state, 1, doomed)     # replayed
        survivors = embeddings.filter(F.col("vec_id") % 5 != 4)
        got_ids = {r.vec_id for r in
                   read_pq_state(spark, state).select("vec_id").collect()}
        assert got_ids == {r.vec_id for r in
                           survivors.select("vec_id").collect()}
        pruned = vacuum_pq_state(spark, state, 3, cb)
        assert pruned                     # superseded frames erased
        listing = state_listing(spark, state)
        assert listing[-1][1] == "compact"
        # post-vacuum: the compact itself no longer holds the ids
        assert {r.vec_id for r in
                read_pq_state(spark, state).select("vec_id").collect()} \
            == got_ids
        got = sorted(map(tuple, adc_topk_pq_state(
            spark, state, q, cb, top_k=10).collect()))
        want = sorted(map(tuple, pq_search(
            pq_encode(survivors, cb), q, cb, top_k=10).collect()))
        assert got == want

    def test_sink_callable_replays(self, embeddings, tmp_path):
        """pq_ingest_sink: the foreachBatch callable folds at
        batch_id+1, a post-crash re-delivery of the same micro-batch
        is a protocol no-op, and a second stream refuses the lease."""
        from conftest import as_stream

        from caspr_spark.llm.pq import read_pq_state
        from caspr_spark.streaming import pq_ingest_sink
        spark = embeddings.sparkSession
        cb, _q = self._cb()
        state = str(tmp_path / "pq")
        sink = pq_ingest_sink(state, cb)
        b0 = embeddings.filter(F.col("vec_id") % 2 == 0)
        b1 = embeddings.filter(F.col("vec_id") % 2 == 1)
        with as_stream(spark, "query-A"):
            sink(b0, 0)
            sink(b1, 1)
            n = read_pq_state(spark, state).count()
            assert n == embeddings.count()
            sink(b1, 1)                    # re-delivered micro-batch
            assert read_pq_state(spark, state).count() == n
        other = pq_ingest_sink(state, cb)
        with as_stream(spark, "query-B"), \
                pytest.raises(RuntimeError, match="claimed by writer"):
            other(b0, 2)


class TestSinkProbeOnce:
    def test_ann_sink_first_fold_still_refuses_mismatch(self, embeddings,
                                                        tmp_path):
        """The FIRST fold of a fresh ann_ingest_sink refuses a
        pre-existing state stamped with another quantizer fingerprint,
        and same-instance later folds commit identically to the batch
        path (both check the stamp on every commit)."""
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                read_ivf_state)
        from caspr_spark.streaming import ann_ingest_sink
        from contract.common import _ivf_fixed_centroids
        spark = embeddings.sparkSession
        cents = _ivf_fixed_centroids()
        other = [[c + 1.0 for c in row] for row in cents]
        b0 = embeddings.filter(F.col("vec_id") % 2 == 0)
        b1 = embeddings.filter(F.col("vec_id") % 2 == 1)

        bad = str(tmp_path / "bad")
        append_ivf_state(spark, bad, 1, b0, other)
        with pytest.raises(ValueError, match="fingerprint"):
            ann_ingest_sink(bad, cents)(b1, 1)

        good = str(tmp_path / "good")
        sink = ann_ingest_sink(good, cents)
        sink(b0, 0)
        sink(b1, 1)
        ref = str(tmp_path / "ref")
        append_ivf_state(spark, ref, 1, b0, cents)
        append_ivf_state(spark, ref, 2, b1, cents)
        key = lambda r: (r.vec_id, r.ivf_cell)
        assert (sorted(map(key, read_ivf_state(spark, good).collect()))
                == sorted(map(key, read_ivf_state(spark, ref).collect())))
