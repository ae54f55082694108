"""DEC — student-t assignment, target distribution, KL fit, Hungarian
accuracy (reference caspr/models/dec.py:10-119, caspr/utils/segmentation/
dec_utils.py:9-66)."""

from itertools import permutations

import numpy as np
import pytest
from pyspark.sql import functions as F

from caspr_spark.dec import (
    _linear_sum_assignment, _soft_np, _target_np, cluster_accuracy,
    dec_loss_and_grad, fit_dec, hard_assignment, kl_divergence, kmeans_np,
    soft_assignment, target_distribution, xavier_centers,
)


def _blobs(rng, means, n=80, scale=0.3):
    Z = np.concatenate([rng.normal(loc=m, scale=scale, size=(n, len(m)))
                        for m in means])
    y = np.repeat(np.arange(len(means)), n)
    return Z, y


class TestNumpyCore:
    def test_soft_assignment_rows_sum_to_one(self):
        rng = np.random.default_rng(0)
        q = _soft_np(rng.normal(size=(50, 4)), rng.normal(size=(3, 4)))
        np.testing.assert_allclose(q.sum(axis=1), 1.0)
        assert (q > 0).all()

    def test_target_distribution_matches_reference_formula(self):
        """p = (q²/f).T normalized — dec.py:107-119 Eq. 3."""
        rng = np.random.default_rng(1)
        q = _soft_np(rng.normal(size=(20, 3)), rng.normal(size=(4, 3)))
        p = _target_np(q)
        w = q ** 2 / q.sum(axis=0)
        np.testing.assert_allclose(p, (w.T / w.sum(axis=1)).T)
        np.testing.assert_allclose(p.sum(axis=1), 1.0)

    def test_gradient_matches_numerical_with_detached_target(self):
        """The reference detaches the target (dec.py:102 ``.detach()``),
        so the gradient check holds p fixed."""
        rng = np.random.default_rng(0)
        Z = rng.normal(size=(30, 5))
        centers = rng.normal(size=(3, 5))
        _, grad, _, p0 = dec_loss_and_grad(Z, centers)

        def loss_fixed_p(c):
            q = _soft_np(Z, c)
            return float((p0 * np.log(p0 / q)).sum() / len(Z))

        eps = 1e-6
        for j in range(3):
            for d in range(5):
                cp, cm = centers.copy(), centers.copy()
                cp[j, d] += eps
                cm[j, d] -= eps
                num = (loss_fixed_p(cp) - loss_fixed_p(cm)) / (2 * eps)
                ana = grad[j, d]
                assert abs(num - ana) / (abs(num) + abs(ana) + 1e-10) < 1e-5

    def test_fit_dec_recovers_blobs_and_loss_decreases(self):
        rng = np.random.default_rng(5)
        Z, y = _blobs(rng, [[0, 0, 0], [4, 4, 0], [0, 4, 4], [4, 0, 4]])
        centers, hist = fit_dec(Z, 4, seed=1, epochs=30)
        labels = _soft_np(Z, centers).argmax(axis=1)
        _, acc = cluster_accuracy(y, labels, cluster_number=4)
        assert acc == 1.0
        assert hist[-1] <= hist[0] + 1e-12

    def test_kmeans_np_deterministic(self):
        rng = np.random.default_rng(2)
        Z, _ = _blobs(rng, [[0, 0], [5, 5]])
        c1, l1 = kmeans_np(Z, 2, seed=9)
        c2, l2 = kmeans_np(Z, 2, seed=9)
        np.testing.assert_array_equal(c1, c2)
        np.testing.assert_array_equal(l1, l2)

    def test_xavier_centers_bound_and_seeded(self):
        c = xavier_centers(4, 64, seed=7)
        a = np.sqrt(6.0 / (4 + 64))
        assert (np.abs(c) <= a).all()
        np.testing.assert_array_equal(c, xavier_centers(4, 64, seed=7))


class TestHungarian:
    def test_matches_brute_force(self):
        rng = np.random.default_rng(0)
        for _ in range(50):
            n = int(rng.integers(2, 6))
            cost = rng.normal(size=(n, n))
            r, c = _linear_sum_assignment(cost)
            got = cost[r, c].sum()
            best = min(sum(cost[i, p[i]] for i in range(n))
                       for p in permutations(range(n)))
            assert got == pytest.approx(best)

    def test_cluster_accuracy_permutation_invariant(self):
        y = np.array([0, 0, 1, 1, 2, 2])
        relabeled = np.array([2, 2, 0, 0, 1, 1])
        _, acc = cluster_accuracy(y, relabeled)
        assert acc == 1.0
        _, acc2 = cluster_accuracy(y, np.array([2, 2, 0, 0, 1, 0]))
        assert acc2 == pytest.approx(5 / 6)


class TestSparkSide:
    @pytest.fixture(scope="class")
    def emb_df(self, spark):
        rng = np.random.default_rng(3)
        Z = rng.normal(size=(40, 6)).astype(np.float32)
        return (spark.createDataFrame(
            [(i, [float(v) for v in Z[i]]) for i in range(40)],
            "id long, embedding array<float>"), Z)

    def test_spark_assignment_matches_numpy(self, emb_df):
        df, Z = emb_df
        centers = xavier_centers(3, 6, seed=5)
        q = soft_assignment(df, "embedding", centers)
        pdf = q.orderBy("id").toPandas()
        expected = _soft_np(Z.astype(np.float64), centers)
        got = pdf[["q0", "q1", "q2"]].to_numpy()
        np.testing.assert_allclose(got, expected, rtol=1e-6, atol=1e-7)

    def test_spark_target_and_kl_match_numpy(self, emb_df):
        df, Z = emb_df
        centers = xavier_centers(3, 6, seed=5)
        q = soft_assignment(df, "embedding", centers)
        p = target_distribution(q, 3)
        pdf = p.orderBy("id").toPandas()
        qn = _soft_np(Z.astype(np.float64), centers)
        pn = _target_np(qn)
        np.testing.assert_allclose(pdf[["p0", "p1", "p2"]].to_numpy(), pn,
                                   rtol=1e-6, atol=1e-7)
        kl = kl_divergence(p, 3)
        assert kl == pytest.approx(float((pn * np.log(pn / qn)).sum()
                                         / len(Z)), rel=1e-6)

    def test_hard_assignment_is_argmax(self, emb_df):
        df, Z = emb_df
        centers = xavier_centers(3, 6, seed=5)
        out = hard_assignment(soft_assignment(df, "embedding", centers), 3)
        pdf = out.orderBy("id").toPandas()
        expected = _soft_np(Z.astype(np.float64), centers).argmax(axis=1)
        np.testing.assert_array_equal(pdf["cluster"].to_numpy(), expected)

    def test_soft_assignment_plan_is_map_only(self, emb_df):
        """k map-side expressions, no shuffle, no Python UDF."""
        df, _ = emb_df
        q = soft_assignment(df, "embedding", xavier_centers(3, 6, seed=5))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestDistributedFit:
    """fit_dec_distributed: two small aggregations per epoch, driver
    holds k*d doubles — trajectory-parity with the in-memory fit."""

    def _df_and_Z(self, spark, seed=0):
        rng = np.random.default_rng(seed)
        # overlapping blobs so labels keep flipping and the loop RUNS
        Z = np.concatenate([rng.normal(i * 1.2, 0.9, (60, 5))
                            for i in range(3)])
        import pandas as pd
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(len(Z)),
                          "embedding": list(Z)}))
        return df, Z

    def test_parity_with_inmemory_fit(self, spark):
        from caspr_spark.dec import fit_dec, fit_dec_distributed, kmeans_np
        df, Z = self._df_and_Z(spark)
        c0, _ = kmeans_np(Z, 3, seed=11)
        cd, hd = fit_dec_distributed(df, "embedding", k=3, lr=0.3,
                                     epochs=10, init_centers=c0)
        cl, hl = fit_dec(Z, 3, lr=0.3, epochs=10, init_centers=c0)
        assert len(hd) == len(hl)
        np.testing.assert_allclose(hd, hl, rtol=1e-9)
        np.testing.assert_allclose(cd, cl, rtol=1e-8, atol=1e-12)

    def test_parity_holds_across_refresh_intervals(self, spark):
        """target_refresh > 1 (round 8): the anchored map-side target
        recomputation must reproduce fit_dec's frozen full-p matrix
        exactly — the old fixed-frequency approximation diverged here."""
        from caspr_spark.dec import fit_dec, fit_dec_distributed, kmeans_np
        df, Z = self._df_and_Z(spark)
        c0, _ = kmeans_np(Z, 3, seed=11)
        cd, hd = fit_dec_distributed(df, "embedding", k=3, lr=0.3,
                                     epochs=11, init_centers=c0,
                                     tol=0.0, target_refresh=5)
        cl, hl = fit_dec(Z, 3, lr=0.3, epochs=11, init_centers=c0,
                         tol=0.0, target_refresh=5)
        assert len(hd) == len(hl)
        np.testing.assert_allclose(hd, hl, rtol=1e-9)
        np.testing.assert_allclose(cd, cl, rtol=1e-8, atol=1e-12)

    def test_fixed_target_descends_distributed(self, spark):
        """With the anchored exact target (refresh > epochs) the
        distributed centroid fit now optimizes the SAME frozen
        objective as the in-memory fit, so the recorded KL must
        descend — previously only assertable in memory."""
        from caspr_spark.dec import fit_dec_distributed, kmeans_np
        df, Z = self._df_and_Z(spark)
        c0, _ = kmeans_np(Z, 3, seed=11)
        _, h = fit_dec_distributed(df, "embedding", k=3, lr=0.3,
                                   epochs=10, init_centers=c0,
                                   tol=0.0, target_refresh=10**6)
        assert h[-1] < h[0]

    def test_sampled_init_runs_full_schedule(self, spark):
        """The bounded-sample KMeans init path end-to-end: tol=0 keeps
        the loop running the full schedule, centers keep the right
        shape, history stays finite."""
        from caspr_spark.dec import fit_dec_distributed
        df, _ = self._df_and_Z(spark)
        c, h = fit_dec_distributed(df, "embedding", k=3, lr=0.1, epochs=8,
                                   seed=11, tol=0.0)
        assert len(h) == 8 and all(np.isfinite(v) for v in h)
        assert c.shape == (3, 5)

    def test_delta_label_stop_requires_an_update(self):
        """Round-6 fix: the delta-label check compares consecutive
        epochs, so the fit performs at least one real centroid update
        (the old formulation always stopped at epoch 0 because init
        labels trivially equal themselves)."""
        from caspr_spark.dec import fit_dec
        rng = np.random.default_rng(0)
        Z = np.concatenate([rng.normal(i * 4, 0.3, (50, 4))
                            for i in range(3)])
        centers, hist = fit_dec(Z, 3, seed=1, epochs=30)
        assert len(hist) >= 2


class TestJointDec:
    def _bundle_and_model(self, seed=5):
        from caspr_spark.data.tensorize import TensorBundle
        from caspr_spark.models.autoencoder import fit_autoencoder
        rng = np.random.default_rng(seed)
        n, t = 250, 4
        x = np.empty((n, t))
        x[:, 0] = rng.uniform(0.05, 0.95, n)
        for s in range(1, t):
            x[:, s] = 3.9 * x[:, s - 1] * (1 - x[:, s - 1])
        bundle = TensorBundle(
            seq_cat=(x[:, :, None] * 3).astype(np.int64).clip(0, 2),
            seq_cont=x[:, :, None].astype(np.float32),
            non_seq_cat=np.zeros((n, 0), np.int64),
            non_seq_cont=np.zeros((n, 0), np.float32),
            y=np.zeros((n, 0), np.float32))
        model, _ = fit_autoencoder(bundle, hidden_dim=6, epochs=8,
                                   lr=3e-3, batch_size=64, seed=3)
        return bundle, model

    def test_embedding_gradient_matches_numerical(self):
        from caspr_spark.dec import dec_loss_and_grads_joint
        rng = np.random.default_rng(1)
        Z = rng.normal(size=(15, 4))
        centers = rng.normal(size=(3, 4))
        loss, gc, gz, q, p = dec_loss_and_grads_joint(Z, centers)
        eps = 1e-6
        for idx in [(0, 0), (7, 2), (14, 3)]:
            Zp, Zm = Z.copy(), Z.copy()
            Zp[idx] += eps
            Zm[idx] -= eps
            lp = dec_loss_and_grads_joint(Zp, centers, p=p)[0]
            lm = dec_loss_and_grads_joint(Zm, centers, p=p)[0]
            num = (lp - lm) / (2 * eps)
            assert abs(num - gz[idx]) / (abs(num) + abs(gz[idx]) + 1e-10) \
                < 1e-5

    def test_encode_vjp_matches_numerical(self):
        bundle, model = self._bundle_and_model()
        rng = np.random.default_rng(2)
        sl = slice(0, 12)
        args = (bundle.seq_cat[sl], bundle.seq_cont[sl],
                bundle.non_seq_cat[sl], bundle.non_seq_cont[sl])
        dh = rng.normal(size=(12, 6))
        _, g = model.encode_and_grads(*args, dh=dh)
        eps = 1e-6
        for k in ("W_enc", "b_enc", "emb_s0"):
            flat = model.params[k].reshape(-1)
            for i in rng.choice(flat.size, size=min(4, flat.size),
                                replace=False):
                keep = flat[i]
                flat[i] = keep + eps
                lp = (dh * model.encode(*args)).sum()
                flat[i] = keep - eps
                lm = (dh * model.encode(*args)).sum()
                flat[i] = keep
                num = (lp - lm) / (2 * eps)
                ana = g[k].reshape(-1)[i]
                assert abs(num - ana) < 1e-6 * max(1.0, abs(num), abs(ana))

    def test_encode_vjp_leaves_decoder_untouched(self):
        bundle, model = self._bundle_and_model()
        _, g = model.encode_and_grads(
            bundle.seq_cat[:8], bundle.seq_cont[:8],
            bundle.non_seq_cat[:8], bundle.non_seq_cont[:8],
            dh=np.ones((8, 6)))
        for k in ("Wx", "Wd", "bd", "W_os0", "b_os0"):
            assert np.abs(g[k]).sum() == 0, k

    def test_joint_beats_frozen_on_fixed_target(self):
        import copy

        from caspr_spark.dec import fit_dec, fit_dec_joint, kmeans_np
        bundle, model = self._bundle_and_model()
        args = (bundle.seq_cat, bundle.seq_cont, bundle.non_seq_cat,
                bundle.non_seq_cont)
        Z0 = model.encode(*args)
        c0, _ = kmeans_np(Z0, 4, seed=11)
        _, hf = fit_dec(Z0, 4, lr=0.1, epochs=25, init_centers=c0,
                        tol=0.0, target_refresh=10**6)
        mj = copy.deepcopy(model)
        _, _, hj = fit_dec_joint(mj, bundle, 4, lr_centers=0.1,
                                 lr_encoder=3e-3, epochs=25,
                                 init_centers=c0, tol=0.0,
                                 target_refresh=10**6)
        assert hf[-1] < hf[0]          # frozen half descends
        assert hj[-1] < hf[-1]         # joint reaches strictly lower KL


class TestJointDecDistributed:
    """fit_dec_joint_distributed: the KL gradient flows through EVERY
    row via per-partition encode_and_grads partials — parity with the
    in-memory joint fit, no driver-side data materialization."""

    def _wide_and_model(self, spark, n=180):
        import pandas as pd

        from caspr_spark.roles import ColumnRoles
        from caspr_spark.train_distributed import fit_deep_autoencoder_ddp
        rng = np.random.default_rng(0)
        data = {"user_id": np.arange(n)}
        group = np.arange(n) % 3        # real cluster structure, so the
        for s in range(1, 5):           # KL objective has blobs to find
            data[f"{s}_event_type"] = group + rng.integers(0, 2, n)
            data[f"{s}_value"] = (1.5 * group
                                  + rng.normal(0, 0.2, n)).round(3)
        pdf = pd.DataFrame(data)
        roles = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                            cat_cols=["event_type"], cont_cols=["value"],
                            seq_cols=["event_type", "value"],
                            non_seq_cols=[], output_cols=[])
        wide = spark.createDataFrame(pdf)
        model, _ = fit_deep_autoencoder_ddp(
            wide, roles, 4, arch="mlp", hidden_dim=6, world_size=2,
            epochs=3, lr=3e-3, seed=9)
        return pdf, wide, roles, model

    def test_parity_with_inmemory_joint_fit(self, spark):
        import copy

        from caspr_spark.data.tensorize import transform_and_load
        from caspr_spark.dec import (fit_dec_joint,
                                     fit_dec_joint_distributed, kmeans_np)
        pdf, wide, roles, model = self._wide_and_model(spark)
        bundle = transform_and_load(pdf, roles, 4, keep_ids=False)
        Z0 = model.encode(bundle.seq_cat, bundle.seq_cont,
                          bundle.non_seq_cat, bundle.non_seq_cont)
        c0, _ = kmeans_np(Z0, 3, seed=11)
        mj = copy.deepcopy(model)
        mj, cj, hj = fit_dec_joint(mj, bundle, 3, lr_centers=0.3,
                                   lr_encoder=3e-3, epochs=5,
                                   init_centers=c0, tol=0.0,
                                   target_refresh=1)
        md = copy.deepcopy(model)
        md, cd, hd = fit_dec_joint_distributed(
            md, wide, roles, 4, 3, lr_centers=0.3, lr_encoder=3e-3,
            epochs=5, init_centers=c0, tol=0.0, target_refresh=1)
        assert len(hd) == len(hj)
        np.testing.assert_allclose(hd, hj, rtol=1e-8)
        np.testing.assert_allclose(cd, cj, rtol=1e-7, atol=1e-10)
        for k in mj.params:
            np.testing.assert_allclose(md.params[k], mj.params[k],
                                       rtol=1e-6, atol=1e-9, err_msg=k)

    def test_parity_holds_across_refresh_intervals(self, spark):
        """target_refresh > 1: the anchored map-side recomputation of
        each row's pinned target must reproduce fit_dec_joint's frozen
        full-p matrix exactly — no fixed-frequency approximation."""
        import copy

        from caspr_spark.data.tensorize import transform_and_load
        from caspr_spark.dec import (fit_dec_joint,
                                     fit_dec_joint_distributed, kmeans_np)
        pdf, wide, roles, model = self._wide_and_model(spark, n=120)
        bundle = transform_and_load(pdf, roles, 4, keep_ids=False)
        Z0 = model.encode(bundle.seq_cat, bundle.seq_cont,
                          bundle.non_seq_cat, bundle.non_seq_cont)
        c0, _ = kmeans_np(Z0, 3, seed=11)
        mj = copy.deepcopy(model)
        mj, cj, hj = fit_dec_joint(mj, bundle, 3, lr_centers=0.1,
                                   lr_encoder=3e-3, epochs=7,
                                   init_centers=c0, tol=0.0,
                                   target_refresh=3)
        md = copy.deepcopy(model)
        md, cd, hd = fit_dec_joint_distributed(
            md, wide, roles, 4, 3, lr_centers=0.1, lr_encoder=3e-3,
            epochs=7, init_centers=c0, tol=0.0, target_refresh=3)
        np.testing.assert_allclose(hd, hj, rtol=1e-8)
        np.testing.assert_allclose(cd, cj, rtol=1e-7, atol=1e-10)
        for k in mj.params:
            np.testing.assert_allclose(md.params[k], mj.params[k],
                                       rtol=1e-6, atol=1e-9, err_msg=k)

    def test_joint_beats_frozen_full_data(self, spark):
        """Same init, same fixed target (refresh > epochs), whole table:
        backpropagating into the encoder must reach strictly lower KL
        than centroid-only descent (lr_encoder=0 freezes the encoder
        inside the SAME machinery, so the comparison is clean)."""
        import copy

        from caspr_spark.dec import fit_dec_joint_distributed
        _, wide, roles, model = self._wide_and_model(spark)
        mf = copy.deepcopy(model)
        _, _, hf = fit_dec_joint_distributed(
            mf, wide, roles, 4, 3, lr_centers=0.1, lr_encoder=0.0,
            epochs=12, seed=11, tol=0.0, target_refresh=10**6)
        mj = copy.deepcopy(model)
        _, _, hj = fit_dec_joint_distributed(
            mj, wide, roles, 4, 3, lr_centers=0.1, lr_encoder=3e-3,
            epochs=12, seed=11, tol=0.0, target_refresh=10**6)
        assert hf[0] == hj[0]          # identical start (same seeded init)
        assert hf[-1] < hf[0]          # frozen half descends
        assert hj[-1] < hf[-1]         # joint reaches strictly lower KL
        for k in model.params:         # lr 0 really froze the encoder
            np.testing.assert_array_equal(mf.params[k], model.params[k])

    def test_fold_bounded_by_world_size(self, spark):
        """The joint fit's gradient partials are MODEL-SIZED blobs, one
        per partition of the relation it scans — so that relation must
        be hash-sharded to exactly world_size partitions regardless of
        how many partitions the input arrives in (the 100 TB input has
        10⁵-10⁶ of them; the driver fold must stay O(world_size x |θ|)),
        and the fit must still descend when input partitions >> world."""
        from pyspark.sql import functions as SF

        from caspr_spark.dec import _shard_by_ids, fit_dec_joint_distributed
        pdf, wide, roles, model = self._wide_and_model(spark, n=100)
        many = wide.repartition(16)
        ids = [SF.col(c).cast("string") for c in roles.tgt_id]
        assert _shard_by_ids(many, ids, 3).rdd.getNumPartitions() == 3
        assert _shard_by_ids(many, ids, 1).rdd.getNumPartitions() == 1
        _, _, hist = fit_dec_joint_distributed(
            model, many, roles, 4, 3, lr_centers=0.1, lr_encoder=3e-3,
            epochs=6, seed=11, tol=0.0, target_refresh=10**6,
            world_size=2)
        assert len(hist) == 6
        assert hist[-1] < hist[0]
        with pytest.raises(ValueError, match="world_size"):
            fit_dec_joint_distributed(model, many, roles, 4, 3,
                                      world_size=0)

    def test_caller_persisted_input_stays_cached(self, spark):
        """fit_dec_joint_distributed persists its OWN sharded copy; a
        caller-persisted input must still be cached afterwards (the r8
        advice: the old in-place persist/unpersist evicted the caller's
        cache between back-to-back calls)."""
        from caspr_spark.dec import fit_dec_joint_distributed
        _, wide, roles, model = self._wide_and_model(spark, n=100)
        cached = wide.persist()
        try:
            cached.count()
            fit_dec_joint_distributed(
                model, cached, roles, 4, 3, lr_centers=0.3,
                lr_encoder=3e-3, epochs=2, seed=11, world_size=2)
            assert cached.is_cached
        finally:
            cached.unpersist()

    def test_delta_label_stop_distributed(self, spark):
        """tol > 0 computes the cross-epoch label-change fraction (one
        extra encode under the previous state) and stops early once it
        falls below tol."""
        from caspr_spark.dec import fit_dec_joint_distributed
        _, wide, roles, model = self._wide_and_model(spark, n=100)
        _, _, hist = fit_dec_joint_distributed(
            model, wide, roles, 4, 3, lr_centers=1e-6, lr_encoder=1e-9,
            epochs=10, seed=11, tol=1.0, target_refresh=1)
        # vanishing steps -> labels never change -> stop at epoch 2
        assert len(hist) == 2


class TestShardBalance:
    def test_all_shards_populated(self, spark):
        """Regression: pre-modding the hash to 0..world-1 and letting
        repartition Murmur3 that tiny domain again COLLAPSED shards
        (world=2 put every row in one partition, world=8 filled 4) —
        the whole point of the world_size bound is world_size-way
        compute, so every partition must actually receive rows."""
        from pyspark.sql import functions as SF

        from caspr_spark.dec import _shard_by_ids
        df = spark.range(2000).select(
            SF.col("id").cast("string").alias("uid"))
        for w in (2, 4, 8):
            d = (_shard_by_ids(df, [SF.col("uid")], w)
                 .withColumn("p", SF.spark_partition_id()))
            counts = {r["p"]: r["c"] for r in
                      d.groupBy("p").agg(SF.count("*").alias("c"))
                       .collect()}
            assert len(counts) == w, counts          # every shard used
            assert min(counts.values()) > 0


class TestDecFitJobs:
    """The distributed DEC fits persist their input and let the first
    full pass fill that cache (the md5-ordered init sample, or the first
    frequency pass): no separate ``count()`` job. A 3-epoch fit on the
    test frames starts 2 jobs per epoch, plus the init sample's and, for
    the joint fit, the sharding aggregate's."""

    @pytest.mark.parametrize("init,jobs", [("given", 6), ("sampled", 9)])
    def test_centroid_fit_jobs(self, spark, job_group, init, jobs):
        from caspr_spark.dec import fit_dec_distributed, kmeans_np
        df, Z = TestDistributedFit()._df_and_Z(spark)
        c0 = kmeans_np(Z, 3, seed=11)[0] if init == "given" else None
        with job_group(f"dec-{init}") as rec:
            _, h = fit_dec_distributed(df, "embedding", k=3, lr=0.3,
                                       epochs=3, tol=0.0, init_centers=c0)
        assert len(h) == 3
        assert len(rec["jobs"]) == jobs, rec
        assert not rec["escaped"]

    @pytest.mark.parametrize("init,jobs", [("given", 8), ("sampled", 9)])
    def test_joint_fit_jobs(self, spark, job_group, init, jobs):
        from caspr_spark.dec import fit_dec_joint_distributed
        _, wide, roles, model = TestJointDecDistributed()._wide_and_model(
            spark, n=60)
        c0 = (np.zeros((3, 6)) + np.arange(3)[:, None] if init == "given"
              else None)
        with job_group(f"dec-joint-{init}") as rec:
            _, _, h = fit_dec_joint_distributed(
                model, wide, roles, 4, 3, lr_centers=0.3, lr_encoder=3e-3,
                epochs=3, init_centers=c0, tol=0.0)
        assert len(h) == 3
        assert len(rec["jobs"]) == jobs, rec
        assert not rec["escaped"]
