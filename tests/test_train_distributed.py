"""Distributed deep-autoencoder training: parity, streaming-shard math,
and the distributed embedding-variance probe.

The contract under test (caspr/utils/spark/large/train.py:114-183
semantics, torch-free): per-shard gradients computed inside mapInPandas,
weighted-allreduced on the driver, one Adam step per epoch on the shared
parameters, consensus early stop — and the resulting trajectory equals
the single-process full-batch fit up to float summation order for ANY
world size, because every loss term is a mean whose normalizer is
proportional to shard row count.
"""

import numpy as np
import pandas as pd
import pytest

from caspr_spark.data.tensorize import TensorBundle, transform_and_load
from caspr_spark.roles import ColumnRoles
from caspr_spark.train_distributed import (encode_variance,
                                           fit_deep_autoencoder_ddp,
                                           fit_deep_autoencoder_local)


def _wide_pdf(n=240, t=4, seed=0):
    rng = np.random.default_rng(seed)
    data = {"user_id": np.arange(n)}
    for s in range(1, t + 1):
        data[f"{s}_event_type"] = rng.integers(0, 5, n)
        data[f"{s}_value"] = rng.normal(0, 1, n).round(3)
    return pd.DataFrame(data)


ROLES = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                    cat_cols=["event_type"], cont_cols=["value"],
                    seq_cols=["event_type", "value"], non_seq_cols=[],
                    output_cols=[])


class TestDeepDdpParity:
    @pytest.mark.parametrize("arch", ["mlp", "lstm", "lstm_attention",
                                      "transformer"])
    def test_world4_matches_local_fullbatch(self, spark, arch):
        """DDP world 4 == single-process full-batch fit: same loss
        history length, allclose trajectories, allclose final params —
        the distributed gradient IS the global gradient."""
        pdf = _wide_pdf()
        wide = spark.createDataFrame(pdf)
        m_ddp, h_ddp = fit_deep_autoencoder_ddp(
            wide, ROLES, 4, arch=arch, hidden_dim=6, world_size=4,
            epochs=5, lr=3e-3, seed=9)
        bundle = transform_and_load(pdf, ROLES, 4)
        m_loc, h_loc = fit_deep_autoencoder_local(
            bundle, arch=arch, hidden_dim=6, epochs=5, lr=3e-3, seed=9)
        assert len(h_ddp) == len(h_loc)
        np.testing.assert_allclose(h_ddp, h_loc, rtol=1e-8)
        for k in m_loc.params:
            np.testing.assert_allclose(m_ddp.params[k], m_loc.params[k],
                                       rtol=1e-6, atol=1e-9, err_msg=k)

    def test_world_sizes_agree(self, spark):
        """Sharding is math-transparent: world 1 and world 4 produce the
        same parameters (weighted allreduce over any partition of the
        rows rebuilds the identical global mean gradient)."""
        wide = spark.createDataFrame(_wide_pdf())
        m1, h1 = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="lstm",
                                          hidden_dim=6, world_size=1,
                                          epochs=4, lr=3e-3, seed=9)
        m4, h4 = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="lstm",
                                          hidden_dim=6, world_size=4,
                                          epochs=4, lr=3e-3, seed=9)
        np.testing.assert_allclose(h1, h4, rtol=1e-8)
        for k in m1.params:
            np.testing.assert_allclose(m1.params[k], m4.params[k],
                                       rtol=1e-6, atol=1e-9)

    def test_loss_decreases(self, spark):
        wide = spark.createDataFrame(_wide_pdf())
        _, hist = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="mlp",
                                           hidden_dim=6, world_size=4,
                                           epochs=8, lr=3e-3, seed=9)
        assert min(hist) < hist[0]

    def test_arch_validation(self, spark):
        wide = spark.createDataFrame(_wide_pdf(n=20))
        with pytest.raises(ValueError, match="arch"):
            fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="gru")
        with pytest.raises(ValueError, match="unknown arch kwargs"):
            fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="lstm",
                                     bogus=1)


class TestEncodeVariance:
    def test_matches_local_moments(self, spark):
        pdf = _wide_pdf()
        wide = spark.createDataFrame(pdf)
        model, _ = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="mlp",
                                            hidden_dim=6, world_size=2,
                                            epochs=3, lr=3e-3, seed=9)
        got = encode_variance(model, wide, ROLES, 4)
        bundle = transform_and_load(pdf, ROLES, 4)
        emb = model.encode(bundle.seq_cat, bundle.seq_cont,
                           bundle.non_seq_cat, bundle.non_seq_cont)
        # population variance (ddof=0), matching the moment-sum fold
        want = float(emb.var(axis=0).mean())
        assert got == pytest.approx(want, rel=1e-9)


class TestVocabFromWide:
    def test_global_vocab_matches_bundle(self, spark):
        from caspr_spark.train_distributed import _read_vocab, _vocab_aggs
        pdf = _wide_pdf()
        row = spark.createDataFrame(pdf).agg(*_vocab_aggs(ROLES, 4)).collect()[0]
        sv, nv = _read_vocab(row, ROLES, 4)
        bundle = transform_and_load(pdf, ROLES, 4)
        want = [max(int(bundle.seq_cat[..., i].max()) + 1, 2)
                for i in range(bundle.seq_cat.shape[-1])]
        assert sv == want and nv == []


class TestDistributedAttribution:
    def test_summary_matches_local_kernels(self, spark):
        from caspr_spark.models.attribution import (
            attribution_summary_distributed, deeplift, feature_names,
            gradient_x_input, integrated_gradients)
        pdf = _wide_pdf()
        wide = spark.createDataFrame(pdf)
        model, _ = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="mlp",
                                            hidden_dim=6, world_size=2,
                                            epochs=3, lr=3e-3, seed=9)
        names, gxi, ig, dl, ig_res, dl_res, n = \
            attribution_summary_distributed(model, wide, ROLES, 4, steps=16)
        bundle = transform_and_load(pdf, ROLES, 4)
        assert n == len(bundle)
        assert names == feature_names(model, bundle)
        l_gxi = np.abs(gradient_x_input(model, bundle, 0)).mean(axis=0)
        l_ig, l_delta = integrated_gradients(model, bundle, 0, steps=16)
        l_dl, l_dld = deeplift(model, bundle, 0)
        np.testing.assert_allclose(gxi, l_gxi, rtol=1e-9)
        np.testing.assert_allclose(ig, np.abs(l_ig).mean(axis=0), rtol=1e-9)
        np.testing.assert_allclose(dl, np.abs(l_dl).mean(axis=0), rtol=1e-9)
        assert ig_res == pytest.approx(
            float(np.abs(l_ig.sum(axis=1) - l_delta).max()), rel=1e-6)
        assert dl_res == pytest.approx(
            float(np.abs(l_dl.sum(axis=1) - l_dld).max()), rel=1e-6, abs=1e-12)


class TestSgdMode:
    """Minibatch/local-SGD mode (fit_deep_autoencoder_sgd): the
    reference's BATCH_SIZE=32768 stochastic path (caspr/utils/spark/
    large/train.py:35,152-183) re-expressed as per-shard streamed
    minibatch Adam steps + weighted parameter averaging per scan."""

    def _sorted_pdf(self, pdf):
        """Rows in the order a single shard streams them: sorted by
        md5(cast(user_id as string)) — Spark's sortWithinPartitions key."""
        import hashlib
        h = [hashlib.md5(str(int(u)).encode()).hexdigest()
             for u in pdf["user_id"]]
        return pdf.assign(__h=h).sort_values("__h").drop(columns="__h") \
                  .reset_index(drop=True)

    def test_deterministic(self, spark):
        from caspr_spark.train_distributed import fit_deep_autoencoder_sgd
        wide = spark.createDataFrame(_wide_pdf())
        m_a, h_a = fit_deep_autoencoder_sgd(
            wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=3,
            epochs=3, batch_size=32, lr=3e-3, seed=9)
        m_b, h_b = fit_deep_autoencoder_sgd(
            wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=3,
            epochs=3, batch_size=32, lr=3e-3, seed=9)
        assert h_a == h_b
        for k in m_a.params:
            np.testing.assert_array_equal(m_a.params[k], m_b.params[k])

    def test_world1_matches_sequential_minibatch(self, spark):
        """world_size=1 IS sequential minibatch SGD over the md5-sorted
        rows: the distributed fit must equal the in-memory twin fed the
        same order, batch for batch."""
        from caspr_spark.train_distributed import (
            fit_deep_autoencoder_sgd, fit_deep_autoencoder_sgd_local)
        pdf = _wide_pdf()
        wide = spark.createDataFrame(pdf)
        m_d, h_d = fit_deep_autoencoder_sgd(
            wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=1,
            epochs=3, batch_size=64, lr=3e-3, seed=9)
        bundle = transform_and_load(self._sorted_pdf(pdf), ROLES, 4)
        m_l, h_l = fit_deep_autoencoder_sgd_local(
            bundle, arch="mlp", hidden_dim=6, epochs=3, batch_size=64,
            lr=3e-3, seed=9)
        assert len(h_d) == len(h_l)
        np.testing.assert_allclose(h_d, h_l, rtol=1e-9)
        for k in m_l.params:
            np.testing.assert_allclose(m_d.params[k], m_l.params[k],
                                       rtol=1e-8, atol=1e-11, err_msg=k)

    def test_beats_fullbatch_at_equal_scans(self, spark):
        """At the SAME number of table scans (epochs), many small steps
        per scan reach a lower full-data loss than one step per scan —
        the convergence-per-IO property the mode exists for."""
        from caspr_spark.train_distributed import (
            evaluate_loss, fit_deep_autoencoder_sgd)
        wide = spark.createDataFrame(_wide_pdf())
        scans = 4
        m_fb, _ = fit_deep_autoencoder_ddp(
            wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=2,
            epochs=scans, lr=3e-3, seed=9)
        m_sgd, _ = fit_deep_autoencoder_sgd(
            wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=2,
            epochs=scans, batch_size=16, lr=3e-3, seed=9)
        l_fb = evaluate_loss(m_fb, wide, ROLES, 4)
        l_sgd = evaluate_loss(m_sgd, wide, ROLES, 4)
        assert l_sgd < l_fb

    def test_world_counts_both_converge(self, spark):
        """Local SGD is not shard-count invariant (the batch partition
        changes), but every world size must still descend: final
        streaming loss below the first epoch's for 2 and 4 shards."""
        from caspr_spark.train_distributed import fit_deep_autoencoder_sgd
        wide = spark.createDataFrame(_wide_pdf())
        for ws in (2, 4):
            _, hist = fit_deep_autoencoder_sgd(
                wide, ROLES, 4, arch="mlp", hidden_dim=6, world_size=ws,
                epochs=4, batch_size=32, lr=3e-3, seed=9)
            assert hist[-1] < hist[0], ws

    def test_batch_size_validation(self, spark):
        from caspr_spark.train_distributed import fit_deep_autoencoder_sgd
        wide = spark.createDataFrame(_wide_pdf(n=20))
        with pytest.raises(ValueError, match="batch_size"):
            fit_deep_autoencoder_sgd(wide, ROLES, 4, batch_size=0)


class TestEvaluateLoss:
    def test_matches_local_forward(self, spark):
        from caspr_spark.train_distributed import evaluate_loss
        pdf = _wide_pdf(n=120)
        wide = spark.createDataFrame(pdf)
        model, _ = fit_deep_autoencoder_ddp(wide, ROLES, 4, arch="mlp",
                                            hidden_dim=6, world_size=2,
                                            epochs=2, lr=3e-3, seed=9)
        got = evaluate_loss(model, wide, ROLES, 4)
        bundle = transform_and_load(pdf, ROLES, 4)
        assert got == pytest.approx(model.loss(bundle), rel=1e-9)


class TestShardedFitJobs:
    """The sharded fits persist their shards and fill that cache with the
    vocab aggregate: no separate vocab query over the input, no separate
    ``count()``. A 3-epoch fit of the test frame starts 7 jobs: 3 epochs
    plus 4 for the aggregate that builds the shards (9 when the vocab
    query and the cache fill were separate)."""

    @pytest.mark.parametrize("mode,jobs", [("ddp", 7), ("sgd", 7)])
    def test_three_epoch_fit_jobs(self, spark, job_group, mode, jobs):
        from caspr_spark.train_distributed import fit_deep_autoencoder_sgd
        wide = spark.createDataFrame(_wide_pdf(n=60))
        fit = (fit_deep_autoencoder_ddp if mode == "ddp"
               else fit_deep_autoencoder_sgd)
        with job_group(f"fit-{mode}") as rec:
            _, hist = fit(wide, ROLES, 4, arch="mlp", hidden_dim=4,
                          world_size=2, epochs=3, lr=3e-3, seed=9)
        assert len(hist) == 3
        assert len(rec["jobs"]) == jobs, rec
        assert not rec["escaped"]


def test_one_map_in_pandas_call():
    """Every Python-worker pass of training, attribution and DEC goes
    through ``train_distributed._fold_partitions``."""
    import pathlib
    import re
    pkg = pathlib.Path(__file__).resolve().parent.parent / "caspr_spark"
    hits = []
    for rel in ("train_distributed.py", "dec.py", "models/attribution.py"):
        for i, line in enumerate((pkg / rel).read_text().splitlines(), 1):
            if re.search(r"\bmapInPandas\(", line):
                hits.append(f"{rel}:{i}")
    assert len(hits) == 1 and hits[0].startswith("train_distributed.py:"), hits


class TestEntryPoolSession:
    """The parity queries overlap two fits on a pool thread; the wrapper
    is given the session, so the thread inherits the caller's tags and
    PySpark does not warn that they are lost."""

    @pytest.mark.parametrize("name", ["train_linear_ae_ddp", "train_ae_ddp"])
    def test_no_session_warning(self, spark, name):
        import warnings

        import __spark_entry__ as entry
        from conftest import SF_DIR
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            entry.queries()[name](spark, SF_DIR).collect()
        lost = [w for w in caught
                if "Spark session is not provided" in str(w.message)]
        assert not lost
