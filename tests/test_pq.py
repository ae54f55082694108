"""Product quantization (llm/pq.py): codebook fit, encode/decode error,
ADC search agreement with exact distances."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from caspr_spark.llm.pq import fit_pq, pq_decode, pq_encode, pq_search


@pytest.fixture(scope="module")
def emb(spark):
    # 3 well-separated clusters in 8-dim so tiny KMeans recovers them
    rng = np.random.default_rng(4)
    centers = rng.normal(0, 5, size=(3, 8))
    rows = []
    for i in range(90):
        v = centers[i % 3] + rng.normal(0, 0.05, size=8)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class TestFitEncode:
    def test_codes_shape_and_range(self, spark, emb):
        cb = fit_pq(emb, dim=8, m=4, k=4)
        assert cb.shape == (4, 4, 2)
        out = pq_encode(emb, cb).collect()
        for r in out:
            assert len(r.pq_codes) == 4
            assert all(0 <= c < 4 for c in r.pq_codes)

    def test_fit_deterministic_same_layout(self, spark, emb):
        # MLlib KMeans init samples per-partition, so determinism holds
        # for a fixed data layout (same contract as kmeans_segment);
        # the lexicographic codebook sort removes center-ID ambiguity
        a = fit_pq(emb, dim=8, m=4, k=4)
        b = fit_pq(emb, dim=8, m=4, k=4)
        np.testing.assert_allclose(a, b, atol=1e-6)

    def test_reconstruction_beats_random_codebooks(self, spark, emb):
        cb = fit_pq(emb, dim=8, m=4, k=4)
        rng = np.random.default_rng(0)
        rand_cb = rng.normal(0, 5, size=cb.shape)

        def err(codebooks):
            enc = pq_encode(emb, codebooks)
            dec = pq_decode(enc, codebooks)
            d = dec.select(F.aggregate(
                F.zip_with("embedding", "pq_reconstructed",
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("se"))
            return d.agg(F.sum("se")).first()[0]
        assert err(cb) < err(rand_cb) * 0.2

    def test_fit_jobs_carry_job_group(self, spark, emb, job_group):
        """The concurrent subspace fits run on pool threads; each job
        they start carries the caller's job group."""
        with job_group("pq-fit") as rec:
            fit_pq(emb, dim=8, m=2, k=4)
        assert rec["jobs"]
        assert rec["escaped"] == []

    def test_validation(self, spark, emb):
        with pytest.raises(ValueError, match="divide"):
            fit_pq(emb, dim=8, m=3, k=4)
        with pytest.raises(ValueError, match="k must"):
            fit_pq(emb, dim=8, m=4, k=1000)


class TestAdcSearch:
    def test_adc_topk_matches_exact_on_separated_data(self, spark, emb):
        cb = fit_pq(emb, dim=8, m=4, k=8)
        enc = pq_encode(emb, cb)
        pdf = emb.toPandas()
        q = np.asarray(pdf.embedding.iloc[5])
        got = [r.vec_id for r in pq_search(enc, q, cb, top_k=5).collect()]
        X = np.vstack(pdf.embedding)
        exact = list(pdf.vec_id.iloc[
            np.argsort(((X - q) ** 2).sum(axis=1), kind="stable")][:30])
        # with near-duplicate cluster members ADC can permute ranks
        # inside a cluster, but the top-5 must come from the query's
        # own cluster (the exact top-30 here, cluster size 30)
        assert set(got) <= set(exact)
        assert got[0] == 5  # the query itself is its own nearest

    def test_query_dim_validation(self, spark, emb):
        cb = fit_pq(emb, dim=8, m=4, k=4)
        enc = pq_encode(emb, cb)
        with pytest.raises(ValueError, match="dim"):
            pq_search(enc, np.zeros(5), cb)


class TestFixedCodebookCertificate:
    """The simsearch_pq_fixed certificate's local half: with codebook
    literals pinned, encode is pure argmin arithmetic — recompute it
    in plain python (third engine) and require equality."""

    def test_encode_matches_python_argmin(self, spark, emb):
        # conftest.py puts the repo root on sys.path — import directly,
        # like test_extensions.py (no hardcoded checkout path)
        from __spark_entry__ import _pq_fixed_cb
        cb, _ = _pq_fixed_cb(m=4, k=4, dsub=2)
        got = {r.vec_id: list(r.pq_codes)
               for r in pq_encode(emb, cb).collect()}
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in emb.collect()}
        for vid, x in vecs.items():
            expect = [int(((cb[j] - x[2 * j:2 * j + 2]) ** 2)
                          .sum(axis=1).argmin()) for j in range(4)]
            assert got[vid] == expect, vid

    def test_adc_sum_order_matches_search(self, spark, emb):
        """pq_search's d += loop accumulates the table entries in
        subspace order; the SQL twin relies on that order being
        left-associative — pin it against an explicit left fold."""
        from __spark_entry__ import _pq_fixed_cb
        cb, _ = _pq_fixed_cb(m=4, k=4, dsub=2)
        q = np.arange(8, dtype=np.float64) / 7.0
        table = np.stack([((cb[j] - q[2 * j:2 * j + 2]) ** 2).sum(axis=1)
                          for j in range(4)])
        enc = pq_encode(emb, cb)
        got = {r.vec_id: r.adc_distance
               for r in pq_search(enc, q, cb, top_k=90).collect()}
        codes = {r.vec_id: list(r.pq_codes) for r in enc.collect()}
        for vid, c in codes.items():
            acc = 0.0
            for j in range(4):
                acc += float(table[j][c[j]])
            assert got[vid] == round(acc, 6), vid
