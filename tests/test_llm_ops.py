"""Tests for the LLM-data-pipeline operators, with pandas/python oracles."""

import itertools

import pytest
from pyspark.sql import functions as F

from caspr_spark.llm.dedup import (
    exact_dedup, minhash_signatures, minhash_lsh_dedup, simhash,
    simhash_near_pairs, ngram_jaccard_pairs,
)
from caspr_spark.llm.similarity import (
    cosine_topk, cosine_topk_lsh, add_lsh_bucket, embedding_near_duplicates,
)
from caspr_spark.llm.text import (
    add_token_counts, add_quality_signals, add_language_id, add_fingerprint,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (3, "The  quick brown fox   jumps over the lazy dog"),       # ws/case dup
        (4, "the quick brown fox jumps over the sleepy dog"),        # near dup
        (5, "completely different words entirely here now folks yes"),
        (6, "el rapido zorro marron salta sobre el perro perezoso"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


class TestExactDedup:
    def test_normalized(self, dup_docs):
        kept = {r["doc_id"] for r in exact_dedup(dup_docs).select("doc_id").collect()}
        assert kept == {1, 4, 5, 6}

    def test_raw(self, dup_docs):
        kept = {r["doc_id"] for r in
                exact_dedup(dup_docs, normalize=False).select("doc_id").collect()}
        assert kept == {1, 3, 4, 5, 6}


def _py_shingles(text, k=3):
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _py_jaccard(a, b):
    return len(a & b) / len(a | b)


class TestMinHash:
    def test_signature_shape_and_determinism(self, dup_docs):
        s1 = minhash_signatures(dup_docs).orderBy("doc_id").collect()
        s2 = minhash_signatures(dup_docs).orderBy("doc_id").collect()
        assert all(len(r["minhash"]) == 64 for r in s1)
        assert [r["minhash"] for r in s1] == [r["minhash"] for r in s2]

    @pytest.mark.parametrize("hash_family", ["fast", "portable"])
    @pytest.mark.parametrize("num_hashes", [16, 64])
    def test_signatures_match_per_slot_reference(self, spark, dup_docs,
                                                 hash_family, num_hashes):
        """The one-expression slot aggregate equals the per-slot
        construction (one aliased ``min`` Column per slot, re-selected
        into an array) value for value, on both families — the fast
        family has no DuckDB twin, so nothing else pins its values.
        Null, empty, whitespace-only and shorter-than-k texts included."""
        from caspr_spark.llm.dedup import (_MERSENNE31, _base_hash_pair,
                                           _shingles)
        edge = spark.createDataFrame(
            [(7, None), (8, ""), (9, "   "), (10, "word"),
             (11, "two words"), (12, "three words here")],
            "doc_id long, text string")
        docs = dup_docs.unionByName(edge)
        p = F.lit(_MERSENNE31)
        h1, h2 = _base_hash_pair(F.col("__s"), hash_family)
        hashed = (docs.select("doc_id", F.explode(_shingles("text", 3))
                              .alias("__s"))
                  .select("doc_id", h1.alias("__h1"), h2.alias("__h2")))
        mins = [F.min(F.pmod(F.col("__h1") + i * F.col("__h2"), p))
                .alias(f"__m{i}") for i in range(num_hashes)]
        ref = (hashed.groupBy("doc_id").agg(*mins)
               .select("doc_id", F.array(*[f"__m{i}"
                                           for i in range(num_hashes)])
                       .alias("sig")))
        got = minhash_signatures(docs, num_hashes=num_hashes, sig_col="sig",
                                 hash_family=hash_family)
        assert got.dtypes == [("doc_id", "bigint"), ("sig", "array<bigint>")]
        want = {r.doc_id: r.sig for r in ref.collect()}
        assert {r.doc_id: r.sig for r in got.collect()} == want
        assert len(want) == 12

    def test_identical_docs_identical_sigs(self, dup_docs):
        sigs = {r["doc_id"]: r["minhash"]
                for r in minhash_signatures(dup_docs).collect()}
        assert sigs[1] == sigs[2] == sigs[3]
        assert sigs[1] != sigs[5]

    def test_lsh_finds_near_dups(self, dup_docs):
        dedup, pairs = minhash_lsh_dedup(dup_docs, threshold=0.4)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert (1, 2) in got and got[(1, 2)] == 1.0
        assert (1, 3) in got
        # near-dup pair 1-4 shares 4/10 shingles (jaccard 2/3 at the ends)
        expected = _py_jaccard(_py_shingles(
            "the quick brown fox jumps over the lazy dog"),
            _py_shingles("the quick brown fox jumps over the sleepy dog"))
        if (1, 4) in got:
            assert got[(1, 4)] == pytest.approx(expected)
        # survivors: every id without a lower-id match
        kept = {r["doc_id"] for r in dedup.select("doc_id").collect()}
        assert 1 in kept and 2 not in kept and 3 not in kept
        assert {5, 6}.issubset(kept)

    def test_jaccard_matches_python_oracle(self, documents):
        pairs = ngram_jaccard_pairs(documents, threshold=0.15).collect()
        texts = {r["doc_id"]: r["text"]
                 for r in documents.select("doc_id", "text").collect()}
        assert pairs, "expected at least one candidate pair in testdata"
        for r in pairs[:20]:
            expect = _py_jaccard(_py_shingles(texts[r["id_a"]]),
                                 _py_shingles(texts[r["id_b"]]))
            assert r["jaccard"] == pytest.approx(expect)

    def test_portable_signatures_match_hashlib(self, dup_docs):
        """The portable family's whole point is engine-reproducibility:
        recompute slot minima with pure-python hashlib.md5 (a third
        engine, independent of both Spark and the DuckDB oracle) and
        require equality."""
        import hashlib
        p = 2147483647

        def md5_60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        texts = {r["doc_id"]: r["text"]
                 for r in dup_docs.select("doc_id", "text").collect()}
        sigs = {r["doc_id"]: r["minhash"]
                for r in minhash_signatures(
                    dup_docs, num_hashes=8,
                    hash_family="portable").collect()}
        for doc_id, text in texts.items():
            hs = [(md5_60(s) % p, md5_60("1|" + s) % p)
                  for s in _py_shingles(text)]
            expect = [min((h1 + i * h2) % p for h1, h2 in hs)
                      for i in range(8)]
            assert sigs[doc_id] == expect, doc_id

    def test_portable_lsh_verified_pairs(self, dup_docs):
        """Exact-Jaccard verification is family-independent: any pair
        the portable banding surfaces must carry the same jaccard the
        python oracle computes, and exact dups must always collide
        (identical signatures regardless of family)."""
        texts = {r["doc_id"]: r["text"]
                 for r in dup_docs.select("doc_id", "text").collect()}
        dedup, pairs = minhash_lsh_dedup(dup_docs, num_hashes=16, bands=8,
                                         threshold=0.4,
                                         hash_family="portable")
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert (1, 2) in got and got[(1, 2)] == 1.0
        for (a, b), j in got.items():
            assert j == pytest.approx(_py_jaccard(
                _py_shingles(texts[a]), _py_shingles(texts[b])))
        kept = {r["doc_id"] for r in dedup.select("doc_id").collect()}
        assert 1 in kept and 2 not in kept

    def test_unknown_hash_family_raises(self, dup_docs):
        with pytest.raises(ValueError, match="hash_family"):
            minhash_signatures(dup_docs, hash_family="sha512")


class TestSimHash:
    def test_identical_hash_for_dups(self, dup_docs):
        fps = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs).collect()}
        assert fps[1] == fps[2]
        assert fps[1] != fps[5]

    def test_near_pairs(self, dup_docs):
        fps = simhash(dup_docs)
        pairs = simhash_near_pairs(fps, max_hamming=20, chunks=32)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (1, 2) in got

    def test_python_oracle(self, spark):
        import pyspark.sql.functions as F
        df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
        fp = simhash(df).collect()[0]["simhash"]
        toks = "alpha beta gamma".split()
        hs = [df.sparkSession.sql(
            f"SELECT xxhash64('{t}')").collect()[0][0] for t in toks]
        expect = 0
        for b in range(63):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                expect |= 1 << b
        assert fp == expect

    def test_portable_matches_hashlib(self, dup_docs):
        """Portable-family fingerprints recomputed with pure-python
        hashlib.md5 — a third engine, independent of both Spark and
        the DuckDB oracle."""
        import hashlib
        texts = {r["doc_id"]: r["text"]
                 for r in dup_docs.select("doc_id", "text").collect()}
        fps = {r["doc_id"]: r["simhash"]
               for r in simhash(dup_docs, bits=60,
                                hash_family="portable").collect()}
        for doc_id, text in texts.items():
            hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                  for t in text.lower().split()]
            expect = 0
            for b in range(60):
                if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
                    expect |= 1 << b
            assert fps[doc_id] == expect, doc_id

    @pytest.mark.parametrize("hash_family,bits",
                             [("fast", 63), ("fast", 20), ("portable", 60)])
    def test_matches_per_bit_reference(self, spark, dup_docs, hash_family,
                                       bits):
        """The two one-expression builds (lane sums, fingerprint) equal a
        per-bit construction: one ±1 vote-sum aggregate per bit, one
        ``when`` term per bit — bit for bit, on both families. Null,
        empty, whitespace-only and one-word texts included."""
        from caspr_spark.llm.dedup import _md5_60
        edge = spark.createDataFrame(
            [(7, None), (8, ""), (9, "   "), (10, "word"),
             (11, "Two  words")], "doc_id long, text string")
        docs = dup_docs.unionByName(edge)
        toks = docs.select("doc_id", F.explode(F.split(
            F.lower(F.trim("text")), r"\s+")).alias("t"))
        h = F.xxhash64("t") if hash_family == "fast" else _md5_60(F.col("t"))
        hashed = toks.select("doc_id", h.alias("h"))
        votes = hashed.groupBy("doc_id").agg(*[
            F.sum(F.when(F.shiftright("h", b).bitwiseAND(1) == 1, 1)
                  .otherwise(-1)).alias(f"v{b}") for b in range(bits)])
        ref = {r["doc_id"]: sum(1 << b for b in range(bits)
                                if r[f"v{b}"] > 0)
               for r in votes.collect()}
        got = simhash(docs, bits=bits, hash_family=hash_family)
        assert got.dtypes == [("doc_id", "bigint"), ("simhash", "bigint")]
        assert {r["doc_id"]: r["simhash"] for r in got.collect()} == ref
        assert len(ref) == 10   # the null text explodes to no token

    def test_portable_bit_and_family_validation(self, dup_docs):
        with pytest.raises(ValueError, match="60 hash bits"):
            simhash(dup_docs, bits=63, hash_family="portable")
        with pytest.raises(ValueError, match="hash_family"):
            simhash(dup_docs, hash_family="blake3")


class TestSimilarity:
    def test_topk_matches_numpy(self, embeddings):
        import numpy as np
        out = cosine_topk(embeddings, embeddings.filter("vec_id < 3"), k=4)
        got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()}
        pdf = embeddings.select("vec_id", "embedding").toPandas()
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v))).astype("float64")
        ids = pdf["vec_id"].to_numpy()
        for q in range(3):
            qi = list(ids).index(q)
            sims = mat @ mat[qi] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[qi]))
            order = sorted(
                [(round(s, 6), i) for s, i in zip(sims, ids) if i != q],
                key=lambda t: (-t[0], t[1]))
            for rank in range(1, 5):
                assert got[(q, rank)] == order[rank - 1][1]

    def test_lsh_bucket_deterministic(self, embeddings):
        b1 = add_lsh_bucket(embeddings).select("vec_id", "lsh_bucket").collect()
        b2 = add_lsh_bucket(embeddings).select("vec_id", "lsh_bucket").collect()
        assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
        assert all(0 <= r["lsh_bucket"] < 256 for r in b1)

    def test_lsh_topk_subset_of_exact_corpus(self, embeddings):
        out = cosine_topk_lsh(embeddings, embeddings.filter("vec_id < 2"), k=3)
        rows = out.collect()
        assert all(r["rank"] <= 3 for r in rows)
        # recall sanity: rank-1 LSH neighbor should be among exact top-10
        exact = cosine_topk(embeddings, embeddings.filter("vec_id < 2"), k=10)
        exact_ids = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
        top1 = [(r["query_id"], r["vec_id"]) for r in rows if r["rank"] == 1]
        hits = sum(1 for t in top1 if t in exact_ids)
        assert hits >= 1

    def test_near_duplicates_symmetric_threshold(self, embeddings):
        pairs = embedding_near_duplicates(embeddings, threshold=0.5, n_planes=2)
        for r in pairs.collect():
            assert r["id_a"] < r["id_b"] and r["cosine"] >= 0.5

    def test_lsh_plan_scaling(self):
        from caspr_spark.llm.similarity import lsh_plan
        # planes grow log2 with corpus so expected bucket size stays bounded
        p_small, _ = lsh_plan(2_000, threshold=0.3)
        p_big, _ = lsh_plan(10**9, threshold=0.9)
        assert p_small == 4 and p_big >= 20
        # high-similarity targets need few tables even at many planes;
        # low-similarity targets honestly report needing more tables
        _, t_easy = lsh_plan(10**6, threshold=0.95, n_planes=20)
        _, t_hard = lsh_plan(10**6, threshold=0.3, n_planes=20)
        assert t_easy < t_hard

    def test_lsh_plan_warns_when_max_tables_clamps(self):
        import warnings as w
        from caspr_spark.llm.similarity import lsh_plan
        # threshold 0.3 at 23 planes needs far more than 64 OR-ed tables
        # for 0.9 recall — the clamp must warn with the achieved estimate
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            _, n_tables = lsh_plan(10**9, threshold=0.3, n_planes=23)
        assert n_tables == 64
        assert any("recall target" in str(c.message) for c in caught)
        # an easy plan must NOT warn
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            lsh_plan(500, threshold=0.45, n_planes=4)
        assert not caught

    def test_multi_table_recall_monotone(self, embeddings):
        """OR-amplification: more tables can only add candidate pairs."""
        one = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(
            embeddings, threshold=0.3, n_planes=4, n_tables=1).collect()}
        four = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(
            embeddings, threshold=0.3, n_planes=4, n_tables=4).collect()}
        assert one <= four

    def test_packed_layout_identical_to_array(self, embeddings):
        """The bit-packed bucket layout is a pure physical optimization:
        same planes, same buckets, same first-collision dedup — so the
        output must be row-identical to the array layout for both the
        self-join (near-dup) and the query-probe (top-k) shapes."""
        arr = embedding_near_duplicates(embeddings, threshold=0.45,
                                        n_planes=4, n_tables=12,
                                        packed=False) \
            .orderBy("id_a", "id_b").collect()
        pk = embedding_near_duplicates(embeddings, threshold=0.45,
                                       n_planes=4, n_tables=12,
                                       packed=True) \
            .orderBy("id_a", "id_b").collect()
        assert arr == pk
        q = embeddings.filter("vec_id < 3")
        arr2 = cosine_topk_lsh(embeddings, q, 5, n_planes=4, n_tables=12,
                               packed=False).orderBy("query_id", "rank") \
            .collect()
        pk2 = cosine_topk_lsh(embeddings, q, 5, n_planes=4, n_tables=12,
                              packed=True).orderBy("query_id", "rank") \
            .collect()
        assert arr2 == pk2

    def test_packed_layout_rejects_overflow(self, embeddings):
        from caspr_spark.llm.similarity import add_lsh_buckets_packed
        with pytest.raises(ValueError, match="does not fit"):
            add_lsh_buckets_packed(embeddings, "embedding", 64,
                                   n_planes=8, n_tables=8)


@pytest.mark.slow
class TestLshRecallSf01:
    """The scale gate for the ANN path: recall@10 >= 0.9 at sf0.1 with the
    lsh_plan-sized index, and bucket sizes bounded well below the corpus."""

    SF_DIR = "/root/testdata/sf0.1"

    @pytest.fixture(scope="class")
    def emb01(self, spark):
        import os
        path = f"{self.SF_DIR}/embeddings.parquet"
        if not os.path.exists(path):
            pytest.skip("sf0.1 testdata not present")
        from caspr_spark.sources import read_parquet_table
        return read_parquet_table(spark, path).cache()

    def test_recall_at_10(self, emb01):
        import numpy as np
        from caspr_spark.llm.similarity import lsh_plan
        pdf = emb01.select("vec_id", "embedding").toPandas()
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].map(np.asarray)).astype("float64")
        n = len(ids)
        n_planes, n_tables = lsh_plan(n, threshold=0.3, target_recall=0.9)

        n_queries = 200
        out = cosine_topk_lsh(emb01, emb01.filter(f"vec_id < {n_queries}"),
                              k=10, dim=64, n_planes=n_planes,
                              n_tables=n_tables, n_corpus=n)
        got = {}
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])

        # exact top-10 with the same 6dp rounding + id tiebreak
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mn @ mn.T
        order = dict(zip(ids, range(n)))
        hits = total = 0
        for q in range(n_queries):
            qi = order[q]
            ranked = sorted(((round(sims[qi, j], 6), ids[j])
                             for j in range(n) if ids[j] != q),
                            key=lambda t: (-t[0], t[1]))[:10]
            truth = {i for _, i in ranked}
            hits += len(truth & got.get(q, set()))
            total += 10
        assert hits / total >= 0.9, f"recall@10 = {hits / total:.3f}"

    def test_bucket_sizes_bounded(self, emb01):
        from caspr_spark.llm.similarity import add_lsh_buckets, lsh_plan
        n = emb01.count()
        n_planes, n_tables = lsh_plan(n, threshold=0.3)
        b = add_lsh_buckets(emb01, "embedding", 64, n_planes, n_tables)
        sizes = (b.select(F.posexplode("lsh_buckets").alias("t", "bkt"))
                  .groupBy("t", "bkt").count())
        max_bucket = sizes.agg(F.max("count")).collect()[0][0]
        assert max_bucket <= n / 4, f"max bucket {max_bucket} of {n}"


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "Hello, world! 42 times")],
                                   "doc_id long, text string")
        r = add_token_counts(df).collect()[0]
        assert r["n_tokens_ws"] == 4
        # Hello , world ! 42 times -> 6 BPE-ish tokens
        assert r["n_tokens_bpe"] == 6

    def test_quality_signals(self, spark):
        df = spark.createDataFrame([(1, "abcd efgh!?")], "doc_id long, text string")
        r = add_quality_signals(df).collect()[0]
        assert r["q_chars"] == 11
        assert r["q_alpha_ratio"] == pytest.approx(8 / 11)
        assert r["q_punct_ratio"] == pytest.approx(2 / 11)
        assert r["q_mean_word_len"] == pytest.approx(8 / 2)

    def test_language_id(self, dup_docs):
        out = {r["doc_id"]: r["lang_pred"]
               for r in add_language_id(dup_docs).collect()}
        assert out[1] == "en"
        assert out[6] == "es"

    def test_fingerprint_normalization(self, dup_docs):
        fps = {r["doc_id"]: r["fingerprint"]
               for r in add_fingerprint(dup_docs).collect()}
        assert fps[1] == fps[2] == fps[3]
        assert fps[1] != fps[4]


class TestConnectedComponents:
    def test_chain_and_clique(self, spark):
        from caspr_spark.llm.dedup import connected_components
        # chain 1-2-3 (1~3 never paired) + isolated pair 10-11
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        comp = {r["id"]: r["component"]
                for r in connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_matches_union_find(self, spark):
        import random
        from caspr_spark.llm.dedup import connected_components
        rng = random.Random(7)
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"]
               for r in connected_components(pairs).collect()}

        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for a, b in edges:
            union(a, b)
        want = {x: find(x) for x in parent}
        assert got == want

    def test_dedup_by_components_transitive(self, spark, dup_docs):
        from caspr_spark.llm.dedup import dedup_by_components
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        kept = {r["doc_id"] for r in
                dedup_by_components(dup_docs, pairs).select("doc_id").collect()}
        assert kept == {1, 4, 5, 6}


class TestWinnowing:
    def test_matches_python_oracle(self, documents):
        """Exact fingerprint-set parity with a direct python winnow."""
        import hashlib
        from caspr_spark.llm.dedup import winnow_fingerprints
        fp = winnow_fingerprints(documents, k=4, window=5)
        got = {}
        for r in fp.collect():
            got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        docs = {r["doc_id"]: r["text"] for r in
                documents.select("doc_id", "text").limit(20).collect()}
        for doc_id, text in docs.items():
            t = text.strip().lower().split()
            grams = ([" ".join(t[i:i + 4]) for i in range(len(t) - 3)]
                     if len(t) >= 4 else [" ".join(t)])
            hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
            if len(hs) >= 5:
                expect = {min(hs[i:i + 5]) for i in range(len(hs) - 4)}
            else:
                expect = {min(hs)}
            assert got[doc_id] == expect, doc_id

    def test_detection_floor(self, spark):
        """Docs sharing a run of window+k-1 tokens share >= 1 fingerprint."""
        from caspr_spark.llm.dedup import winnow_pairs
        shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 = 5+4-1
        df = spark.createDataFrame(
            [(1, f"unrelated prefix one two {shared} tail xx"),
             (2, f"{shared} completely different ending words here"),
             (3, "nothing in common with the others at all truly")],
            ["doc_id", "text"])
        pairs = {(r["id_a"], r["id_b"])
                 for r in winnow_pairs(df, min_shared=1,
                                       max_df=None).collect()}
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_short_doc_single_fingerprint(self, spark):
        from caspr_spark.llm.dedup import winnow_fingerprints
        df = spark.createDataFrame([(1, "two words")], ["doc_id", "text"])
        assert winnow_fingerprints(df).count() == 1

    def test_max_df_drops_boilerplate(self, spark):
        """A fingerprint in every doc is excluded from pairing."""
        from caspr_spark.llm.dedup import winnow_pairs
        boiler = "copyright two thousand twenty four all rights reserved"
        rows = [(i, f"document number {i} unique body content here {boiler}")
                for i in range(1, 6)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        capped = winnow_pairs(df, min_shared=1, max_df=3).count()
        uncapped = winnow_pairs(df, min_shared=1, max_df=None).count()
        assert uncapped == 10 and capped < uncapped


class TestRelatedDocuments:
    def test_matches_python_tfidf(self, documents):
        import collections
        import math
        from caspr_spark.llm.search import related_documents
        out = related_documents(documents, k=3, max_df=50, min_cosine=0.05)
        rows = out.collect()
        assert rows
        texts = {r["doc_id"]: r["text"] for r in
                 documents.select("doc_id", "text").collect()}
        n = len(texts)
        tf = {d: collections.Counter(t.strip().lower().split())
              for d, t in texts.items()}
        dfc = collections.Counter()
        for c in tf.values():
            for t in c:
                dfc[t] += 1

        def vec(d):
            return {t: c * (math.log((n + 1) / (dfc[t] + 1)) + 1)
                    for t, c in tf[d].items() if dfc[t] <= 50}

        for r in rows[:15]:
            va, vb = vec(r["doc_id"]), vec(r["related_id"])
            dot = sum(round(va[t] * vb[t] * 1e9)
                      for t in va if t in vb) / 1e9
            na = math.sqrt(sum(round(x * x * 1e9)
                               for x in va.values()) / 1e9)
            nb = math.sqrt(sum(round(x * x * 1e9)
                               for x in vb.values()) / 1e9)
            assert r["cosine"] == round(dot / (na * nb), 6)

    def test_symmetric_and_ranked(self, documents):
        from caspr_spark.llm.search import related_documents
        out = related_documents(documents, k=3, max_df=50,
                                min_cosine=0.05)
        pairs = {(r["doc_id"], r["related_id"]): r for r in out.collect()}
        # clone pairs rank each other first with cosine 1.0
        top = [p for p, r in pairs.items() if r["cosine"] == 1.0]
        assert top, "expected clone pairs in testdata"
        for a, b in top[:5]:
            assert (b, a) in pairs  # both directions present
        per_doc = {}
        for (a, _), r in pairs.items():
            per_doc.setdefault(a, []).append(r["rank"])
        for ranks in per_doc.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_max_df_drops_hot_terms(self, spark):
        from caspr_spark.llm.search import tfidf_weights
        rows = [(i, f"common shared filler unique{i}") for i in range(20)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        w = tfidf_weights(df, max_df=10)
        terms = {r["term"] for r in w.select("term").distinct().collect()}
        assert "common" not in terms and "unique3" in terms


class TestIncrementalDedup:
    def _corpora(self, spark):
        history = spark.createDataFrame([
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "some historical document about spark pipelines"),
            (102, "another archived page with unique content"),
        ], "doc_id long, text string")
        batch = spark.createDataFrame([
            (1, "The  quick brown fox   jumps over the lazy dog"),  # ws/case re-crawl
            (2, "a genuinely new document never seen before"),
            (3, "the quick brown fox jumps over the sleepy dog"),   # near-dup of 100
            (4, "some historical document about spark pipelines"),  # exact re-crawl
        ], "doc_id long, text string")
        return batch, history

    def test_exact_mode(self, spark):
        from caspr_spark.llm.dedup import dedup_against_history
        batch, history = self._corpora(spark)
        kept, matches = dedup_against_history(batch, history, mode="exact")
        assert {r.doc_id for r in kept.collect()} == {2, 3}
        got = {(r.doc_id, r.history_id) for r in matches.collect()}
        assert got == {(1, 100), (4, 101)}

    def test_exact_mode_raw(self, spark):
        from caspr_spark.llm.dedup import dedup_against_history
        batch, history = self._corpora(spark)
        kept, _ = dedup_against_history(batch, history, mode="exact",
                                        normalize=False)
        # without normalization the whitespace/case variant survives
        assert {r.doc_id for r in kept.collect()} == {1, 2, 3}

    def test_near_mode_catches_near_recrawl(self, spark):
        from caspr_spark.llm.dedup import dedup_against_history
        batch, history = self._corpora(spark)
        kept, matches = dedup_against_history(
            batch, history, mode="near", num_hashes=64, bands=32,
            threshold=0.5)
        kept_ids = {r.doc_id for r in kept.collect()}
        # 1 (ws variant of 100), 3 (one-word edit of 100), 4 (exact) all
        # match history; only the genuinely new doc survives
        assert kept_ids == {2}
        m = {(r.doc_id, r.history_id) for r in matches.collect()}
        assert (3, 100) in m and (1, 100) in m and (4, 101) in m
        # jaccard audit column is exact
        j = {r.doc_id: r.jaccard for r in matches.collect()}
        assert j[1] == 1.0 and j[4] == 1.0 and 0.5 <= j[3] < 1.0

    def test_near_mode_never_self_joins_history(self, spark):
        """The candidate join is batch x history only: identical docs
        INSIDE history must produce no matches."""
        from caspr_spark.llm.dedup import dedup_against_history
        history = spark.createDataFrame([
            (100, "duplicate content inside the history corpus itself"),
            (101, "duplicate content inside the history corpus itself"),
        ], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, "a fresh unrelated batch document")],
            "doc_id long, text string")
        kept, matches = dedup_against_history(batch, history, mode="near",
                                              threshold=0.5)
        assert matches.count() == 0
        assert kept.count() == 1

    def test_validation(self, spark):
        from caspr_spark.llm.dedup import dedup_against_history
        batch, history = self._corpora(spark)
        with pytest.raises(ValueError, match="mode"):
            dedup_against_history(batch, history, mode="fuzzy")
        with pytest.raises(ValueError, match="bands"):
            dedup_against_history(batch, history, mode="near",
                                  num_hashes=64, bands=7)

    def test_state_validation(self, spark):
        from caspr_spark.llm.dedup import (build_history_keys,
                                           build_history_signatures,
                                           dedup_against_history)
        batch, history = self._corpora(spark)
        keys = build_history_keys(history)
        sigs = build_history_signatures(history)
        with pytest.raises(ValueError, match="exactly one"):
            dedup_against_history(batch, history, mode="exact",
                                  history_keys=keys)
        with pytest.raises(ValueError, match="exactly one"):
            dedup_against_history(batch, None, mode="exact")
        with pytest.raises(ValueError, match="near-mode state"):
            dedup_against_history(batch, None, mode="exact",
                                  history_signatures=sigs)
        with pytest.raises(ValueError, match="exact-mode state"):
            dedup_against_history(batch, None, mode="near",
                                  history_keys=keys)

    def test_keys_roundtrip_batch_n_plus_1(self, spark, tmp_path):
        """The daily-crawl loop is runnable: batch N+1 dedups against
        SAVED keys only — the history DataFrame is never passed, so a
        history rescan is structurally impossible — and the incremental
        result equals the from-scratch recompute."""
        from caspr_spark.llm.dedup import (append_history_keys,
                                           build_history_keys,
                                           dedup_against_history,
                                           load_history_keys,
                                           save_history_keys)
        batch1, history = self._corpora(spark)
        p0 = str(tmp_path / "keys_day0")
        save_history_keys(build_history_keys(history), p0)

        keys0 = load_history_keys(spark, p0)
        kept1, m1 = dedup_against_history(batch1, None, mode="exact",
                                          history_keys=keys0)
        assert {r.doc_id for r in kept1.collect()} == {2, 3}
        assert {(r.doc_id, r.history_id) for r in m1.collect()} == \
            {(1, 100), (4, 101)}

        p1 = str(tmp_path / "keys_day1")
        save_history_keys(append_history_keys(keys0, kept1), p1)
        keys1 = load_history_keys(spark, p1)
        # 5 distinct history keys now: 3 original + accepted docs 2 and 3
        assert keys1.count() == 5

        batch2 = spark.createDataFrame([
            (10, "another archived page with unique content"),   # dup of 102
            (11, "a genuinely new document never seen before"),  # dup of day-1 accepted 2
            (12, "day two brings entirely fresh material"),      # new
        ], "doc_id long, text string")
        kept2, m2 = dedup_against_history(batch2, None, mode="exact",
                                          history_keys=keys1)
        assert {r.doc_id for r in kept2.collect()} == {12}
        got = {(r.doc_id, r.history_id) for r in m2.collect()}
        assert got == {(10, 102), (11, 2)}   # first-seen id preserved

        # incremental == from-scratch: full corpus so far vs batch2
        full = history.unionByName(kept1.select("doc_id", "text"))
        kept_full, _ = dedup_against_history(batch2, full, mode="exact")
        assert sorted(r.doc_id for r in kept2.collect()) == \
            sorted(r.doc_id for r in kept_full.collect())

    def test_signatures_roundtrip_near_mode(self, spark, tmp_path):
        """Near mode from a SAVED signature table (no re-shingling of
        history) matches the raw-history run pair for pair."""
        from caspr_spark.llm.dedup import (build_history_signatures,
                                           dedup_against_history,
                                           load_history_keys,
                                           save_history_keys)
        batch, history = self._corpora(spark)
        p = str(tmp_path / "sigs")
        save_history_keys(build_history_signatures(history), p)
        sigs = load_history_keys(spark, p)
        kept_s, m_s = dedup_against_history(
            batch, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, history_signatures=sigs)
        kept_h, m_h = dedup_against_history(
            batch, history, mode="near", num_hashes=64, bands=32,
            threshold=0.5)
        assert {r.doc_id for r in kept_s.collect()} == \
            {r.doc_id for r in kept_h.collect()} == {2}
        pairs_s = {(r.doc_id, r.history_id, round(r.jaccard, 9))
                   for r in m_s.collect()}
        pairs_h = {(r.doc_id, r.history_id, round(r.jaccard, 9))
                   for r in m_h.collect()}
        assert pairs_s == pairs_h

    def test_near_mode_portable_family(self, spark):
        """Round 12: the portable md5-60-bit family threads through the
        incremental path — same kept/matches decisions as the fast
        family on this corpus (both catch every re-crawl), and the
        signature values match the one-shot portable signatures
        (shared _signatures_from_shingles), so incremental decisions
        are cross-engine auditable like the one-shot path."""
        from caspr_spark.llm.dedup import dedup_against_history
        batch, history = self._corpora(spark)
        kept, matches = dedup_against_history(
            batch, history, mode="near", num_hashes=64, bands=32,
            threshold=0.5, hash_family="portable")
        assert {r.doc_id for r in kept.collect()} == {2}
        m = {(r.doc_id, r.history_id) for r in matches.collect()}
        assert (3, 100) in m and (1, 100) in m and (4, 101) in m
        j = {r.doc_id: r.jaccard for r in matches.collect()}
        assert j[1] == 1.0 and j[4] == 1.0 and 0.5 <= j[3] < 1.0

    def test_signature_family_guard(self, spark):
        """A batch deduped against a state table built with the OTHER
        hash family raises up front — mismatched families share no
        band keys and would silently match nothing forever."""
        from caspr_spark.llm.dedup import (build_history_signatures,
                                           dedup_against_history)
        batch, history = self._corpora(spark)
        fast_sigs = build_history_signatures(history)
        port_sigs = build_history_signatures(history,
                                             hash_family="portable")
        with pytest.raises(ValueError, match="hash_family='fast'"):
            dedup_against_history(batch, None, mode="near",
                                  history_signatures=fast_sigs,
                                  hash_family="portable")
        with pytest.raises(ValueError, match="hash_family='portable'"):
            dedup_against_history(batch, None, mode="near",
                                  history_signatures=port_sigs)
        # legacy table (no hash_family column): fast accepted,
        # portable refused with a rebuild hint
        legacy = fast_sigs.drop("hash_family")
        with pytest.raises(ValueError, match="no hash_family column"):
            dedup_against_history(batch, None, mode="near",
                                  history_signatures=legacy,
                                  hash_family="portable")
        kept, _ = dedup_against_history(batch, None, mode="near",
                                        history_signatures=legacy)
        assert kept.count() >= 1

    def test_versioned_key_state_matches_sequential_fold(self, spark,
                                                         tmp_path):
        """Round-12 LSM key state: per-day delta folds (crossing a
        compaction) read back row-identical to the sequential
        append_history_keys chain — first-seen ids preserved — and a
        day deduped against the state matches the from-scratch run."""
        from caspr_spark.llm.dedup import (append_history_keys,
                                           append_history_keys_state,
                                           build_history_keys,
                                           dedup_against_history,
                                           read_history_keys_state)
        batch1, history = self._corpora(spark)
        state = str(tmp_path / "keys")
        append_history_keys_state(spark, state, 1, history,
                                  compact_every=2)
        kept1, _ = dedup_against_history(
            batch1, None, mode="exact",
            history_keys=read_history_keys_state(spark, state))
        assert {r.doc_id for r in kept1.collect()} == {2, 3}
        append_history_keys_state(spark, state, 2,
                                  kept1.select("doc_id", "text"),
                                  compact_every=2)
        # day 3 re-crawls doc 2's text under a new id: first-seen id 2
        # must survive the state fold (incl. the day-2 compaction)
        day3 = spark.createDataFrame(
            [(30, "a genuinely new document never seen before"),
             (31, "day three text entirely fresh")],
            "doc_id long, text string")
        kept3, m3 = dedup_against_history(
            day3, None, mode="exact",
            history_keys=read_history_keys_state(spark, state))
        assert {r.doc_id for r in kept3.collect()} == {31}
        assert {(r.doc_id, r.history_id) for r in m3.collect()} == {(30, 2)}
        # state read == the sequential in-memory fold, row for row
        seq = append_history_keys(build_history_keys(history),
                                  kept1.select("doc_id", "text"))
        got = {(r.content_key, r.history_id)
               for r in read_history_keys_state(spark, state).collect()}
        want = {(r.content_key, r.history_id) for r in seq.collect()}
        assert got == want
        # replayed day: no-op; out-of-order day: loud
        append_history_keys_state(spark, state, 2, day3, compact_every=2)
        assert {(r.content_key, r.history_id)
                for r in read_history_keys_state(spark, state).collect()} \
            == want
        # (a committed id replays as a no-op above; an UNCOMMITTED id
        # below the committed frontier is the dangerous shape)
        with pytest.raises(ValueError, match="not newer"):
            append_history_keys_state(spark, state, 0, day3)

    def test_append_history_signatures(self, spark):
        """Near-mode daily loop: folding an accepted batch into the
        signature table makes the NEXT batch's re-crawl of it match —
        and equals deduping against the rebuilt full history."""
        from caspr_spark.llm.dedup import (append_history_signatures,
                                           build_history_signatures,
                                           dedup_against_history)
        batch1, history = self._corpora(spark)
        sigs = build_history_signatures(history, hash_family="portable")
        kept1, _ = dedup_against_history(
            batch1, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, history_signatures=sigs,
            hash_family="portable")
        sigs2 = append_history_signatures(
            sigs, kept1.select("doc_id", "text"), hash_family="portable")
        batch2 = spark.createDataFrame(
            [(20, "a genuinely new document never seen before"),  # dup of accepted 2
             (21, "completely novel day two material")],
            "doc_id long, text string")
        kept2, m2 = dedup_against_history(
            batch2, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, history_signatures=sigs2,
            hash_family="portable")
        assert {r.doc_id for r in kept2.collect()} == {21}
        assert {(r.doc_id, r.history_id) for r in m2.collect()} == {(20, 2)}
        # family guard applies on the fold too
        with pytest.raises(ValueError, match="hash_family='portable'"):
            append_history_signatures(sigs, kept1.select("doc_id", "text"))

    def test_versioned_signature_state_matches_sequential_fold(
            self, spark, tmp_path):
        """Round-13 LSM signature state: per-day delta folds (crossing
        a compaction) drive the same near-dedup decisions as the
        in-memory append chain, a REPLAYED crawl day is a no-op (the
        plain append would duplicate its signature rows — doubled band
        keys, duplicated match rows), and out-of-order folds refuse."""
        from caspr_spark.llm.dedup import (
            append_history_signatures_state, dedup_against_history,
            read_history_signatures_state)
        batch1, history = self._corpora(spark)
        state = str(tmp_path / "sigs")
        append_history_signatures_state(
            spark, state, 1, history, hash_family="portable",
            compact_every=2)
        kept1, m1 = dedup_against_history(
            batch1, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, hash_family="portable",
            history_signatures=read_history_signatures_state(spark, state))
        assert {r.doc_id for r in kept1.collect()} == {2}
        # day 2 fold crosses the compact_every=2 compaction boundary
        append_history_signatures_state(
            spark, state, 2, kept1.select("doc_id", "text"),
            hash_family="portable", compact_every=2)
        rows_before = read_history_signatures_state(spark, state).count()
        assert rows_before == 4            # 3 history docs + accepted doc 2
        # REPLAY day 2: committed id -> protocol no-op, zero new rows
        append_history_signatures_state(
            spark, state, 2, kept1.select("doc_id", "text"),
            hash_family="portable", compact_every=2)
        assert read_history_signatures_state(spark, state).count() \
            == rows_before
        # decisions against the replayed state: no duplicated match rows
        batch2 = spark.createDataFrame(
            [(20, "a genuinely new document never seen before"),
             (21, "completely novel day two material")],
            "doc_id long, text string")
        kept2, m2 = dedup_against_history(
            batch2, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, hash_family="portable",
            history_signatures=read_history_signatures_state(spark, state))
        assert {r.doc_id for r in kept2.collect()} == {21}
        assert [(r.doc_id, r.history_id) for r in m2.collect()] == [(20, 2)]
        # out-of-order (uncommitted id below the frontier): loud
        with pytest.raises(ValueError, match="not newer"):
            append_history_signatures_state(
                spark, state, 0, batch2, hash_family="portable",
                compact_every=2)

    def test_signature_state_fold_with_precomputed_sigs_identical(
            self, spark, tmp_path):
        """Round-15 optimization: a state fold handed the batch's
        already-built ``signatures=`` frame (the streaming sink's
        one-pass-per-batch plumbing, extended to the fold) must commit
        byte-identical state to the self-deriving fold — same rows,
        same shingles/minhash values — and must fold ONLY the accepted
        subset even when the signature frame covers the whole batch."""
        from caspr_spark.llm.dedup import (append_history_signatures_state,
                                           build_history_signatures,
                                           read_history_signatures_state)
        batch, _ = self._corpora(spark)
        accepted = batch.filter("doc_id in (2, 3)")
        sigs = build_history_signatures(
            batch, num_hashes=16, shingle_size=3,
            hash_family="portable").withColumnRenamed("history_id",
                                                      "doc_id")
        s_plain = str(tmp_path / "plain")
        s_pre = str(tmp_path / "pre")
        append_history_signatures_state(
            spark, s_plain, 1, accepted, num_hashes=16,
            hash_family="portable")
        append_history_signatures_state(
            spark, s_pre, 1, accepted, num_hashes=16,
            hash_family="portable", signatures=sigs)
        key = lambda r: (r.history_id, tuple(r.shingles),
                         tuple(r.minhash), r.hash_family)
        plain = sorted(map(key, read_history_signatures_state(
            spark, s_plain).collect()))
        pre = sorted(map(key, read_history_signatures_state(
            spark, s_pre).collect()))
        assert pre == plain
        assert {r[0] for r in pre} == {2, 3}

    def test_fold_signatures_width_tripwire(self, spark, tmp_path):
        """Round-16 guard: a ``signatures=`` frame built with a
        DIFFERENT num_hashes than the fold declares must raise at
        execution (in-plan tripwire) — committed mis-widthed state
        would silently never band-match future batches."""
        import pytest

        from caspr_spark.llm.dedup import (append_history_signatures_state,
                                           build_history_signatures)
        batch, _ = self._corpora(spark)
        sigs = build_history_signatures(
            batch, num_hashes=8, shingle_size=3,
            hash_family="portable").withColumnRenamed("history_id",
                                                      "doc_id")
        with pytest.raises(Exception, match="mis-widthed"):
            append_history_signatures_state(
                spark, str(tmp_path / "bad"), 1, batch, num_hashes=16,
                hash_family="portable", signatures=sigs)

    def test_fold_check_state_skip_identical(self, spark, tmp_path):
        """Round-16 optimization: ``check_state=False`` (the streaming
        sink's per-micro-batch probe skip) commits byte-identical state
        to the guarded fold."""
        from caspr_spark.llm.dedup import (append_history_signatures_state,
                                           read_history_signatures_state)
        batch, _ = self._corpora(spark)
        dirs = {}
        for name, check in (("guarded", True), ("skipped", False)):
            d = str(tmp_path / name)
            dirs[name] = d
            for day, ids in ((1, (2, 3)), (2, (4,))):
                append_history_signatures_state(
                    spark, d, day,
                    batch.filter(batch.doc_id.isin(list(ids))),
                    num_hashes=16, hash_family="portable",
                    compact_every=2, check_state=check)
        key = lambda r: (r.history_id, tuple(r.shingles),
                         tuple(r.minhash), r.hash_family)
        a = sorted(map(key, read_history_signatures_state(
            spark, dirs["guarded"]).collect()))
        b = sorted(map(key, read_history_signatures_state(
            spark, dirs["skipped"]).collect()))
        assert a == b

    def test_precomputed_signature_plumbing_is_identical(self, spark):
        """Round-14 one-pass-per-batch optimization: minhash_lsh_dedup
        with a precomputed ``signatures=`` frame and
        dedup_against_history with ``batch_signatures=`` must return
        row-identical results to the self-computing paths (same
        shingles, same minhash, same band keys — just not rebuilt),
        and exact mode refuses batch_signatures."""
        from caspr_spark.llm.dedup import (build_history_signatures,
                                           build_history_signatures as _b,
                                           dedup_against_history,
                                           minhash_lsh_dedup)
        batch, history = self._corpora(spark)
        sigs = build_history_signatures(
            batch, num_hashes=32, shingle_size=3,
            hash_family="portable").withColumnRenamed("history_id",
                                                      "doc_id")
        kw = dict(num_hashes=32, bands=16, shingle_size=3,
                  threshold=0.4, hash_family="portable")
        d1, p1 = minhash_lsh_dedup(batch, **kw)
        d2, p2 = minhash_lsh_dedup(batch, signatures=sigs, **kw)
        assert ({r.doc_id for r in d1.collect()}
                == {r.doc_id for r in d2.collect()})
        key = lambda r: (r.id_a, r.id_b, round(r.jaccard, 9))
        assert (sorted(map(key, p1.collect()))
                == sorted(map(key, p2.collect())))
        hsigs = build_history_signatures(history, num_hashes=32,
                                         shingle_size=3,
                                         hash_family="portable")
        k1, m1 = dedup_against_history(batch, None, mode="near",
                                       history_signatures=hsigs, **kw)
        k2, m2 = dedup_against_history(batch, None, mode="near",
                                       history_signatures=hsigs,
                                       batch_signatures=sigs, **kw)
        assert ({r.doc_id for r in k1.collect()}
                == {r.doc_id for r in k2.collect()})
        mkey = lambda r: (r.doc_id, r.history_id, round(r.jaccard, 9))
        assert (sorted(map(mkey, m1.collect()))
                == sorted(map(mkey, m2.collect())))
        # family mismatch on the precomputed frame refuses
        with pytest.raises(ValueError, match="hash_family"):
            minhash_lsh_dedup(batch, num_hashes=32, bands=16,
                              signatures=sigs, hash_family="fast")
        with pytest.raises(ValueError, match="near-mode input"):
            dedup_against_history(batch, history, mode="exact",
                                  batch_signatures=sigs)

    def test_key_state_prune_retention(self, spark, tmp_path):
        """Round-13 key-table TTL parity: prune_state on the KEY-table
        path (previously only census-tested) deletes exactly the
        frames older than the keep_last-th-newest compact, and the
        post-prune read still equals the sequential in-memory fold —
        the end-to-end retention story for the 1e9-key daily loop."""
        from caspr_spark.llm.dedup import (append_history_keys,
                                           append_history_keys_state,
                                           build_history_keys,
                                           read_history_keys_state)
        from caspr_spark.state import prune_state, state_listing
        state = str(tmp_path / "keys")
        days = [spark.createDataFrame(
            [(d * 10 + i, f"day {d} doc {i} body") for i in range(3)],
            "doc_id long, text string") for d in range(1, 6)]
        for d, df in enumerate(days, start=1):
            append_history_keys_state(spark, state, d, df,
                                      compact_every=2)
        # cadence at compact_every=2: c1 d2 c3 d4 c5
        assert state_listing(spark, state) == [
            (1, "compact"), (2, "delta"), (3, "compact"),
            (4, "delta"), (5, "compact")]
        seq = build_history_keys(days[0])
        for df in days[1:]:
            seq = append_history_keys(seq, df)
        want = {(r.content_key, r.history_id) for r in seq.collect()}
        assert prune_state(spark, state, keep_last=2) == [1, 2]
        assert state_listing(spark, state) == [
            (3, "compact"), (4, "delta"), (5, "compact")]
        got = {(r.content_key, r.history_id)
               for r in read_history_keys_state(spark, state).collect()}
        assert got == want
        assert prune_state(spark, state, keep_last=1) == [3, 4]
        got = {(r.content_key, r.history_id)
               for r in read_history_keys_state(spark, state).collect()}
        assert got == want

    def test_signature_state_prune_retention(self, spark, tmp_path):
        """Round-14 signature-table TTL parity (mirror of the r13
        key-table item): prune_state on the SIGNATURE-table path
        deletes exactly the frames older than the keep_last-th-newest
        compact, the post-prune read still equals the sequential
        in-memory fold, and the family/width guard still probes a
        LIVE frame after pruning (it refuses a mismatched fold)."""
        from caspr_spark.llm.dedup import (
            append_history_signatures, append_history_signatures_state,
            build_history_signatures, read_history_signatures_state)
        from caspr_spark.state import prune_state, state_listing
        state = str(tmp_path / "sigs")
        days = [spark.createDataFrame(
            [(d * 10 + i, f"day {d} doc {i} body text here") for i in
             range(3)],
            "doc_id long, text string") for d in range(1, 6)]
        for d, df in enumerate(days, start=1):
            append_history_signatures_state(spark, state, d, df,
                                            num_hashes=16,
                                            hash_family="portable",
                                            compact_every=2)
        assert state_listing(spark, state) == [
            (1, "compact"), (2, "delta"), (3, "compact"),
            (4, "delta"), (5, "compact")]
        seq = build_history_signatures(days[0], num_hashes=16,
                                       hash_family="portable")
        for df in days[1:]:
            seq = append_history_signatures(seq, df, num_hashes=16,
                                            hash_family="portable")
        want = {(r.history_id, tuple(r.minhash))
                for r in seq.collect()}
        assert prune_state(spark, state, keep_last=2) == [1, 2]
        assert state_listing(spark, state) == [
            (3, "compact"), (4, "delta"), (5, "compact")]
        got = {(r.history_id, tuple(r.minhash))
               for r in read_history_signatures_state(spark,
                                                      state).collect()}
        assert got == want
        # the guard probes the post-prune live frames, not deleted ones
        with pytest.raises(ValueError, match="hash_family"):
            append_history_signatures_state(spark, state, 6, days[0],
                                            num_hashes=16,
                                            hash_family="fast",
                                            compact_every=2)
        assert prune_state(spark, state, keep_last=1) == [3, 4]
        got = {(r.history_id, tuple(r.minhash))
               for r in read_history_signatures_state(spark,
                                                      state).collect()}
        assert got == want

    def test_signature_state_family_and_width_guards(self, spark,
                                                     tmp_path):
        """A fold whose hash family or signature width differs from
        the committed state refuses up front — mixed frames would
        silently share no band keys within the mismatched rows."""
        from caspr_spark.llm.dedup import append_history_signatures_state
        _, history = self._corpora(spark)
        state = str(tmp_path / "sigs")
        append_history_signatures_state(
            spark, state, 1, history, num_hashes=64,
            hash_family="portable", compact_every=4)
        with pytest.raises(ValueError, match="hash_family='portable'"):
            append_history_signatures_state(
                spark, state, 2, history, num_hashes=64,
                hash_family="fast", compact_every=4)
        with pytest.raises(ValueError, match="64-hash"):
            append_history_signatures_state(
                spark, state, 2, history, num_hashes=32,
                hash_family="portable", compact_every=4)

    def test_portable_signatures_roundtrip(self, spark, tmp_path):
        """Portable near mode from a SAVED portable signature table
        matches the raw-history portable run pair for pair (the
        production state-table shape under the auditable family)."""
        from caspr_spark.llm.dedup import (build_history_signatures,
                                           dedup_against_history,
                                           load_history_keys,
                                           save_history_keys)
        batch, history = self._corpora(spark)
        p = str(tmp_path / "psigs")
        save_history_keys(
            build_history_signatures(history, hash_family="portable"), p)
        sigs = load_history_keys(spark, p)
        kept_s, m_s = dedup_against_history(
            batch, None, mode="near", num_hashes=64, bands=32,
            threshold=0.5, history_signatures=sigs,
            hash_family="portable")
        kept_h, m_h = dedup_against_history(
            batch, history, mode="near", num_hashes=64, bands=32,
            threshold=0.5, hash_family="portable")
        assert {r.doc_id for r in kept_s.collect()} == \
            {r.doc_id for r in kept_h.collect()} == {2}
        assert {(r.doc_id, r.history_id, round(r.jaccard, 9))
                for r in m_s.collect()} == \
               {(r.doc_id, r.history_id, round(r.jaccard, 9))
                for r in m_h.collect()}


class TestComponentValidation:
    def test_max_iter_zero_raises(self, spark):
        from caspr_spark.llm.dedup import connected_components
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="max_iter"):
            connected_components(pairs, max_iter=0)

    def test_exact_dedup_and_incremental_share_one_key(self, spark):
        """Whitespace/case variants that exact_dedup collapses must be
        the SAME variants dedup_against_history collapses."""
        from caspr_spark.llm.dedup import (dedup_against_history,
                                           exact_dedup)
        a = "Some   Document  Text"
        b = "some document text"
        df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
        assert exact_dedup(df).count() == 1
        hist = spark.createDataFrame([(10, a)], "doc_id long, text string")
        batch = spark.createDataFrame([(20, b)], "doc_id long, text string")
        kept, _ = dedup_against_history(batch, hist, mode="exact")
        assert kept.count() == 0


class TestDuplicatedSpans:
    """Substring-duplication census (dedup.duplicated_spans) — interval
    union, run merging, and within-doc repetition, each hand-checked."""

    def _run(self, spark, texts, n=5):
        from caspr_spark.llm.dedup import duplicated_spans
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        return {r["doc_id"]: r.asDict()
                for r in duplicated_spans(df, n=n).collect()}

    def test_cross_doc_shared_span(self, spark):
        out = self._run(spark, ["a b c d e f", "x a b c d e y"])
        # the shared 5-gram "a b c d e" covers 5 tokens in each doc
        assert out[0]["dup_tokens"] == 5 and out[0]["max_dup_run"] == 5
        assert out[0]["n_dup_grams"] == 1
        assert abs(out[0]["dup_fraction"] - 5 / 6) < 1e-6
        assert out[1]["dup_tokens"] == 5 and out[1]["n_tokens"] == 7

    def test_identical_twins_fully_covered(self, spark):
        out = self._run(spark, ["a b c d e f g", "a b c d e f g"])
        for d in (0, 1):
            # 3 overlapping dup grams merge to one 7-token interval
            assert out[d]["n_dup_grams"] == 3
            assert out[d]["dup_tokens"] == 7       # union, not 3x5
            assert out[d]["max_dup_run"] == 7
            assert out[d]["dup_fraction"] == 1.0

    def test_within_doc_repeat_touching_spans_merge(self, spark):
        # "p q r s t" at pos 0 and 5: intervals [0,4] and [5,9] touch,
        # so they merge into ONE 10-token run
        out = self._run(spark, ["p q r s t p q r s t"])
        assert out[0]["n_dup_grams"] == 2
        assert out[0]["dup_tokens"] == 10
        assert out[0]["max_dup_run"] == 10

    def test_gapped_spans_stay_separate_runs(self, spark):
        # "m n o p q" at pos 0 and 7: gap at positions 5-6 keeps two
        # 5-token runs; union is 10 of 12 tokens
        out = self._run(spark, ["m n o p q g1 g2 m n o p q"])
        assert out[0]["dup_tokens"] == 10
        assert out[0]["max_dup_run"] == 5
        assert out[0]["n_dup_grams"] == 2
        assert abs(out[0]["dup_fraction"] - 10 / 12) < 1e-6

    def test_short_and_unique_docs_zero(self, spark):
        out = self._run(spark, ["tiny doc", "u1 u2 u3 u4 u5 u6"])
        for d in (0, 1):
            assert out[d]["dup_tokens"] == 0
            assert out[d]["max_dup_run"] == 0
            assert out[d]["dup_fraction"] == 0.0
        assert out[0]["n_grams"] == 0     # shorter than n
        assert out[1]["n_grams"] == 2

    def test_n_validation(self, spark):
        import pytest as _pt
        from caspr_spark.llm.dedup import duplicated_spans
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pt.raises(ValueError, match="n must be >= 1"):
            duplicated_spans(df, n=0)

    def test_windows_doc_keyed(self, spark):
        """Scale contract: every window in the plan is doc-partitioned
        (no global sort), and the gram-count relation aggregates before
        the semi-join."""
        import contextlib
        import io
        import re as _re

        from caspr_spark.llm.dedup import duplicated_spans
        df = spark.createDataFrame([(1, "a b c d e")],
                                   "doc_id long, text string")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            duplicated_spans(df).explain("formatted")
        plan = buf.getvalue()
        specs = _re.findall(
            r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        for spec in specs:
            assert spec.lstrip().startswith("doc_id"), spec


class TestTrimDuplicatedSpans:
    """Destructive substring dedup (dedup.trim_duplicated_spans):
    keep-first arbitration, interval-merged removal, rebuild."""

    def _run(self, spark, texts, n=5):
        from caspr_spark.llm.dedup import trim_duplicated_spans
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        return {r["doc_id"]: r.asDict()
                for r in trim_duplicated_spans(df, n=n).collect()}

    def test_first_occurrence_kept_twin_emptied(self, spark):
        out = self._run(spark, ["a b c d e f g", "a b c d e f g"])
        assert out[0]["trimmed_text"] == "a b c d e f g"
        assert out[0]["n_removed"] == 0
        assert out[1]["trimmed_text"] == ""
        assert out[1]["n_removed"] == 7

    def test_within_doc_repeat_trims_second(self, spark):
        out = self._run(spark, ["p q r s t p q r s t"])
        assert out[0]["trimmed_text"] == "p q r s t"
        assert out[0]["n_removed"] == 5

    def test_cross_doc_span_removed_from_later_doc(self, spark):
        # "a b c d e" first occurs in doc 0 (pos 1): doc 1 loses it
        out = self._run(spark, ["x a b c d e y", "a b c d e f"])
        assert out[0]["trimmed_text"] == "x a b c d e y"
        # doc 1: grams "a b c d e" (pos 0, dup) and "b c d e f"
        # (unique) -> interval [0,4] removed, token "f" survives
        assert out[1]["trimmed_text"] == "f"
        assert out[1]["n_removed"] == 5

    def test_untouched_docs_pass_through(self, spark):
        out = self._run(spark, ["u1 u2 u3 u4 u5 u6", "tiny doc",
                                "m n o p q", "m n o p q"])
        assert out[0]["trimmed_text"] == "u1 u2 u3 u4 u5 u6"
        assert out[1]["trimmed_text"] == "tiny doc"   # shorter than n
        assert out[0]["n_removed"] == 0 and out[1]["n_removed"] == 0
        assert out[2]["trimmed_text"] == "m n o p q"
        assert out[3]["trimmed_text"] == ""

    def test_row_count_preserved(self, spark):
        texts = ["a b c d e f g"] * 3 + ["z1 z2 z3 z4 z5"] + ["short"]
        out = self._run(spark, texts)
        assert len(out) == len(texts)

    def test_measure_then_trim_consistency(self, spark, documents):
        """The census and the trim must agree: after trimming, a doc's
        removed-token count never exceeds its measured dup_tokens (the
        first doc of each duplicate family keeps its spans)."""
        from caspr_spark.llm.dedup import (duplicated_spans,
                                           trim_duplicated_spans)
        meas = {r["doc_id"]: r["dup_tokens"]
                for r in duplicated_spans(documents, n=5).collect()}
        trim = trim_duplicated_spans(documents, n=5).collect()
        assert len(trim) == len(meas)
        for r in trim:
            assert r["n_removed"] <= meas[r["doc_id"]]

    def test_string_ids_and_large_ids_work(self, spark):
        """The window-based keep-first arbitration must be exact for
        any orderable id type — including 64-bit ids where integer key
        arithmetic (id*2^32+pos) would overflow and crown the wrong
        occurrence first, and string ids (lexicographic order)."""
        from caspr_spark.llm.dedup import trim_duplicated_spans
        big = 3_000_000_000  # > 2^31: the old arithmetic key wrapped
        df = spark.createDataFrame(
            [(1, "a b c d e"), (big, "a b c d e")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["trimmed_text"]
               for r in trim_duplicated_spans(df, n=5).collect()}
        assert out[1] == "a b c d e"      # smaller id keeps its span
        assert out[big] == ""
        sdf = spark.createDataFrame(
            [("aa", "p q r s t"), ("zz", "p q r s t")],
            "doc_id string, text string")
        got = {r["doc_id"]: r["trimmed_text"]
               for r in trim_duplicated_spans(sdf, n=5).collect()}
        assert got["aa"] == "p q r s t" and got["zz"] == ""


class TestContaminationFraction:
    """Soft decontamination (dedup.contamination_fraction)."""

    def _run(self, spark, train, bench, n=3):
        from caspr_spark.llm.dedup import contamination_fraction
        tdf = spark.createDataFrame(
            [(i, t) for i, t in enumerate(train)], "doc_id long, text string")
        bdf = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(bench)],
            "doc_id long, text string")
        return {r["doc_id"]: r.asDict()
                for r in contamination_fraction(tdf, bdf, n=n).collect()}

    def test_fraction_and_runs(self, spark):
        out = self._run(spark, ["a b c d e", "z1 z2 z3 z4"], ["x a b c y"])
        # train doc 0 shares the 3-gram "a b c": covers tokens 0-2 of 5
        assert out[0]["contam_tokens"] == 3
        assert abs(out[0]["contam_fraction"] - 0.6) < 1e-6
        assert out[0]["max_contam_run"] == 3
        assert out[1]["contam_tokens"] == 0
        assert out[1]["contam_fraction"] == 0.0

    def test_full_containment(self, spark):
        out = self._run(spark, ["q r s t"], ["p q r s t u"])
        assert out[0]["contam_fraction"] == 1.0

    def test_every_train_doc_returned(self, spark):
        out = self._run(spark, ["a b", "c d e f"], ["g h i"])
        assert set(out) == {0, 1}
        assert all(v["contam_tokens"] == 0 for v in out.values())

    def test_agrees_with_binary_decontaminate(self, spark, documents):
        """Exactly the docs decontaminate() drops must show a non-zero
        contamination fraction (same n, same gram definition)."""
        from caspr_spark.llm.dedup import contamination_fraction
        from caspr_spark.llm.filtering import decontaminate
        train = documents.filter(F.col("source") != "src0")
        bench = documents.filter(F.col("source") == "src0")
        kept = {r["doc_id"] for r in
                decontaminate(train, bench, n=4).select("doc_id").collect()}
        frac = {r["doc_id"]: r["contam_fraction"]
                for r in contamination_fraction(train, bench, n=4).collect()}
        for d, f in frac.items():
            assert (f == 0.0) == (d in kept), (d, f)


class TestGramTable:
    """Shared gram featurization (dedup.gram_table, round 10): one
    tokenize+md5 pass feeds the whole span family; every consumer must
    be bit-identical to its direct-from-text run, the width guard must
    raise on mismatch, and the table must survive a parquet round-trip."""

    @staticmethod
    def _docs(spark):
        rows = [(1, "a b c d e a b c d e"),       # self-duplicated
                (2, "a b c d e x y z w v"),       # shares one 5-gram
                (3, "p q r s t u v w x y"),       # clean
                (4, "short doc")]                 # < n tokens
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_census_and_trim_bit_identical(self, spark):
        from caspr_spark.llm.dedup import (duplicated_spans, gram_table,
                                           trim_duplicated_spans)
        docs = self._docs(spark)
        gt = gram_table(docs, n=5).persist()
        try:
            assert (duplicated_spans(docs, n=5).orderBy("doc_id").collect()
                    == duplicated_spans(gt, n=5).orderBy("doc_id").collect())
            assert (trim_duplicated_spans(docs, n=5)
                    .orderBy("doc_id").collect()
                    == trim_duplicated_spans(gt, n=5)
                    .orderBy("doc_id").collect())
        finally:
            gt.unpersist()
            spark.catalog.clearCache()

    def test_contamination_and_decontaminate_bit_identical(self, spark):
        from pyspark.sql import functions as F
        from caspr_spark.llm.dedup import contamination_fraction, gram_table
        from caspr_spark.llm.filtering import decontaminate
        docs = self._docs(spark)
        train = docs.filter(F.col("doc_id") != 1)
        bench = docs.filter(F.col("doc_id") == 1)
        gtr, gbe = gram_table(train, n=5), gram_table(bench, n=5)
        try:
            assert (contamination_fraction(train, bench, n=5)
                    .orderBy("doc_id").collect()
                    == contamination_fraction(gtr, gbe, n=5)
                    .orderBy("doc_id").collect())
            assert (sorted(r.doc_id for r in
                           decontaminate(train, bench, n=5).collect())
                    == sorted(r.doc_id for r in
                              decontaminate(gtr, gbe, n=5).collect()))
        finally:
            spark.catalog.clearCache()

    def test_width_mismatch_raises_in_plan(self, spark):
        from caspr_spark.llm.dedup import duplicated_spans, gram_table
        gt = gram_table(self._docs(spark), n=5)
        with pytest.raises(Exception, match="gram_table built with n=5"):
            duplicated_spans(gt, n=4).collect()
        spark.catalog.clearCache()

    def test_parquet_roundtrip(self, spark, tmp_path):
        from caspr_spark.llm.dedup import (duplicated_spans,
                                           write_gram_table)
        docs = self._docs(spark)
        path = str(tmp_path / "grams")
        write_gram_table(docs, path, n=5)
        gt = spark.read.parquet(path)
        try:
            assert (duplicated_spans(gt, n=5).orderBy("doc_id").collect()
                    == duplicated_spans(docs, n=5)
                    .orderBy("doc_id").collect())
        finally:
            spark.catalog.clearCache()

    def test_short_doc_empty_hashes(self, spark):
        from caspr_spark.llm.dedup import gram_table
        r = {x["doc_id"]: x for x in
             gram_table(self._docs(spark), n=5).collect()}
        assert r[4]["n_grams"] == 0 and r[4]["__hs"] == []
        assert r[1]["n_grams"] == 6 and len(r[1]["__hs"]) == 6


class TestIncrementalSpanCensus:
    """Incremental substring census (round 10): build_gram_census /
    append_gram_census / duplicated_spans_incremental. The contract is
    the invariant: batch stats against (history census + batch) totals
    equal the full-corpus duplicated_spans over history ∪ batch,
    restricted to the batch — history text is never rescanned."""

    @staticmethod
    def _split(spark):
        hist = spark.createDataFrame(
            [(0, "a b c d e f g"), (2, "x y z a b c d"), (4, "p q r s")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, "a b c d q q r"),       # duplicated vs history
             (3, "x y z a b c d"),       # exact twin of doc 2
             (5, "m m n n o o"),         # unique to the batch
             (7, "tiny")],               # < n tokens
            "doc_id long, text string")
        return hist, batch

    def test_matches_full_corpus_restricted(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans,
                                           duplicated_spans_incremental)
        hist, batch = self._split(spark)
        census = build_gram_census(hist, n=3)
        inc = sorted(map(tuple, duplicated_spans_incremental(
            batch, census, n=3, min_count=2).collect()))
        full = sorted(map(tuple, duplicated_spans(
            hist.unionByName(batch), n=3, min_count=2)
            .join(batch.select("doc_id"), "doc_id", "left_semi").collect()))
        assert inc == full

    def test_within_batch_duplication_counts(self, spark):
        """A gram occurring min_count times inside the batch alone is
        duplicated even with an empty-overlap history (the batch's own
        occurrences enter the total, as in the full-corpus census)."""
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans_incremental)
        hist, batch = self._split(spark)
        census = build_gram_census(hist.limit(0), n=3)
        out = {r["doc_id"]: r["n_dup_grams"] for r in
               duplicated_spans_incremental(batch, census, n=3,
                                            min_count=2).collect()}
        # docs 1 and 3 share "a b c" and "b c d" WITHIN the batch —
        # cross-batch duplication counts with no history at all
        assert out[1] == 2 and out[3] == 2
        assert out[5] == 0          # "m m n", "m n n", ... all unique
        assert out[7] == 0          # sub-width doc: no grams

    def test_append_fold_equals_direct_build(self, spark):
        from caspr_spark.llm.dedup import (append_gram_census,
                                           build_gram_census)
        hist, batch = self._split(spark)
        folded = sorted(map(tuple, append_gram_census(
            build_gram_census(hist, n=3), batch, n=3).collect()))
        direct = sorted(map(tuple, build_gram_census(
            hist.unionByName(batch), n=3).collect()))
        assert folded == direct

    def test_state_parquet_roundtrip(self, spark, tmp_path):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans_incremental,
                                           load_history_keys,
                                           save_history_keys)
        hist, batch = self._split(spark)
        path = str(tmp_path / "census")
        save_history_keys(build_gram_census(hist, n=3), path)
        reloaded = load_history_keys(spark, path)
        a = sorted(map(tuple, duplicated_spans_incremental(
            batch, reloaded, n=3).collect()))
        b = sorted(map(tuple, duplicated_spans_incremental(
            batch, build_gram_census(hist, n=3), n=3).collect()))
        assert a == b

    def test_census_width_guard_raises(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans_incremental)
        hist, batch = self._split(spark)
        census = build_gram_census(hist, n=3)
        with pytest.raises(Exception, match="operator expects n=4"):
            duplicated_spans_incremental(batch, census, n=4).collect()

    def test_gram_table_batch_input(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans_incremental,
                                           gram_table)
        hist, batch = self._split(spark)
        census = build_gram_census(hist, n=3)
        direct = sorted(map(tuple, duplicated_spans_incremental(
            batch, census, n=3).collect()))
        via_gt = sorted(map(tuple, duplicated_spans_incremental(
            gram_table(batch, n=3), census, n=3).collect()))
        assert direct == via_gt

    def test_validation(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans_incremental)
        hist, batch = self._split(spark)
        with pytest.raises(ValueError, match="n must be"):
            build_gram_census(hist, n=0)
        with pytest.raises(ValueError, match="min_count"):
            duplicated_spans_incremental(
                batch, build_gram_census(hist, n=3), n=3, min_count=0)


class TestIncrementalSpanTrim:
    """Incremental destructive trim (round 10): the batch's trimmed
    output must equal the full-corpus trim over history ∪ batch
    restricted to the batch — for ANY id interleaving (only batch rows
    are emitted, so the arbitration decisions visible in the output
    are identical even when a batch doc outranks a history doc)."""

    @staticmethod
    def _split(spark):
        hist = spark.createDataFrame(
            [(0, "a b c d e f g"), (2, "x y z a b c d"), (4, "p q r s")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, "a b c d q q r"),       # later occurrence vs history
             (3, "x y z a b c d"),       # exact twin of history doc 2
             (5, "m m n n o o"),         # unique
             (7, "tiny")],               # < n tokens
            "doc_id long, text string")
        return hist, batch

    def test_matches_full_corpus_restricted(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           trim_duplicated_spans,
                                           trim_duplicated_spans_incremental)
        hist, batch = self._split(spark)
        census = build_gram_census(hist, n=3, track_first=True)
        inc = sorted(map(tuple, trim_duplicated_spans_incremental(
            batch, census, n=3, min_count=2).collect()))
        full = sorted(map(tuple, trim_duplicated_spans(
            hist.unionByName(batch), n=3, min_count=2)
            .join(batch.select("doc_id"), "doc_id", "left_semi").collect()))
        assert inc == full
        got = {r[0]: r for r in inc}
        assert got[3][3] == ""           # full twin of history: emptied
        assert got[5][2] == 0            # unique doc untouched

    def test_batch_first_keeps_batch_occurrence(self, spark):
        """A batch doc with a SMALLER id than the history doc sharing
        its gram is the corpus-wide first — the batch occurrence keeps
        its span (and history is simply not re-emitted)."""
        from caspr_spark.llm.dedup import (build_gram_census,
                                           trim_duplicated_spans_incremental)
        hist = spark.createDataFrame([(10, "a b c d")],
                                     "doc_id long, text string")
        batch = spark.createDataFrame([(1, "a b c z"), (2, "a b c w")],
                                      "doc_id long, text string")
        census = build_gram_census(hist, n=3, track_first=True)
        out = {r["doc_id"]: r for r in trim_duplicated_spans_incremental(
            batch, census, n=3, min_count=2).collect()}
        # "a b c" total count = 3; first over the union is batch doc 1
        assert out[1]["n_removed"] == 0
        assert out[1]["trimmed_text"] == "a b c z"
        assert out[2]["n_removed"] == 3 and out[2]["trimmed_text"] == "w"

    def test_tracked_fold_equals_direct_build(self, spark):
        from caspr_spark.llm.dedup import (append_gram_census,
                                           build_gram_census)
        hist, batch = self._split(spark)
        folded = sorted(map(tuple, append_gram_census(
            build_gram_census(hist, n=3, track_first=True),
            batch, n=3).collect()))
        direct = sorted(map(tuple, build_gram_census(
            hist.unionByName(batch), n=3, track_first=True).collect()))
        assert folded == direct

    def test_untracked_census_raises(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           trim_duplicated_spans_incremental)
        hist, batch = self._split(spark)
        with pytest.raises(ValueError, match="track_first"):
            trim_duplicated_spans_incremental(
                batch, build_gram_census(hist, n=3), n=3)

    def test_state_parquet_roundtrip(self, spark, tmp_path):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           load_history_keys,
                                           save_history_keys,
                                           trim_duplicated_spans_incremental)
        hist, batch = self._split(spark)
        path = str(tmp_path / "census_first")
        save_history_keys(build_gram_census(hist, n=3, track_first=True),
                          path)
        a = sorted(map(tuple, trim_duplicated_spans_incremental(
            batch, load_history_keys(spark, path), n=3).collect()))
        b = sorted(map(tuple, trim_duplicated_spans_incremental(
            batch, build_gram_census(hist, n=3, track_first=True),
            n=3).collect()))
        assert a == b


class TestSpanFamilyNullText:
    def test_null_text_passthrough_pinned(self, spark):
        """NULL-text rows pass through every span operator with NULL
        n_tokens and zero stats — never dropped, never a crash (unlike
        exact_dedup, which filters NULL keys explicitly)."""
        from caspr_spark.llm.dedup import (build_gram_census,
                                           duplicated_spans,
                                           duplicated_spans_incremental,
                                           trim_duplicated_spans)
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, None), (3, "a b c d")],
            "doc_id long, text string")
        c = {r["doc_id"]: r for r in duplicated_spans(docs, n=3).collect()}
        assert c[2]["n_tokens"] is None and c[2]["n_dup_grams"] == 0
        assert c[2]["dup_fraction"] is None
        t = {r["doc_id"]: r for r in
             trim_duplicated_spans(docs, n=3).collect()}
        assert t[2]["n_removed"] == 0 and t[2]["trimmed_text"] == ""
        census = build_gram_census(docs.filter("doc_id = 1"), n=3)
        i = {r["doc_id"]: r for r in duplicated_spans_incremental(
            docs.filter("doc_id > 1"), census, n=3).collect()}
        assert i[2]["n_tokens"] is None and i[3]["n_dup_grams"] == 2


class TestAdviceGuardsR11:
    """Round-11 ADVICE fixes: partial gram_table schemas raise instead
    of silently consuming a coincidental __hs column; an id-type
    mismatch between a first-occurrence census and a batch fails up
    front with the types named."""

    def test_partial_hs_column_raises(self, spark):
        import pytest
        from caspr_spark.llm.dedup import duplicated_spans
        trap = spark.createDataFrame(
            [(1, "a b c", "x")], "doc_id long, text string, __hs string")
        with pytest.raises(ValueError, match="missing.*not a gram_table"):
            duplicated_spans(trap, n=2)

    def test_partial_hs_raises_in_ngram_hashes(self, spark):
        import pytest
        from caspr_spark.llm.filtering import ngram_hashes
        trap = spark.createDataFrame(
            [(1, "a b c", "x")], "doc_id long, text string, __hs string")
        with pytest.raises(ValueError, match="not a gram_table"):
            ngram_hashes(trap, "doc_id", "text", 2)

    def test_full_gram_table_still_detected(self, spark):
        from caspr_spark.llm.dedup import duplicated_spans, gram_table
        docs = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "a b c d")], "doc_id long, text string")
        direct = {tuple(r) for r in duplicated_spans(docs, n=3).collect()}
        via = {tuple(r) for r in
               duplicated_spans(gram_table(docs, n=3), n=3).collect()}
        assert via == direct

    def test_census_id_type_mismatch_raises_up_front(self, spark):
        import pytest
        from caspr_spark.llm.dedup import (build_gram_census,
                                           trim_duplicated_spans_incremental)
        hist = spark.createDataFrame(
            [("a", "x y z w")], "doc_id string, text string")
        census = build_gram_census(hist, n=3, track_first=True)
        batch = spark.createDataFrame(
            [(2, "x y z w")], "doc_id long, text string")
        with pytest.raises(ValueError,
                           match="first_id type string.*bigint"):
            trim_duplicated_spans_incremental(batch, census, n=3)


class TestCensusMergeAssociativity:
    """merge_gram_censuses is the tree/LSM half of the census fold:
    ANY grouping of partial censuses must reach the one-shot state."""

    def _docs(self, spark, lo, hi):
        rows = [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5} t{i}")
                for i in range(lo, hi)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_any_grouping_reaches_oneshot(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           merge_gram_censuses)
        full = self._docs(spark, 0, 80)
        want = {r.gram_hash: (r.cnt, r.first_id, r.first_pos)
                for r in build_gram_census(full, n=3,
                                           track_first=True).collect()}
        parts = [build_gram_census(self._docs(spark, lo, hi), n=3,
                                   track_first=True)
                 for lo, hi in ((0, 17), (17, 40), (40, 41), (41, 80))]
        # left-leaning tree vs flat merge vs reversed order
        flat = merge_gram_censuses(parts, n=3)
        tree = merge_gram_censuses(
            [merge_gram_censuses(parts[:2], n=3),
             merge_gram_censuses(parts[2:], n=3)], n=3)
        rev = merge_gram_censuses(list(reversed(parts)), n=3)
        for got_df in (flat, tree, rev):
            got = {r.gram_hash: (r.cnt, r.first_id, r.first_pos)
                   for r in got_df.collect()}
            assert got == want

    def test_merge_guards(self, spark):
        from caspr_spark.llm.dedup import (build_gram_census,
                                           merge_gram_censuses)
        a = build_gram_census(self._docs(spark, 0, 5), n=3)
        b = build_gram_census(self._docs(spark, 5, 9), n=3,
                              track_first=True)
        with pytest.raises(ValueError, match="at least one"):
            merge_gram_censuses([], n=3)
        with pytest.raises(ValueError, match="tracking"):
            merge_gram_censuses([a, b], n=3)
        wrong = build_gram_census(self._docs(spark, 0, 5), n=4)
        with pytest.raises(Exception):
            merge_gram_censuses([a, wrong], n=3).collect()

    def test_key_frame_merge_split_invariance(self, spark):
        """merge_history_key_frames: any SPLIT of the day sequence
        (merged per split, then across) equals the sequential
        append_history_keys fold — the property that makes the LSM key
        state exact through compaction."""
        from caspr_spark.llm.dedup import (append_history_keys,
                                           build_history_keys,
                                           merge_history_key_frames)
        days = [spark.createDataFrame(
            [(d * 100 + i, f"text {(d * 3 + i) % 7} shared") for i in range(4)],
            "doc_id long, text string") for d in range(4)]
        seq = build_history_keys(days[0])
        for d in days[1:]:
            seq = append_history_keys(seq, d)
        want = {(r.content_key, r.history_id) for r in seq.collect()}
        frames = [build_history_keys(d) for d in days]
        for split in (1, 2, 3):
            left = merge_history_key_frames(frames[:split])
            merged = merge_history_key_frames([left] + frames[split:])
            got = {(r.content_key, r.history_id) for r in merged.collect()}
            assert got == want, split
