"""Property-based tests (hypothesis) for the padding truth table, rank
invariants, and scaling round-trips — the fiddly semantics SURVEY §7.3
flags as highest-risk."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from caspr_spark.operators import (
    get_rank, featurize_sequential, collect_sequences,
    normalize_columns, denormalize_columns,
)
from caspr_spark.operators.encode import PRUNED_ITEMS, PRUNED_ROWS

# derandomize: the sweeps must be reproducible in CI/driver runs — a
# fresh random seed finding a novel counterexample mid-gate would read as
# a flake, not a finding
SETTINGS = dict(max_examples=12, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


def _events_df(spark, seq_lens):
    rows = []
    eid = 0
    for u, m in enumerate(seq_lens):
        for i in range(m):
            rows.append((eid, u, f"2024-01-{i + 1:02d} 12:00:00", float(eid)))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts_s", "val"])
    return (spark.createDataFrame(pdf)
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))


class TestPaddingProperties:
    @given(seq_lens=st.lists(st.integers(1, 9), min_size=1, max_size=5),
           n=st.integers(1, 7), left_pad=st.booleans())
    @settings(**SETTINGS)
    def test_padding_truth_table(self, spark, seq_lens, n, left_pad):
        """For every (seq_len, n, pad) combination:
        - filled slot count = min(seq_len, n)
        - right pad, short: slots 1..seq_len filled, tail NULL
        - left pad, short: head NULL, slots (n-seq_len+1)..n filled
        - long histories: all n slots filled with the *latest* n values
          in ascending time order."""
        df = _events_df(spark, seq_lens)
        ranked = get_rank(df, ["user_id"], "ts", tiebreak=["event_id"])
        wide = featurize_sequential(ranked, ["user_id"], n, ["val"], left_pad)
        out = wide.toPandas().set_index("user_id").sort_index()
        assert len(out) == len(seq_lens)
        for u, m in enumerate(seq_lens):
            vals = [out.loc[u, f"{s}_val"] for s in range(1, n + 1)]
            filled = [v for v in vals if pd.notna(v)]
            assert len(filled) == min(m, n)
            # events for user u are consecutive eids ascending in time
            last = [float(e) for e in range(sum(seq_lens[:u]),
                                            sum(seq_lens[:u]) + m)][-n:]
            assert filled == last[-min(m, n):]
            if m < n:
                if left_pad:
                    assert all(pd.isna(v) for v in vals[:n - m])
                else:
                    assert all(pd.isna(v) for v in vals[m:])

    @given(seq_lens=st.lists(st.integers(1, 8), min_size=1, max_size=4),
           n=st.integers(1, 6), left_pad=st.booleans())
    @settings(**SETTINGS)
    def test_array_layout_equals_wide(self, spark, seq_lens, n, left_pad):
        """collect_sequences (scale path) == featurize_sequential (pivot)."""
        df = _events_df(spark, seq_lens)
        ranked = get_rank(df, ["user_id"], "ts", tiebreak=["event_id"])
        wide = featurize_sequential(ranked, ["user_id"], n, ["val"], left_pad) \
            .toPandas().set_index("user_id").sort_index()
        arr = collect_sequences(ranked, ["user_id"], n, ["val"], left_pad) \
            .toPandas().set_index("user_id").sort_index()
        for u in wide.index:
            seq = list(arr.loc[u, "val_seq"])
            for s in range(1, n + 1):
                w = wide.loc[u, f"{s}_val"]
                a = seq[s - 1]
                assert (pd.isna(w) and (a is None or pd.isna(a))) or w == a


class TestRankProperties:
    @given(seq_lens=st.lists(st.integers(1, 10), min_size=1, max_size=6))
    @settings(**SETTINGS)
    def test_rank_invariants(self, spark, seq_lens):
        df = _events_df(spark, seq_lens)
        ranked = get_rank(df, ["user_id"], "ts", tiebreak=["event_id"]).toPandas()
        assert (ranked.rank_asc + ranked.rank_desc == ranked.seq_len + 1).all()
        for u, grp in ranked.groupby("user_id"):
            assert sorted(grp.rank_desc) == list(range(1, len(grp) + 1))
            assert (grp.seq_len == len(grp)).all()


class TestScalingProperties:
    @given(vals=st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=2,
                         max_size=30),
           scaling=st.sampled_from(["min_max", "standard"]))
    @settings(**SETTINGS)
    def test_roundtrip_identity(self, spark, vals, scaling):
        pdf = pd.DataFrame({"x": vals})
        sdf = spark.createDataFrame(pdf)
        normed, summary = normalize_columns(sdf, ["x"], None, scaling)
        back = denormalize_columns(normed, ["x"], summary, scaling).toPandas()
        for orig, rt in zip(sorted(vals), sorted(back["x"])):
            assert rt == pytest.approx(orig, rel=1e-9, abs=1e-6)


class TestEncodeProperties:
    @given(vals=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=60))
    @settings(**SETTINGS)
    def test_codes_are_freq_desc_then_value_asc(self, spark, vals):
        from collections import Counter
        from caspr_spark.operators import fit_encoding
        df = spark.createDataFrame([(v,) for v in vals], "c string")
        enc = fit_encoding(df, ["c"])
        got = dict(enc.mappings["c"])
        counts = Counter(vals)
        want_order = sorted(counts, key=lambda v: (-counts[v], v))
        assert got == {v: i + 1 for i, v in enumerate(want_order)}

    @given(vals=st.lists(st.sampled_from("abcde"), min_size=1, max_size=40),
           cap=st.integers(1, 4))
    @settings(**SETTINGS)
    def test_cap_keeps_top_k_and_unknowns_zero(self, spark, vals, cap):
        from collections import Counter
        from caspr_spark.operators import fit_encoding
        df = spark.createDataFrame([(v,) for v in vals], "c string")
        enc = fit_encoding(df, ["c"], max_cardinality=cap)
        assert len(enc.mappings["c"]) == min(cap, len(set(vals)))
        coded = enc.apply(df).toPandas()["c"]
        counts = Counter(vals)
        kept = set(sorted(counts, key=lambda v: (-counts[v], v))[:cap])
        n_unknown = sum(1 for v in vals if v not in kept)
        assert (coded == 0).sum() == n_unknown

    @given(rows=st.lists(
        st.tuples(st.sampled_from([None, None, None, "a", "b", "c", "d"]),
                  st.sampled_from([None, None, None, 1, 2, 3, 4, 5])),
        max_size=40),
        cap=st.integers(1, 4))
    @settings(**SETTINGS)
    def test_two_column_fit_matches_reference(self, spark, rows, cap):
        """A string and an int column with frequent nulls: the mappings
        and both prune stats equal a pure-Python fit. Nulls are never
        ranked (a ranked null group would often take code 1 and shift
        every other code) and a null row is never counted as kept."""
        from collections import Counter
        from caspr_spark.operators import fit_encoding
        cols = ["s", "i"]
        df = spark.createDataFrame(rows, "s string, i int")
        enc = fit_encoding(df, cols, max_cardinality=cap)

        mappings, keep, fracs = {}, {}, []
        for j, c in enumerate(cols):
            counts = Counter(r[j] for r in rows if r[j] is not None)
            order = sorted(counts, key=lambda v: (-counts[v], v))
            mappings[c] = [(v, k + 1) for k, v in enumerate(order[:cap])]
            if len(counts) > cap:
                keep[j] = set(order[:cap])
                fracs.append(1 - cap / len(counts))
        assert enc.mappings == mappings
        if fracs:
            kept = sum(all(r[j] in vals for j, vals in keep.items())
                       for r in rows)
            want = {PRUNED_ITEMS: sum(fracs) / len(fracs),
                    PRUNED_ROWS: 1 - kept / len(rows)}
        else:
            want = {PRUNED_ITEMS: 0.0, PRUNED_ROWS: 0.0}
        assert enc.stats == want


class TestAsofProperties:
    @given(
        lefts=st.lists(st.tuples(st.integers(1, 3), st.integers(0, 50)),
                       min_size=1, max_size=15),
        rights=st.lists(st.tuples(st.integers(1, 3), st.integers(0, 50),
                                  st.floats(-10, 10, allow_nan=False)),
                        min_size=1, max_size=15))
    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_asof_matches_duckdb_on_random_data(self, spark, lefts, rights):
        import duckdb
        from pyspark.sql import functions as F
        from caspr_spark.operators.joins import asof_join
        # distinct (key, ts) on the right, as the operator contract requires
        seen = set()
        rights = [r for r in rights
                  if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]
        ldf = spark.createDataFrame(
            [(i, k, f"2024-01-01 00:{m:02d}:00") for i, (k, m) in
             enumerate(lefts) if m < 60], "lid long, k long, ts_s string") \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        rdf = spark.createDataFrame(
            [(k, f"2024-01-01 00:{m:02d}:00", v) for k, m, v in rights
             if m < 60], "k long, ts_s string, val double") \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        got = asof_join(ldf, rdf, on=["k"], value_cols=["val"]) \
            .select("lid", "val_asof").toPandas() \
            .sort_values("lid").reset_index(drop=True)
        con = duckdb.connect()
        con.register("l", ldf.toPandas())
        con.register("r", rdf.toPandas())
        want = con.sql("""
            SELECT l.lid, r.val AS val_asof FROM l
            ASOF LEFT JOIN r ON l.k = r.k AND r.ts <= l.ts
            ORDER BY l.lid""").df()
        a = got["val_asof"].fillna(-999).values
        b = want["val_asof"].fillna(-999).values
        assert len(a) == len(b) and (abs(a - b) < 1e-9).all()


class TestRoundFiveProperties:
    """Property sweeps for the round-5 timeseries/dedup additions."""

    @given(events=st.lists(
        st.tuples(st.integers(0, 2),               # user
                  st.integers(0, 20),              # day offset
                  st.sampled_from(["view", "click", "purchase"])),
        min_size=1, max_size=25))
    @settings(**SETTINGS)
    def test_multitouch_credit_conservation(self, spark, events):
        """For ANY event stream and every model: per-conversion credit
        sums to exactly 1.0, and no touch after a user's last conversion
        ever receives credit."""
        from caspr_spark.operators.timeseries import attribute_multitouch
        rows = [(i, u, t, f"2024-01-{1 + d:02d} 12:00:00")
                for i, (u, d, t) in enumerate(events)]
        df = (spark.createDataFrame(
                rows, "event_id long, user_id long, event_type string, ts_s string")
              .withColumn("ts", F.col("ts_s").cast("timestamp"))
              .drop("ts_s"))
        n_conv = sum(1 for _, _, t in events if t == "purchase")
        for model in ("linear", "position", "time_decay"):
            out = attribute_multitouch(df, model=model,
                                       tiebreak=["event_id"]).collect()
            sums: dict[int, float] = {}
            for r in out:
                sums[r.event_id] = sums.get(r.event_id, 0.0) + r.credit
            assert len(sums) == n_conv, model
            for cid, s in sums.items():
                assert abs(s - 1.0) < 1e-6, (model, cid, s)

    @given(vals=st.lists(st.floats(-100, 100).map(lambda v: round(v, 2)),
                         min_size=1, max_size=30),
           span_days=st.integers(1, 5),
           include_current=st.booleans())
    @settings(**SETTINGS)
    def test_rolling_features_match_pandas(self, spark, vals, span_days,
                                           include_current):
        """Trailing-window aggregates agree with a brute-force pandas
        recomputation for any values/window/inclusivity."""
        from caspr_spark.operators.timeseries import rolling_features
        rows = [(i, 0, float(v), f"2024-01-{1 + (i % 20):02d} 06:00:00")
                for i, v in enumerate(vals)]
        df = (spark.createDataFrame(
                rows, "event_id long, user_id long, value double, ts_s string")
              .withColumn("ts", F.col("ts_s").cast("timestamp"))
              .drop("ts_s"))
        got = {r.event_id: r for r in rolling_features(
            df, window=f"{span_days} days",
            include_current=include_current, suffix="w").collect()}
        pdf = df.toPandas()
        for i, row in pdf.iterrows():
            lo = row.ts - pd.Timedelta(days=span_days)
            m = (pdf.ts >= lo) & ((pdf.ts <= row.ts) if include_current
                                  else (pdf.ts < row.ts))
            sub = pdf[m]
            r = got[row.event_id]
            assert r.count_w == len(sub)
            if len(sub):
                cents = (sub.value * 100).round().astype("int64").sum()
                assert r.sum_w == round(cents / 100.0, 2)
                assert r.min_w == sub.value.min()
                assert r.max_w == sub.value.max()
            else:
                assert r.sum_w is None and r.min_w is None

    @given(texts=st.lists(st.integers(0, 5), min_size=2, max_size=14))
    @settings(**SETTINGS)
    def test_incremental_dedup_partition_invariant(self, spark, texts):
        """Splitting any corpus into (history, batch) and running the
        exact mode keeps exactly the batch docs whose normalized text
        does not occur in history."""
        from caspr_spark.llm.dedup import dedup_against_history
        corpus = [f"document body number {t} with shared phrasing"
                  for t in texts]
        half = len(corpus) // 2
        hist = spark.createDataFrame(
            list(enumerate(corpus[:half])), "doc_id long, text string")
        batch = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(corpus[half:])],
            "doc_id long, text string")
        kept, _ = dedup_against_history(batch, hist, mode="exact")
        got = {r.doc_id for r in kept.collect()}
        hist_set = set(corpus[:half])
        want = {100 + i for i, t in enumerate(corpus[half:])
                if t not in hist_set}
        assert got == want


class TestStateProtocolProperties:
    @given(plan=st.lists(st.sampled_from(["fold", "replay", "prune"]),
                         min_size=3, max_size=6),
           compact_every=st.integers(2, 3))
    @settings(max_examples=6, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_key_state_any_fold_replay_prune_sequence(self, spark, plan,
                                                      compact_every):
        """Round-14 protocol sweep: ANY interleaving of daily folds,
        post-crash replays of the newest committed day, and TTL prunes
        must leave the versioned key table read-identical to the plain
        sequential first-seen-wins fold of the same days — the
        protocol's whole contract (replay skip, compaction merge,
        prune retention) under randomized schedules instead of the
        hand-picked ones the unit tests pin."""
        import hashlib
        import tempfile

        from caspr_spark.llm.dedup import (append_history_keys_state,
                                           read_history_keys_state)
        from caspr_spark.state import prune_state, state_listing

        state = tempfile.mkdtemp(prefix="prop_keys_")
        # overlapping texts across days so first-seen-wins matters
        def day_docs(d):
            return [(d * 10 + i, f"shared text {(d + i) % 4}")
                    for i in range(3)]

        expected = {}          # md5(text) -> first-seen history_id
        day = 0
        folded_any = False
        for step in plan:
            if step == "fold" or not folded_any:
                day += 1
                docs = day_docs(day)
                append_history_keys_state(
                    spark, state,  day,
                    spark.createDataFrame(docs,
                                          "doc_id long, text string"),
                    compact_every=compact_every)
                folded_any = True
                per_text = {}
                for i, t in docs:
                    per_text[t] = min(per_text.get(t, i), i)
                for t, i in per_text.items():
                    expected.setdefault(
                        hashlib.md5(t.encode()).hexdigest(), i)
            elif step == "replay":
                last = max(b for b, _ in state_listing(spark, state))
                append_history_keys_state(
                    spark, state, last,
                    spark.createDataFrame(day_docs(last),
                                          "doc_id long, text string"),
                    compact_every=compact_every)   # must be a no-op
            else:
                prune_state(spark, state, keep_last=2)
            got = {(r.content_key, r.history_id) for r in
                   read_history_keys_state(spark, state).collect()}
            assert got == set(expected.items()), \
                f"diverged after {plan} at step {step!r}"

    @given(assign=st.lists(st.integers(0, 3), min_size=4, max_size=10),
           replay_at=st.integers(0, 3))
    @settings(max_examples=5, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_corpus_sink_one_survivor_any_carving(self, spark, assign,
                                                  replay_at):
        """The streaming corpus sink's certified invariant, swept over
        random batch carvings: HOWEVER docs (with duplicated texts)
        are split into micro-batches, and wherever a replay lands, the
        committed corpus holds exactly one survivor per normalized
        content key."""
        import hashlib
        import tempfile

        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)
        texts = [f"corpus text number {i % 5}" for i in range(len(assign))]
        docs = [(i, t) for i, (t, _) in enumerate(zip(texts, assign))]
        state = tempfile.mkdtemp(prefix="prop_corpus_s_")
        out = tempfile.mkdtemp(prefix="prop_corpus_o_")
        sink = dedup_corpus_sink(state, out)
        n_batches = max(assign) + 1
        for b in range(n_batches):
            rows = [(i, t) for (i, t), a in zip(docs, assign) if a == b]
            batch = spark.createDataFrame(
                rows or [], "doc_id long, text string")
            sink(batch, b + 1)
            if b == replay_at:
                sink(batch, b + 1)             # replay: must be a no-op
        kept = read_dedup_corpus(spark, out).collect()
        keys = [hashlib.md5(r.text.encode()).hexdigest() for r in kept]
        want = {hashlib.md5(t.encode()).hexdigest() for _, t in docs}
        assert len(keys) == len(set(keys)) == len(want)
        assert set(keys) == want

    @given(plan=st.lists(st.sampled_from(["A", "B"]), min_size=3,
                         max_size=5))
    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_corpus_sink_two_writers_any_interleaving(self, spark, plan):
        """Two streams misconfigured onto one state dir, their folds
        interleaved at random, each numbering batches from 0: the
        stream that folds first holds the lease, every fold of the
        other refuses before writing anything, and the committed corpus
        and key state equal the first stream's folds alone (the
        first-seen-wins exact dedup of its batches)."""
        import hashlib
        import os
        import tempfile

        from conftest import as_stream

        from caspr_spark.llm.dedup import read_history_keys_state
        from caspr_spark.streaming import (dedup_corpus_sink,
                                           read_dedup_corpus)

        def files(*dirs):
            return sorted(os.path.join(root, f) for d in dirs
                          for root, _, fs in os.walk(d) for f in fs)

        state = tempfile.mkdtemp(prefix="prop_lease_s_")
        out = tempfile.mkdtemp(prefix="prop_lease_o_")
        sinks = {w: dedup_corpus_sink(state, out) for w in "AB"}
        next_id = {"A": 0, "B": 0}
        owner, kept = plan[0], {}          # text -> first-seen doc id
        for w in plan:
            b = next_id[w]
            next_id[w] += 1
            base = 100 * b + (0 if w == "A" else 1000)
            rows = [(base + i, f"shared text {(b + i) % 4}")
                    for i in range(3)]
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            with as_stream(spark, f"query-{w}"):
                if w == owner:
                    sinks[w](batch, b)
                    for i, t in sorted(rows):
                        kept.setdefault(t, i)
                    continue
                before = files(state, out)
                with pytest.raises(RuntimeError, match="claimed by writer"):
                    sinks[w](batch, b)
                assert files(state, out) == before, f"{plan}: {w} wrote"

        got = {(r.doc_id, r.text)
               for r in read_dedup_corpus(spark, out).collect()}
        assert got == {(i, t) for t, i in kept.items()}, plan
        keys = {(r.content_key, r.history_id)
                for r in read_history_keys_state(spark, state).collect()}
        assert keys == {(hashlib.md5(t.encode()).hexdigest(), i)
                        for t, i in kept.items()}, plan
