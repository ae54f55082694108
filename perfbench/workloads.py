"""The benchmark's workloads.

They put their work on different layers of caspr_spark:

- ``featurize_train_score``: CASPR's path. ``SequenceFeaturizer``
  ``fit_transform`` + count on a generated event log, pivot and array
  layouts (JVM-only: driver construction with its eager fit jobs,
  Catalyst, scheduling, executors, the fit cache), then
  ``fit_deep_autoencoder_ddp`` (LSTM, fixed epochs, world 4) and
  ``score`` on the pivot output (Python workers, one job round-trip per
  epoch).
- ``dedup_ingest``: near-duplicate folds of two crawl batches through
  ``dedup_corpus_sink`` onto a versioned state, a replay of the last
  batch id, a corpus compaction, a state read and ``read_dedup_corpus``.
  The write path: every fold reads the state and writes output and
  state deltas. JVM-only.

A workload is driven by ``run.py``: ``generate`` writes its inputs
(repeated to time set-up), ``warm_up`` runs the workload's code paths
once and builds what every iteration starts from, ``prepare`` readies an
iteration outside the timed spans, ``iterate`` runs the timed spans, and
``problems`` checks the outputs collected along the way.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import checks
import gen

SEQ_LEN = 5            # the pipeline queries' SEQ_N
HISTORY_DAYS = 14      # the pipeline queries' HIST_DAYS


def _event_roles():
    from caspr_spark import ColumnRoles
    return ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                       cat_cols=["event_type"], cont_cols=["value"],
                       seq_cols=["event_type", "value", "ts"],
                       date_cols=["ts"], order_tiebreak=["event_id"])


class FeaturizeTrainScore:
    """CASPR's path: featurize an event log in both layouts and collect
    it to the driver, train the LSTM autoencoder on the pivot layout's
    output and score every entity. Featurization is JVM-only (its spans
    must show no Python worker time); training and scoring run in Python
    workers with one job round-trip per epoch. Sized to fit the run's
    time budget, not to be executor-bound: per layout ~0.8 s of
    construction and ~1 s of collect, of which executor tasks keep about
    a quarter of the cores busy; ~0.7 s per epoch on 4 cores. The
    warm-up is one full iteration, checked like the timed ones."""

    name = "featurize_train_score"
    ITER_S = 8.0           # seconds per warm iteration on 4 cores
    N_EVENTS, N_USERS = 200_000, 10_000
    EPOCHS = 3
    HIDDEN = 16
    WORLD = 4

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.events = os.path.join(work, "in", "events.parquet")
        os.makedirs(os.path.dirname(self.events), exist_ok=True)
        self.collected: list[dict] = []
        self.histories: list[list[float]] = []
        self.scored: list[dict] = []

    def generate(self) -> None:
        gen.write_events(self.seed, self.events, self.N_EVENTS, self.N_USERS)

    def warm_up(self, tr) -> None:
        self.iterate(tr, 0)

    def prepare(self, i: int) -> None:
        pass

    def _featurize(self, tr, i: int, layout: str):
        from caspr_spark import SequenceFeaturizer
        from caspr_spark.sources import read_parquet_table

        with tr.span("sources.read", "build", i):
            ev = read_parquet_table(self.spark, self.events)
        with tr.span("sources.prediction_date", "action", i):
            pred = ev.agg(F.max("ts")).collect()[0][0]
        ev = ev.withColumn("prediction_date", F.lit(pred))
        feat = SequenceFeaturizer(
            roles=_event_roles(), history_days=HISTORY_DAYS,
            seq_len=SEQ_LEN, interval=True, scaling="min_max", layout=layout)
        with tr.span("pipeline.fit_transform", "build", i):
            wide, _ = feat.fit_transform(ev)
        return wide

    def _collect(self, tr, i: int, df):
        with tr.span("pipeline.collect", "action", i) as rec:
            rows = df.toPandas()
        rec["plan_ms"] = tr.plan_ms(df)
        return rows

    def iterate(self, tr, i: int) -> dict:
        from caspr_spark.cache import cache_scope
        from caspr_spark.roles import ColumnRoles
        from caspr_spark.score import score
        from caspr_spark.train_distributed import fit_deep_autoencoder_ddp

        collected = {}
        with cache_scope():
            collected["array"] = self._collect(
                tr, i, self._featurize(tr, i, "array"))
        with cache_scope():
            # the pivot output is cached by its collect, so training and
            # scoring reuse it; they see nulls filled, as in the repo's
            # training queries
            wide = self._featurize(tr, i, "wide").persist()
            try:
                collected["wide"] = self._collect(tr, i, wide)
                matrix = wide.fillna(0.0)
                roles = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                                    cat_cols=["event_type"],
                                    cont_cols=["value", "ts"],
                                    seq_cols=["event_type", "value", "ts"],
                                    non_seq_cols=[], output_cols=[])
                with tr.span("train_distributed.fit", "action", i) as fit:
                    model, history = fit_deep_autoencoder_ddp(
                        matrix, roles, SEQ_LEN, arch="lstm",
                        hidden_dim=self.HIDDEN, world_size=self.WORLD,
                        epochs=self.EPOCHS, lr=3e-3,
                        patience=self.EPOCHS + 1, seed=self.seed)
                fit["epochs"] = len(history)
                with tr.span("score.build", "build", i):
                    scored = score(
                        matrix, model, seq_len=SEQ_LEN, n_seq_cat=1,
                        n_seq_cont=2,
                        cont_cols=([f"{s}_value" for s in range(1, SEQ_LEN + 1)]
                                   + [f"{s}_ts" for s in range(1, SEQ_LEN + 1)]),
                        cat_cols=[f"{s}_event_type"
                                  for s in range(1, SEQ_LEN + 1)])
                emb = F.col("embeddings")
                finite = F.forall(emb, lambda x: ~F.isnan(x)
                                  & (F.abs(x) < F.lit(float("inf"))))
                summary = scored.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.min(F.size(emb)).alias("min_width"),
                    F.max(F.size(emb)).alias("max_width"),
                    F.sum((~finite).cast("int")).alias("nonfinite"))
                with tr.span("score.udf", "action", i) as rec:
                    row = summary.collect()[0]
                rec["plan_ms"] = tr.plan_ms(summary)
            finally:
                wide.unpersist()
        self.collected.append(collected)
        self.histories.append(history)
        self.scored.append(row.asDict())
        n_rows = len(collected["wide"])
        featurize = ("sources.", "pipeline.")
        return {"rates": {
            "rows_per_s": (self.N_EVENTS, featurize),
            "events_per_s": (self.N_EVENTS, featurize),
            "train_rows_per_s": (n_rows * len(history),
                                 ("train_distributed.fit",)),
            "score_rows_per_s": (row["rows"], ("score.",))}}

    def problems(self) -> list[str]:
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()["pipeline_events"]
        con = duckdb.connect()
        try:
            con.sql("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.events}')")
            oracle = con.sql(sql).df()
        finally:
            con.close()
        out = []
        for collected in self.collected:
            for layout, got in collected.items():
                out += checks.check_featurize(got, oracle, layout)
        return out + checks.check_train(self.histories, len(oracle),
                                        self.scored, self.HIDDEN)


class DedupIngest:
    """Production sink defaults: fast hash family, 64 hashes / 16 bands,
    threshold 0.8. Batch 0 is folded once in set-up into a snapshot; each
    iteration restores the snapshot (untimed) and folds batches 1 to
    ``FOLDS`` onto it, so every iteration does the same work against the
    same state. Several folds per iteration, each against a larger
    history, make one sample out of more work than one fold."""

    name = "dedup_ingest"
    ITER_S = 15.0          # seconds per warm iteration on 4 cores
    FOLDS = 2
    SIZES = dict(n_batches=FOLDS + 1, originals_per_batch=300,
                 exact_per_batch=50, near_per_batch=50)

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.inputs = os.path.join(work, "in", "corpus")
        self.snapshot = os.path.join(work, "snapshot")
        self.live = os.path.join(work, "live")
        os.makedirs(self.inputs, exist_ok=True)
        self.originals: list[int] = []
        self.results: list[list[str]] = []

    def generate(self) -> None:
        self.originals = gen.write_corpus(self.seed, self.inputs,
                                          **self.SIZES)

    def _sink(self, root: str):
        from caspr_spark.streaming import dedup_corpus_sink
        return dedup_corpus_sink(f"{root}/state", f"{root}/out", mode="near")

    def _batch(self, b: int):
        from caspr_spark.sources import read_parquet_table
        return read_parquet_table(self.spark, f"{self.inputs}/b{b}.parquet")

    def _listings(self):
        from caspr_spark.state import committed_output_ids, state_listing
        return ([b for b, _ in state_listing(self.spark,
                                             f"{self.live}/state")],
                committed_output_ids(self.spark, f"{self.live}/out"))

    def warm_up(self, tr) -> None:
        """Fold batch 0 into the snapshot every iteration starts from,
        then fold batch 1 onto a copy of it: the first history fold of a
        process runs ~30% slower than the next ones while the JVM
        compiles its code paths, so the timed folds are those of a
        running stream. The sink is called directly, not through
        ``foreachBatch``: jobs on a stream's thread would escape the
        span's job group."""
        shutil.rmtree(self.snapshot, ignore_errors=True)
        self._sink(self.snapshot)(self._batch(0), 0)
        self.prepare(0)
        self._sink(self.live)(self._batch(1), 1)

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snapshot, self.live)

    def iterate(self, tr, i: int) -> dict:
        from caspr_spark.llm.dedup import read_history_signatures_state
        from caspr_spark.streaming import compact_corpus, read_dedup_corpus

        sink = self._sink(self.live)
        for b in range(1, self.FOLDS + 1):
            with tr.span("sources.read", "build", i):
                batch = self._batch(b)
            with tr.span("streaming.fold", "action", i):
                sink(batch, b)
        before = self._listings()
        with tr.span("streaming.replay", "action", i):
            sink(batch, self.FOLDS)
        after = self._listings()
        with tr.span("streaming.compact", "action", i):
            compact_corpus(self.spark, f"{self.live}/out", keep_last=1)
        with tr.span("state.read", "action", i):
            read_history_signatures_state(
                self.spark, f"{self.live}/state").count()
        with tr.span("streaming.read_corpus", "build", i):
            corpus = read_dedup_corpus(self.spark, f"{self.live}/out")
        counted = corpus.groupBy().count()
        with tr.span("streaming.corpus_count", "action", i) as rec:
            counted.collect()
        rec["plan_ms"] = tr.plan_ms(counted)
        kept = corpus.select("doc_id", "text").toPandas()
        self.results.append(checks.check_dedup(
            kept, self.originals, before[0], after[0], before[1], after[1]))
        kept_bytes = int(kept["text"].str.encode("utf-8").str.len().sum())
        n_docs = self.FOLDS * (self.SIZES["originals_per_batch"]
                               + self.SIZES["exact_per_batch"]
                               + self.SIZES["near_per_batch"])
        return {"rates": {"rows_per_s": (n_docs, ("streaming.fold",)),
                          "docs_per_s": (n_docs, ("streaming.fold",))},
                "bytes_per_kept_byte": _tree_bytes(self.live) / kept_bytes}

    def problems(self) -> list[str]:
        return [p for r in self.results for p in r]


def _tree_bytes(root: str) -> int:
    """Bytes on disk under ``root``, Hadoop ``.crc`` sidecars excluded."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.endswith(".crc"))
    return total


WORKLOADS = {w.name: w for w in (FeaturizeTrainScore, DedupIngest)}
