"""The single-writer lease of the streaming state sinks.

On a stream, every sink claims its state dir for the stream's query id
at the first fold. A direct caller has no query id and takes no lease.
The lease guards batch ids only: every fold, leased or not, checks the
state's stamp, so a second writer's incommensurable frames are
refused."""

import inspect
import os
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import as_stream


def _docs(spark):
    rows = [(i, f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} tail{i}")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _near_sinks(spark, tmp_path, embeddings):
    from caspr_spark.streaming import dedup_corpus_sink
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    docs = _docs(spark)
    return (dedup_corpus_sink(state, out, mode="near", hash_family="fast"),
            dedup_corpus_sink(state, out, mode="near",
                              hash_family="portable"),
            docs, "hash_family")


def _ann_sinks(spark, tmp_path, embeddings):
    from contract.common import _ivf_fixed_centroids

    from caspr_spark.streaming import ann_ingest_sink
    state = str(tmp_path / "state")
    cents = _ivf_fixed_centroids()
    other = [[c + 1.0 for c in row] for row in cents]
    return (ann_ingest_sink(state, cents), ann_ingest_sink(state, other),
            embeddings, "fingerprint")


def _pq_sinks(spark, tmp_path, embeddings):
    from contract.common import _pq_fixed_cb

    from caspr_spark.streaming import pq_ingest_sink
    state = str(tmp_path / "state")
    cb, _ = _pq_fixed_cb()
    return (pq_ingest_sink(state, cb),
            pq_ingest_sink(state, np.asarray(cb) + 1.0),
            embeddings, "fingerprint")


@pytest.mark.parametrize("make", [_near_sinks, _ann_sinks, _pq_sinks],
                         ids=["dedup_near", "ann", "pq"])
def test_unleased_sink_probes_every_fold(spark, embeddings, tmp_path, make):
    """Sink A, called directly, folds two empty batches; sink B, under
    another family / quantizer, then folds rows onto the same state
    dir. The empty frames carry A's stamp in their schema, so B's
    fold refuses before it commits anything, and A folds on."""
    from caspr_spark.state import state_listing
    a, b, rows, match = make(spark, tmp_path, embeddings)
    a(rows.limit(0), 0)
    a(rows.limit(0), 1)
    state = str(tmp_path / "state")
    before = state_listing(spark, state)
    with pytest.raises(ValueError, match=match):
        b(rows, 2)
    assert state_listing(spark, state) == before
    a(rows, 3)
    assert len(state_listing(spark, state)) == len(before) + 1


def _docs_stream(spark, tmp_path):
    docs = _docs(spark)
    src = str(tmp_path / "src")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    return lambda: (spark.readStream.schema(docs.schema)
                    .option("maxFilesPerTrigger", 1).parquet(src))


def test_dedup_corpus_two_checkpoints_refused(spark, tmp_path):
    """A restart from the same checkpoint re-claims the state dir (the
    query id lives in the checkpoint); a stream under another
    checkpoint refuses at its first fold."""
    from caspr_spark.streaming import run_dedup_corpus_to_state
    stream = _docs_stream(spark, tmp_path)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    ckpt_a = str(tmp_path / "ckptA")
    n = run_dedup_corpus_to_state(stream(), state, out, ckpt_a).count()
    assert run_dedup_corpus_to_state(stream(), state, out,
                                     ckpt_a).count() == n
    with pytest.raises(Exception, match="claimed by writer"):
        run_dedup_corpus_to_state(stream(), state, out,
                                  str(tmp_path / "ckptB"))


def test_lease_holds_the_query_id(spark, tmp_path):
    """After a drain the ``_writer`` lease names the stream's query id,
    and a restart from the same checkpoint keeps it."""
    from caspr_spark.state import describe_state
    from caspr_spark.streaming import (gram_census_sink,
                                       run_gram_census_to_state)
    stream = _docs_stream(spark, tmp_path)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    q = (stream().writeStream
         .foreachBatch(gram_census_sink(state, n=3))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert describe_state(spark, state)["writer"] == str(q.id)
    run_gram_census_to_state(stream(), state, ckpt, n=3)
    assert describe_state(spark, state)["writer"] == str(q.id)


def test_checkpoint_path_lease_refused(spark, tmp_path):
    """A lease that holds a checkpoint path is not the stream's query
    id: resuming onto that state dir refuses with the "claimed by
    writer" message, and deleting ``_writer`` hands the dir over."""
    from caspr_spark.state import claim_writer
    from caspr_spark.streaming import run_gram_census_to_state
    stream = _docs_stream(spark, tmp_path)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    claim_writer(spark, state, ckpt)
    with pytest.raises(Exception, match="claimed by writer"):
        run_gram_census_to_state(stream(), state, ckpt, n=3)
    os.remove(os.path.join(state, "_writer"))
    assert run_gram_census_to_state(stream(), state, ckpt, n=3).count()


def test_leased_and_direct_folds_start_the_same_jobs(embeddings, tmp_path,
                                                    job_group):
    """A third ``ann_ingest_sink`` fold starts as many jobs under a
    held lease as called directly: the lease skips no check, and the
    stamp check costs no job beyond the commit's schema read."""
    from contract.common import _ivf_fixed_centroids

    from caspr_spark.streaming import ann_ingest_sink
    spark = embeddings.sparkSession
    cents = _ivf_fixed_centroids()
    parts = [embeddings.filter(F.col("vec_id") % 3 == r) for r in range(3)]

    def third_fold_jobs(state, query_id):
        sink = ann_ingest_sink(state, cents)
        if query_id is None:
            sink(parts[0], 0)
            sink(parts[1], 1)
            with job_group("direct") as rec:
                sink(parts[2], 2)
            return len(rec["jobs"])
        with as_stream(spark, query_id):
            sink(parts[0], 0)
            sink(parts[1], 1)
            with job_group("leased") as rec:
                sink(parts[2], 2)
        return len(rec["jobs"])

    direct = third_fold_jobs(str(tmp_path / "direct"), None)
    leased = third_fold_jobs(str(tmp_path / "leased"), "query-A")
    assert leased == direct, (direct, leased)


def test_direct_fold_onto_claimed_dir_refused(embeddings, tmp_path):
    """A stream folds under its query id; a direct ``append_ivf_state``
    with a new batch id onto that dir then refuses before writing: its
    batch ids would interleave with the stream's. A direct replay of a
    committed batch stays a no-op."""
    from contract.common import _ivf_fixed_centroids

    from caspr_spark.llm.similarity import append_ivf_state
    from caspr_spark.state import state_listing
    from caspr_spark.streaming import ann_ingest_sink
    spark = embeddings.sparkSession
    state = str(tmp_path / "state")
    cents = _ivf_fixed_centroids()
    parts = [embeddings.filter(F.col("vec_id") % 2 == r) for r in range(2)]
    with as_stream(spark, "query-A"):
        ann_ingest_sink(state, cents)(parts[0], 0)
    before = state_listing(spark, state)
    append_ivf_state(spark, state, before[-1][0], parts[1], cents)
    with pytest.raises(RuntimeError, match="claimed by writer"):
        append_ivf_state(spark, state, before[-1][0] + 1, parts[1], cents)
    assert state_listing(spark, state) == before


def test_one_lease_claim():
    """``claim_writer`` is called in one place in ``streaming.py`` (the
    lease wrapper), and no public function there takes ``writer_id``."""
    import caspr_spark.streaming as streaming
    src = pathlib.Path(streaming.__file__).read_text()
    assert len(re.findall(r"\bclaim_writer\(", src)) == 1
    takes = [name for name, fn in inspect.getmembers(streaming,
                                                     inspect.isfunction)
             if not name.startswith("_")
             and fn.__module__ == streaming.__name__
             and "writer_id" in inspect.signature(fn).parameters]
    assert not takes, takes
