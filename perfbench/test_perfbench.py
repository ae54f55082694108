"""Tests of the benchmark's own code (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import diff  # noqa: E402
import gen  # noqa: E402
from tracing import parse_sql_metric  # noqa: E402

SMALL = dict(n_batches=2, originals_per_batch=40, exact_per_batch=6,
             near_per_batch=6)


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _corpus_shas(tmp_path, name: str, seed: int) -> list[str]:
    d = tmp_path / name
    d.mkdir()
    gen.write_corpus(seed, str(d), **SMALL)
    return [_sha(str(d / f)) for f in sorted(os.listdir(d))]


def test_generators_are_byte_deterministic_per_seed(tmp_path):
    paths = [str(tmp_path / f"e{i}.parquet") for i in range(3)]
    gen.write_events(5, paths[0], 20_000, 1_000)
    gen.write_events(5, paths[1], 20_000, 1_000)
    gen.write_events(6, paths[2], 20_000, 1_000)
    assert _sha(paths[0]) == _sha(paths[1])
    assert _sha(paths[0]) != _sha(paths[2])
    assert _corpus_shas(tmp_path, "a", 5) == _corpus_shas(tmp_path, "b", 5)
    assert _corpus_shas(tmp_path, "c", 6) != _corpus_shas(tmp_path, "d", 5)


def test_events_have_the_skew_nulls_and_unseen_types_asked_for():
    t = gen.events_table(3, 50_000, 2_000).to_pandas()
    assert len(t) == 50_000 and t.event_id.is_unique
    per_user = t.groupby("user_id").size()
    assert (per_user < 5).sum() > 200 and per_user.max() > 500
    assert 0.01 < t.value.isna().mean() < 0.03
    old = t[t.event_type.isin(gen.OLD_TYPES)]
    assert len(old) and old.ts.max() < pd.Timestamp("2024-01-08")


def _shingles(text: str) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_corpus_plants_duplicates_far_from_the_threshold():
    batches, originals = gen.corpus_batches(2, **SMALL)
    docs = pd.concat([b.to_pandas() for b in batches])
    orig = docs[docs.doc_id.isin(originals)]
    copies = docs[~docs.doc_id.isin(originals)]
    assert len(orig) == len(originals) == 80 and len(copies) == 24
    for _, c in copies.iterrows():
        best = max(_jaccard(c.text, o) for o in orig.text)
        assert best > 0.85
        src = orig[orig.text.map(lambda o: _jaccard(c.text, o)) == best]
        assert (src.doc_id < c.doc_id).all()
    texts = orig.text.tolist()
    worst = max(_jaccard(a, b) for i, a in enumerate(texts)
                for b in texts[i + 1:])
    assert worst < 0.3


@pytest.fixture(scope="module")
def pipeline_oracle(tmp_path_factory):
    import __spark_entry__

    path = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    gen.write_events(4, path, 30_000, 1_500)
    sql = __spark_entry__.oracle_sql()["pipeline_events"]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return con.sql(sql).df()


def test_featurize_check_rejects_corrupted_output(pipeline_oracle):
    good = pipeline_oracle.copy()
    assert checks.check_featurize(good, pipeline_oracle, "wide") == []
    bad = good.copy()
    bad.loc[3, "2_value"] = bad.loc[3, "2_value"] + 1e-6
    assert checks.check_featurize(bad, pipeline_oracle, "wide")
    assert checks.check_featurize(good.iloc[1:], pipeline_oracle, "wide")
    swapped = good.rename(columns={"1_ts": "x"})
    assert checks.check_featurize(swapped, pipeline_oracle, "wide")


def test_train_check_rejects_corrupted_output():
    hist = [[2.0, 1.9, 1.8], [2.0, 1.9, 1.8]]
    ok = [{"rows": 10, "min_width": 16, "max_width": 16, "nonfinite": 0}]
    assert checks.check_train(hist, 10, ok, 16) == []
    assert checks.check_train([[2.0, 2.1]], 10, ok, 16)
    assert checks.check_train([[2.0, 1.8], [2.0, 1.8000001]], 10, ok, 16)
    assert checks.check_train([[2.0, float("nan")]], 10, ok, 16)
    for key, value in (("rows", 9), ("min_width", 15), ("max_width", 17),
                       ("nonfinite", 1)):
        assert checks.check_train(hist, 10, [{**ok[0], key: value}], 16)


def test_dedup_check_rejects_corrupted_output():
    kept = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["a b", "c d", "e f"]})
    args = ([0, 1, 2], [0, 1], [0, 1], [0, 1], [0, 1])
    assert checks.check_dedup(kept, *args) == []
    dup = kept.assign(text=["a b", "A  b", "e f"])
    assert checks.check_dedup(dup, *args)
    assert checks.check_dedup(kept.iloc[:2], *args)
    assert checks.check_dedup(kept.assign(doc_id=[0, 1, 7]), *args)
    assert checks.check_dedup(kept, [0, 1, 2], [0, 1], [0, 1, 2], [0, 1],
                              [0, 1])
    assert checks.check_dedup(kept, [0, 1, 2], [0, 1], [0, 1], [0, 1],
                              [0, 1, 2])


def test_parse_sql_metric():
    assert parse_sql_metric("0 ms") == 0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n9.2 s (2.2 s, 2.4 s, "
        "2.4 s (stage 0.0: task 0))") == 9200
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 KiB, "
        "1.0 KiB, 1.0 KiB (stage 1.0: task 3))") == 1536
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")


def _record(seed, value, steal=0.1):
    return {"workload": "w", "seed": seed, "trace": 0,
            "end_to_end": {"t": value},
            "extra": {"host.cpu_steal_ratio": steal}}


def test_diff_verdicts():
    lower = {"name": "t", "better": "lower", "bound": 0.1}
    base = [_record(s, 10.0 + 0.1 * (s % 3)) for s in range(10)]
    same = diff.compare(base, [_record(s, 10.05) for s in range(10)], lower)
    assert same["verdict"] == "same"
    worse = diff.compare(base, [_record(s, 12.0) for s in range(10)], lower)
    assert worse["verdict"] == "worse" and worse["wins"] == 0
    better = diff.compare(base, [_record(s, 9.0) for s in range(10)], lower)
    assert better["verdict"] == "better" and better["wins"] == 10
    noisy = [_record(s, 10.0 + 3 * (s % 2)) for s in range(10)]
    assert diff.compare(base, noisy, lower)["verdict"] in ("unresolved",
                                                           "worse")
    wide = [_record(s, [8.0, 12.0][s % 2]) for s in range(10)]
    assert diff.compare(wide, wide, lower)["verdict"] == "unresolved"
    # one lucky pair does not make a slower median better
    one = diff.compare([_record(1, 9.5)],
                       [_record(2, 9.0)] + [_record(s, 10.4) for s in range(3, 12)],
                       lower)
    assert one["verdict"] == "same" and one["gain"] < 0


def test_diff_leaves_a_steal_gap_unresolved():
    timed = {"name": "t", "unit": "s", "better": "lower", "bound": 0.1}
    base = [_record(s, 10.0) for s in range(10)]
    calm = [_record(s, 9.0, steal=0.02) for s in range(10)]
    assert diff.compare(base, calm, timed)["verdict"] == "unresolved"
    near = [_record(s, 9.0, steal=0.09) for s in range(10)]
    assert diff.compare(base, near, timed)["verdict"] == "better"
    # memory is not steal-corrected
    rss = {"name": "t", "unit": "MB", "better": "lower", "bound": 0.1}
    assert diff.compare(base, calm, rss)["verdict"] == "better"


def test_run_refuses_a_directory_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "perfbench" / f).write_text(
                open(os.path.join(HERE, f)).read())
    (tmp_path / "BENCHMARK.json").write_text(
        open(os.path.join(ROOT, "BENCHMARK.json")).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


def test_rss_sampler_tells_a_shared_address_space_from_a_fork():
    import run

    me = os.getpid()
    assert run._shares_memory(me, me)
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert not run._shares_memory(me, child.pid)
    finally:
        child.kill()
        child.wait()


def test_benchmark_json_names_every_emitted_per_layer_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spans = [{"name": "train_distributed.fit", "kind": "action",
              "dur_s": 1.0, "jobs": 4, "epochs": 2}]
    emitted = set(run.layer_metrics(spans, {}, 4)) | {"trace.overhead_s"}
    assert emitted == {m["name"] for m in bench["per_layer"]}
