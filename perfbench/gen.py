"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed writes byte-identical parquet files (``test_perfbench``
pins this). The program under test only ever sees the files written
here, never the generator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The events schema of the repo's fixture tables, so the pipeline's
# DuckDB oracle SQL applies unchanged.
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
CORPUS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

_T0_US = 1_704_067_200_000_000        # 2024-01-01T00:00:00
_DAY_US = 86_400_000_000
_SPAN_DAYS = 30
EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "refund"]
_EVENT_P = [0.40, 0.25, 0.15, 0.10, 0.07, 0.03]
# Types that only occur in the first week, i.e. before any 14-day history
# window that ends on day 30: the fitted encoding never sees them.
OLD_TYPES = ["legacy_a", "legacy_b", "legacy_c"]
VALUE_NULL_P = 0.02
CORPUS_VOCAB = 4000
CORPUS_WORDS = (60, 160)     # words per original document, [low, high)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20,
                   compression="snappy")


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """An event log with per-entity skew.

    Per-user event counts are lognormal (sigma 1.5), so most users have
    a handful of events (many below the pipeline's ``seq_len`` inside the
    history window) while a few have thousands. ``value`` is null on
    ~2% of rows; ``OLD_TYPES`` occur only before day 8.
    """
    rng = np.random.default_rng([seed, 1])
    weights = rng.lognormal(0.0, 1.5, n_users)
    counts = np.maximum(1, np.floor(weights / weights.sum() * n_events))
    counts = counts.astype(np.int64)
    # top the total up to exactly n_events on the heaviest user
    counts[np.argmax(counts)] += n_events - counts.sum()
    user = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    ts = _T0_US + rng.integers(0, _SPAN_DAYS * _DAY_US, n_events)
    etype = rng.choice(len(EVENT_TYPES), n_events, p=_EVENT_P)
    names = np.array(EVENT_TYPES + OLD_TYPES, dtype=object)
    old = (ts < _T0_US + 7 * _DAY_US) & (rng.random(n_events) < 0.05)
    etype = np.where(old, len(EVENT_TYPES)
                     + rng.integers(0, len(OLD_TYPES), n_events), etype)
    value = np.round(rng.gamma(2.0, 40.0, n_events), 2)
    value_null = rng.random(n_events) < VALUE_NULL_P
    props = rng.integers(0, 100, n_events)
    order = np.lexsort((user, ts))            # event_id follows time
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(user[order]),
        "event_type": pa.array(names[etype[order]], pa.string()),
        "value": pa.array(value[order], mask=value_null[order]),
        "props": pa.array([f'{{"k": {k}}}' for k in props[order]],
                          pa.string()),
    }, schema=EVENTS_SCHEMA)


def write_events(seed: int, path: str, n_events: int, n_users: int) -> None:
    _write(events_table(seed, n_events, n_users), path)


def _zipf_words(rng, n: int) -> np.ndarray:
    """``n`` word ids from a Zipf(1.1) law truncated to ``CORPUS_VOCAB``
    words: a few very common words make common shingles across
    documents."""
    ranks = np.arange(1, CORPUS_VOCAB + 1, dtype=np.float64)
    p = ranks ** -1.1
    return rng.choice(CORPUS_VOCAB, n, p=p / p.sum())


def corpus_batches(seed: int, n_batches: int, originals_per_batch: int,
                   exact_per_batch: int, near_per_batch: int):
    """A crawl split into ``n_batches`` micro-batches.

    Each batch holds ``originals_per_batch`` fresh documents plus
    re-crawls of documents from this or an earlier batch:
    ``exact_per_batch`` byte-identical copies and ``near_per_batch``
    copies with one word replaced (3-shingle Jaccard > 0.9, far above
    the 0.8 threshold). Re-crawls get fresh, larger ids than their
    source, so a correct dedup keeps exactly the originals. Distinct
    originals share only Zipf-common shingles (Jaccard far below 0.8).

    Returns ``(batches, originals)``: a list of pyarrow tables and the
    sorted list of original ids.
    """
    rng = np.random.default_rng([seed, 2])
    lex = np.array([f"w{i}" for i in range(CORPUS_VOCAB)], dtype=object)
    texts: list[str] = []
    batches, originals = [], []
    next_id = 0
    for _ in range(n_batches):
        ids, body = [], []
        for _ in range(originals_per_batch):
            n = int(rng.integers(*CORPUS_WORDS))
            texts.append(" ".join(lex[_zipf_words(rng, n)]))
            ids.append(next_id)
            body.append(texts[-1])
            originals.append(next_id)
            next_id += 1
        for k in range(exact_per_batch + near_per_batch):
            src = texts[int(rng.integers(0, len(texts)))]
            if k >= exact_per_batch:
                toks = src.split(" ")
                j = int(rng.integers(0, len(toks)))
                toks[j] = f"x{int(rng.integers(0, 1 << 30))}"
                src = " ".join(toks)
            ids.append(next_id)
            body.append(src)
            next_id += 1
        batches.append(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(body, pa.string())},
                                schema=CORPUS_SCHEMA))
    return batches, originals


def write_corpus(seed: int, dir_path: str, **sizes) -> list[int]:
    """Write ``corpus_batches`` as ``dir_path/b{i}.parquet``; returns
    the planted original ids."""
    batches, originals = corpus_batches(seed, **sizes)
    for i, t in enumerate(batches):
        _write(t, f"{dir_path}/b{i}.parquet")
    return originals
