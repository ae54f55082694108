"""Cache-lifetime discipline for operators that ``persist()`` intermediates.

Several operators cache a relation that their returned (lazy) DataFrame
consumes more than once — the hashed LSH projections in
``llm.similarity.embedding_near_duplicates``, the shingle signatures in
``llm.dedup.minhash_lsh_dedup``, the winnowing fingerprints in
``llm.dedup.winnow_pairs``, the tf-idf weights in
``llm.search.related_documents``, the featurizer's long relation in
``pipeline``, and the prefix-sum frame in
``operators.sampling.global_running_sum``. The cache must outlive the
operator call (the result is consumed lazily, often twice), so the
operator itself cannot unpersist — a one-shot caller relies on Spark's
LRU block eviction, which is correct but leaves storage-memory pressure
to chance in loop-shaped workloads (grid searches, per-partition-date
reruns) where dozens of stale cached relations pile up.

``cache_scope`` makes the lifetime explicit::

    with cache_scope():
        pairs = minhash_lsh_dedup(docs).collect()   # materialize INSIDE
    # every relation the call persisted is unpersisted here

Operators report their persisted handles through :func:`register_cache`,
which is a no-op when no scope is active — one-shot callers keep the
exact LRU behavior they had. Scopes nest; each handle is released by the
innermost scope active when it was created. The contract is that results
are MATERIALIZED inside the scope. For MOST persist-backed results an
escaped un-collected DataFrame still recomputes its (correct) lineage
without the cache; for CHECKPOINT-backed results (the iterative
operators — PageRank, connected components — register
:class:`CheckpointHandle` releases) there is no lineage to recompute: an
escaped result collected after scope exit raises, by design —
materialize inside the scope.

**Exception to the recompute-correctly rule**: results carrying
DRIVER-COLLECTED values derived from a persisted frame —
``global_running_sum``'s per-partition offsets and everything built on
it (``stratified_sample_exact``, ``downsample_to_cap``,
``ntile_distributed``/RFM, ``pack_sequences_offset``,
``sorted_neighborhood``, exact ROC-AUC) — are NOT safe to escape: if the
scope releases the range-partitioned frame before materialization,
recomputation re-samples the range boundaries while the baked-in offsets
describe the old ones, yielding silently wrong rows, not an error. Those
results MUST be materialized inside the scope (their docstrings repeat
this); the DEFAULT path deliberately has no checkpoint fallback — the
loud-fail variant would put a lineage-truncating checkpoint on the hot
path of every call to guard a contract violation.

**Strict mode** is the opt-in tripwire for exactly that violation:
``cache_scope(strict=True)`` (or ``CASPR_STRICT_SCOPE=1`` in the
environment, which makes EVERY scope strict — the debug-run switch)
makes :func:`global_running_sum` pin its range-partitioned frame with
an eager ``localCheckpoint`` instead of a ``persist``. While the scope
lives, behavior and results are identical (the checkpoint freezes the
very boundaries the offsets were collected against); after the scope
releases the checkpoint there is NO lineage to recompute, so an escaped
consumer FAILS LOUDLY on materialization instead of silently returning
re-sampled rows. Turn it on in tests and loop-shaped debug runs. Cost:
the eager checkpoint is one extra materialization per scan, but the
leaf plan it leaves behind is cheaper to re-analyze downstream — on a
2M-row tape strict mode measured NOT slower than the default persist
(SCALING_r12.md: 1.42 s strict vs 3.84 s persist); it stays opt-in
because the balance depends on storage locality, not because it is
known-expensive.
"""

from __future__ import annotations

import contextlib
import os
import threading
from typing import Iterator

from pyspark.sql import DataFrame

_scopes = threading.local()


class _ScopeHandles(list):
    """The per-scope handle list, carrying the scope's strict flag."""

    def __init__(self, strict: bool = False):
        super().__init__()
        self.strict = strict


def strict_scope_active() -> bool:
    """True when prefix-scan producers should trade a lineage-truncating
    eager checkpoint for loud failure of escaped consumers: ANY active
    :func:`cache_scope` on this thread was entered with
    ``strict=True`` (a helper's plain nested scope must not silently
    disarm its caller's opt-in — the handle still registers with the
    innermost scope, but strictness is an outer promise), or
    ``CASPR_STRICT_SCOPE=1`` is set (which makes every scope — and
    scope-less calls — strict). Retention note for the env-var form:
    a SCOPE-LESS strict producer has no scope to release its handle,
    so its checkpoint blocks stay persisted until the driver GCs the
    result DataFrame (ContextCleaner frees them then) — a long strict
    debug session calling scope-less prefix scans in a loop
    accumulates storage blocks while the results stay reachable. That
    is the deliberate price of arming the tripwire globally (falling
    back to plain persist would disarm exactly what was armed); bound
    it by wrapping loops in a ``cache_scope``."""
    if os.environ.get("CASPR_STRICT_SCOPE") == "1":
        return True
    stack = getattr(_scopes, "stack", None)
    return bool(stack) and any(getattr(s, "strict", False) for s in stack)


class CheckpointHandle:
    """:func:`cache_scope`-compatible release handle for a ``localCheckpoint``.

    A checkpointed DataFrame has no DataFrame-level unpersist (the
    CacheManager doesn't know about the backing RDD; it is freed only
    when the driver GCs the RDD reference) — this wraps the checkpoint's
    persistent-RDD ids so release is deterministic. Duck-typed to the
    ``unpersist(blocking=...)`` surface :func:`register_cache` expects.
    After release the checkpoint CANNOT recompute (lineage is truncated):
    results built on it must be materialized before the handle fires —
    which is the :func:`cache_scope` contract anyway.
    """

    def __init__(self, sc, rdd_ids: set[int]):
        self._sc = sc
        self._ids = rdd_ids

    def unpersist(self, blocking: bool = False) -> None:
        try:
            jmap = self._sc._jsc.getPersistentRDDs()
            for k in jmap.keySet().toArray():
                if int(k) in self._ids:
                    jmap.get(k).unpersist(blocking)
        except Exception:  # session already stopped — nothing to free
            pass


def checkpoint_leaf(df: DataFrame) -> tuple[DataFrame, CheckpointHandle]:
    """Eagerly ``localCheckpoint`` ``df`` into a LEAF-plan DataFrame.

    Returns the leaf DataFrame plus a deterministic release handle. The
    checkpoint's persistent-RDD id is read DIRECTLY off the returned
    plan (a ``LogicalRDD`` wrapping the checkpointed RDD) — never by
    diffing the context-global registry, which under concurrent
    checkpoints/persists would cross-capture another thread's ids and
    release someone else's live blocks. If the plan shape ever stops
    exposing the RDD (Spark version drift), the handle degrades to a
    no-op and the checkpoint falls back to ContextCleaner GC release.

    The leaf plan is what makes ITERATIVE operators cheap: a
    ``persist()`` caches data but keeps the full logical plan, so an
    upstream producer (LSH banding, winnowing self-joins) is re-analyzed
    — or, unpersisted, re-EXECUTED — inside every iteration's nested
    plan, with analysis cost growing geometrically in iteration depth.
    """
    sc = df.sparkSession.sparkContext
    out = df.localCheckpoint(eager=True)
    try:
        rdd_ids = {int(out._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:
        rdd_ids = set()
    return out, CheckpointHandle(sc, rdd_ids)


def register_cache(df: DataFrame) -> DataFrame:
    """Record a just-``persist()``-ed DataFrame with the active
    :func:`cache_scope`, if any. Returns ``df`` for chaining."""
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextlib.contextmanager
def cache_scope(blocking: bool = False,
                strict: bool = False) -> Iterator[list[DataFrame]]:
    """Unpersist every relation cached by operators inside the block.

    Yields the (mutable) list of registered handles, mostly for tests.
    ``blocking=True`` waits for block removal — useful when the very
    next statement re-persists similarly-sized data and eviction racing
    allocation would spill. ``strict=True`` arms the stale-offset
    tripwire for prefix-scan consumers created inside this scope (see
    the module docstring): escaped results raise on materialization
    after the scope exits instead of silently re-sampling.
    """
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    handles: _ScopeHandles = _ScopeHandles(strict=strict)
    stack.append(handles)
    try:
        yield handles
    finally:
        stack.pop()
        for d in handles:
            try:
                d.unpersist(blocking=blocking)
            except Exception:  # session already stopped — nothing to free
                pass
