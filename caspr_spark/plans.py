"""Physical-plan audit utilities — the 100 TB scale contract, inspectable.

``plan_digest`` reduces ``df.explain("formatted")`` output to the counts
that decide whether a plan survives a 100× scale-up: shuffle exchanges,
join strategies (a broadcast join silently degrading to sort-merge is the
classic scale regression), Python-eval nodes in hot paths (row-at-a-time
Python kills throughput; Arrow-batched ``mapInPandas``/``applyInPandas``
nodes are counted separately because they are the *intended* slow path
for custom kernels), scans of parallelized Python collections
(``rdd_scans``: their tasks start Python workers), and
``WindowGroupLimit`` pushdown (without it a top-K window sorts every
partition fully).

``tests/plan_snapshots.json`` pins these digests for the headline bench
queries; ``tools/gen_plan_snapshots.py`` regenerates it after an
intentional plan change, and ``tests/test_plans.py`` goes red on drift.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame

# node-name -> digest key; anything else is structural noise that honest
# refactors may shift (Project/Filter/ColumnarToRow counts etc.)
_TRACKED = {
    "Exchange": "shuffles",
    "BroadcastExchange": "broadcast_exchanges",
    "BroadcastHashJoin": "broadcast_hash_joins",
    "BroadcastNestedLoopJoin": "broadcast_nl_joins",
    "SortMergeJoin": "sortmerge_joins",
    "ShuffledHashJoin": "shuffled_hash_joins",
    "BatchEvalPython": "python_evals",
    "ArrowEvalPython": "python_evals",
    "MapInPandas": "pandas_kernels",
    "FlatMapGroupsInPandas": "pandas_kernels",
    "FlatMapGroupsInPandasWithState": "pandas_kernels",
    "WindowGroupLimit": "window_group_limits",
    "Window": "windows",
    "Generate": "explodes",
}

_NODE_RE = re.compile(r"^\s*\(\d+\)\s+([A-Za-z]+)", re.MULTILINE)
# a scan of a parallelized Python collection (``createDataFrame`` of
# Python rows): its tasks run in Python workers. ``_NODE_RE`` captures
# only the first word (``Scan``), so this node has its own match.
_RDD_SCAN_RE = re.compile(r"^\s*\(\d+\)\s+Scan ExistingRDD\b", re.MULTILINE)


def plan_text(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_digest(df: DataFrame) -> dict[str, int]:
    """Scale-critical node counts of the (pre-AQE) physical plan.

    Exchange counting matches tests/test_plans.py: a shuffle appears as a
    bare ``(n) Exchange`` line; ``(n) BroadcastExchange`` is tracked
    separately and never counted as a shuffle.
    """
    text = plan_text(df)
    out = {k: 0 for k in dict.fromkeys(_TRACKED.values())}
    for m in _NODE_RE.finditer(text):
        name = m.group(1)
        key = _TRACKED.get(name)
        if key:
            out[key] += 1
    out["rdd_scans"] = len(_RDD_SCAN_RE.findall(text))
    return out
