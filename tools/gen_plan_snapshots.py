"""Regenerate tests/plan_snapshots.json — the pinned physical-plan digests.

Run after an INTENTIONAL plan change:

    python tools/gen_plan_snapshots.py            # re-pin every snapshot
    python tools/gen_plan_snapshots.py q1 q2 ...  # ...and add q1, q2

The snapshot set is the set of names already pinned in the JSON file
(what tests/test_plans.py parametrizes over) plus any named on the
command line: batch queries with a lazily-planned result DataFrame
(streaming memory sinks and driver-side training loops have no single
plan to pin, and an iterative query whose result is a localCheckpoint
scan, like dedup_keep_best, has no stable declarative one). Builds each from ``__spark_entry__.queries()`` at sf0.001
(plans only; construction-time fits/collects run on the tiny SF) and
writes the ``caspr_spark.plans.plan_digest`` of each. tests/test_plans.py
fails on any drift, so a broadcast join degrading to sort-merge or a
Python eval node sneaking into a hot path is caught in CI, not at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SNAP_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "plan_snapshots.json")


def main() -> None:
    import __spark_entry__ as entrymod
    from caspr_spark import get_spark
    from caspr_spark.plans import plan_digest

    spark = get_spark("plan-snapshots", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    with open(OUT) as f:
        names = set(json.load(f)) | set(sys.argv[1:])
    snaps: dict[str, dict[str, int]] = {}
    for name in sorted(names):
        spark.catalog.clearCache()  # digests are pinned against a cold cache
        snaps[name] = plan_digest(qs[name](spark, SF_DIR))
        print(f"{name}: {snaps[name]}")
    with open(OUT, "w") as f:
        json.dump(snaps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
