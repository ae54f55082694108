"""Capture ``.explain("formatted")`` snapshots for an optimization
evidence trail.

Usage:
    python tools/capture_plans.py ROUND before q1 q2 ...
    python tools/capture_plans.py ROUND after  q1 q2 ...

Writes ``plans/<ROUND>/<query>_<phase>.txt`` with the formatted physical plan
of each named ``queries()`` entry, built at $PLAN_SF_DIR (default sf0.1 —
the scale the bench runs at, so the snapshots show the plan the timings
correspond to). Construction-time fits/collects run; streaming queries
(no single batch plan) are skipped with a note.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "plans")


def main() -> int:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        print(__doc__)
        return 2
    round_name, phase, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(PLANS_DIR, round_name)

    import __spark_entry__ as entrymod
    from caspr_spark import get_spark
    from caspr_spark.cache import cache_scope

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        with cache_scope():
            try:
                df = qs[name](spark, SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            except Exception as exc:  # streaming/driver-loop queries
                print(f"SKIP {name}: {exc}")
                continue
        path = os.path.join(out_dir, f"{name}_{phase}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('SortMergeJoin')} SMJ, "
              f"{plan.count('BroadcastHashJoin')} BHJ, "
              f"{plan.count('EvalPython')} PyEval)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
