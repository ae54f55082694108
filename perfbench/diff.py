"""Compare two sets of benchmark runs, per workload and per metric.

Usage:

    python3 perfbench/diff.py BASE CHANGE

BASE and CHANGE are files or directories of captured ``run.py`` stdout;
every ``{"record": ...}`` line in them is one run. For each workload and
each end-to-end metric of ``BENCHMARK.json`` the tool prints both
medians and quartiles, the change as a share of the base median (signed
so that positive is better), the pair win rate and a verdict:

- ``worse``: the change's median is worse than the base's by more than
  the metric's bound;
- ``unresolved``: not worse by the bound, but either side's run-to-run
  spread (quartile distance / median) exceeds the bound and the change
  does not win every pair; or, for a time or rate, the two sides' median
  host CPU steal differs by more than a third of the bound. Times are
  wall time less the stolen share of busy CPU time, a correction that
  does not see other tenants' effect on caches and memory bandwidth, so
  it cannot be trusted to cancel a steal gap between the sides; re-run
  them interleaved;
- ``better``: its median is better, it wins at least nine tenths of the
  pairs, and the medians differ by more than the base's spread;
- ``same``: otherwise.

Runs are paired by seed where both sides have it, else in order. Beside
the verdicts it prints, without a verdict, the raw wall time per
iteration (``iter_wall_s.p50``, no steal correction) with its gain and
spread, so that a gain that exists only after the correction shows.
Traced records (``--trace 1``) contribute their per-layer medians,
printed without a verdict. Exits 1 when any verdict is ``worse``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STEAL_CORRECTED_UNITS = ("s", "1/s")


def load_records(path: str) -> list[dict]:
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.startswith('{"record"'):
                    out.append(json.loads(line)["record"])
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def pairs(base: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    by_seed = {r["seed"]: r for r in base}
    if all(r["seed"] in by_seed for r in change):
        return [(by_seed[r["seed"]], r) for r in change]
    return list(zip(base, change))


def steal_gap(base: list[dict], change: list[dict]) -> float:
    """Change minus base median share of CPU time the host withheld."""
    def med(rs):
        return statistics.median(r["extra"]["host.cpu_steal_ratio"]
                                 for r in rs)
    return med(change) - med(base)


def compare(base: list[dict], change: list[dict], metric: dict,
            section: str = "end_to_end") -> dict:
    name, sign = metric["name"], (1 if metric["better"] == "higher" else -1)
    a = [r[section][name] for r in base]
    b = [r[section][name] for r in change]
    ma, mb = statistics.median(a), statistics.median(b)
    gain = sign * (mb - ma) / abs(ma)
    prs = pairs(base, change)
    wins = sum(1 for x, y in prs
               if sign * (y[section][name] - x[section][name]) > 0)
    worst_spread = max(spread(a), spread(b))
    all_better = min(sign * v for v in b) > max(sign * v for v in a)
    steal = (steal_gap(base, change)
             if metric.get("unit") in STEAL_CORRECTED_UNITS else 0.0)
    if abs(steal) > metric["bound"] / 3:
        verdict = "unresolved"
    elif gain < -metric["bound"]:
        verdict = "worse"
    elif worst_spread > metric["bound"] and not all_better:
        verdict = "unresolved"
    elif (gain > 0 and wins >= 0.9 * len(prs)
          and abs(mb - ma) > spread(a) * abs(ma)):
        verdict = "better"
    else:
        verdict = "same"
    return {"metric": name, "base": quartiles(a), "change": quartiles(b),
            "gain": gain, "wins": wins, "pairs": len(prs),
            "spread": worst_spread, "bound": metric["bound"],
            "verdict": verdict}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, change = (load_records(p) for p in argv)
    worse = False
    for wl in [w["name"] for w in bench["workloads"]]:
        a = [r for r in base if r["workload"] == wl and not r["trace"]]
        b = [r for r in change if r["workload"] == wl and not r["trace"]]
        if a and b:
            print(f"== {wl}: {len(a)} base runs, {len(b)} change runs, "
                  f"steal gap {steal_gap(a, b):+.3f}")
            for m in bench["end_to_end"]:
                c = compare(a, b, m)
                worse |= c["verdict"] == "worse"
                print(_line(c) + f"  {c['verdict']}")
            raw = {"name": "iter_wall_s.p50", "better": "lower", "bound": 0.0}
            print(_line(compare(a, b, raw, "extra")) + "  (raw wall, "
                  "no verdict)")
        ta = [r for r in base if r["workload"] == wl and r["trace"]]
        tb = [r for r in change if r["workload"] == wl and r["trace"]]
        if ta and tb:
            print(f"-- {wl} per layer (traced medians, no verdict)")
            for m in bench["per_layer"]:
                va = [r["per_layer"].get(m["name"], 0.0) for r in ta]
                vb = [r["per_layer"].get(m["name"], 0.0) for r in tb]
                print(f"  {m['name']:34s} {statistics.median(va):14.6g} -> "
                      f"{statistics.median(vb):14.6g} {m['unit']}")
    return 1 if worse else 0


def _line(c: dict) -> str:
    return (f"  {c['metric']:15s} base {c['base'][1]:12.5g} "
            f"[{c['base'][0]:.5g}, {c['base'][2]:.5g}]  change "
            f"{c['change'][1]:12.5g} [{c['change'][0]:.5g}, "
            f"{c['change'][2]:.5g}]  gain {c['gain']:+7.2%}  "
            f"wins {c['wins']}/{c['pairs']}  spread {c['spread']:.3f} "
            f"(bound {c['bound']})")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
