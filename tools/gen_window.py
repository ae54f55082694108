"""Compute the driver-certification window mechanically.

The correctness gate certifies the FIRST 50 ``queries()`` entries each
round; more oracle rows exist than one window holds, so the window must
rotate. Since round 8 the rotation rule is mechanical — this tool is
the executable form (the r8/r9 windows were derived by hand from the
same rule):

1. For every ORACLE-BEARING query, find the last round whose driver
   ``CORRECTNESS_r0*.json`` certified it (rows+schema+hash all true);
   never-certified rows sort as round 0.
2. Sort ascending by that round; ties keep their current relative
   order in ``queries()`` (which itself preserves the prior round's
   relative order behind the window, so group-internal order is stable
   across rounds).
3. The first 50 are the next window.

Usage::

    python tools/gen_window.py              # print the NEXT window, one
                                            # name per line: its specs go
                                            # first in contract/registry.py
    python tools/gen_window.py --check      # exit 1 on drift vs next window
    python tools/gen_window.py --round 13   # window FOR round 13: use only
                                            # records from rounds < 13
    python tools/gen_window.py --check --round 13   # in-tree green check

Without ``--round``, the tool uses every committed record — which means
``--check`` goes red the moment the driver's fresh record for the
CURRENT round lands (it is then computing the NEXT round's window).
``--round N`` pins the record set to rounds strictly older than N, so
the round-N window stays verifiable in-tree forever; tests pin the
current round's invocation.

Rows-only queries never enter the window (their weaker rows-only check
gains nothing from rotation; the oracle rows are what age).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW_SIZE = 50


def certified(rec: dict) -> bool:
    if rec.get("err"):
        return False
    checks = [rec.get("rows_match"), rec.get("schema_match"),
              rec.get("hash_match")]
    present = [c for c in checks if c is not None]
    return bool(present) and all(present)


def load_rounds(for_round: int | None = None) -> dict[int, dict]:
    """The driver's ``CORRECTNESS_r*.json`` records at the repo root,
    keyed by round; with ``for_round``, only rounds older than it."""
    rounds: dict[int, dict] = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # NOT "r0*.json": a literal-'0' glob never matches r10+ (it silently
    # froze the rotation at the round-9 records); the regex filters
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.match(r"CORRECTNESS_r0*(\d+)\.json$", os.path.basename(path))
        if m:
            rnd = int(m.group(1))
            if for_round is not None and rnd >= for_round:
                continue
            with open(path) as fh:
                rounds[rnd] = json.load(fh)
    return rounds


def compute_window(for_round: int | None = None) -> list[str]:
    import __spark_entry__ as entrymod

    rounds = load_rounds(for_round)
    names = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    last_cert = {}
    for name in names:
        if name not in oracles:
            continue
        certs = [r for r in rounds
                 if name in rounds[r] and certified(rounds[r][name])]
        last_cert[name] = max(certs) if certs else 0
    ranked = sorted(last_cert,
                    key=lambda n: (last_cert[n], names.index(n)))
    return ranked[:WINDOW_SIZE]


def main() -> int:
    import __spark_entry__ as entrymod

    for_round = None
    if "--round" in sys.argv:
        idx = sys.argv.index("--round")
        if idx + 1 >= len(sys.argv) or not sys.argv[idx + 1].isdigit():
            print("usage: gen_window.py [--check] [--round N]  "
                  "(N = positive integer round number)")
            return 2
        for_round = int(sys.argv[idx + 1])
    window = compute_window(for_round)
    in_code = list(entrymod.queries())[:WINDOW_SIZE]
    if "--check" in sys.argv:
        if window != in_code:
            drift = [(i, a, b) for i, (a, b)
                     in enumerate(zip(window, in_code)) if a != b]
            print(f"WINDOW DRIFT ({len(drift)} slots):")
            for i, a, b in drift[:10]:
                print(f"  slot {i + 1}: computed {a!r} != in-code {b!r}")
            return 1
        print(f"window OK: {WINDOW_SIZE} slots match the mechanical rule")
        return 0
    # apply it by moving these entries, in this order, to the head of
    # contract/registry.py's REGISTRY
    print("\n".join(window))
    return 0


if __name__ == "__main__":
    sys.exit(main())
