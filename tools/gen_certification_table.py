"""Emit the per-query driver-certification table for COVERAGE.md.

Mechanically derived from the CORRECTNESS_r0*.json files the driver
wrote each round (r4 verdict item 10): for every ``queries()`` entry,
which rounds certified it (name present AND rows+schema+hash all true —
or rows-only true for oracle-less queries), whether it carries a DuckDB
oracle, and its current slot. Re-run after each round and replace the
block between COVERAGE.md's CERT TABLE markers with the output;
tests/test_entry_contract.py fails while the two differ.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen_window import certified, load_rounds  # noqa: E402


def main() -> None:
    import __spark_entry__ as entrymod

    rounds = load_rounds()
    names = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    print("| # | query | oracle | driver-certified rounds |")
    print("|---|---|---|---|")
    for i, name in enumerate(names, 1):
        certs = [str(r) for r in sorted(rounds)
                 if name in rounds[r] and certified(rounds[r][name])]
        print(f"| {i} | `{name}` | {'yes' if name in oracles else 'rows-only'}"
              f" | {', '.join(certs) if certs else '—'} |")
    n_cert = sum(1 for n in names if any(
        n in rounds[r] and certified(rounds[r][n]) for r in rounds))
    print(f"\n{len(names)} queries ({len(oracles)} oracle-bearing); "
          f"{n_cert} driver-certified at least once through round "
          f"{max(rounds) if rounds else 0}.")


if __name__ == "__main__":
    main()
