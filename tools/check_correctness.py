"""Local twin of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
in DuckDB at sf0.01, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, floats
canonicalized), and prints a per-query verdict.

Usage: python tools/check_correctness.py [--json PATH] [query_name ...]

``--json PATH`` additionally writes the per-round machine-readable record
(same shape as the driver's CORRECTNESS_r{N}.json: totals plus per-query
status / rows / sec / hash) so rotated-out operators keep a fresh local
certification trail each round. Rows-only queries (no oracle) carry the
hash of their Spark output too, so diffing two records shows Spark-output
drift for every query.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            # canonical float text: 12 significant digits, stable across engines
            df[c] = df[c].map(lambda v: "null" if pd.isna(v) else f"{v:.12g}")
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        canonical(df).to_csv(index=False).encode()).hexdigest()[:16]


def main(names: list[str]) -> int:
    import __spark_entry__ as entrymod
    from caspr_spark import get_spark
    from caspr_spark.cache import cache_scope

    json_path = None
    if "--json" in names:
        i = names.index("--json")
        json_path = names[i + 1]
        names = names[:i] + names[i + 2:]

    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    targets = names or list(qs)
    failures = 0
    records: dict[str, dict] = {}
    for name in targets:
        t0 = time.time()
        try:
            # cache_scope: operators that persist intermediates
            # (quantile_scores, global_running_sum, LSH, tf-idf) release
            # them when the query's materialization completes — without
            # it a full 186-query sweep pins hundreds of stale relations
            # for the whole session (round-10 ADVICE fix)
            with cache_scope():
                sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            records[name] = {"status": "fail", "err": f"spark error: {e}"}
            failures += 1
            continue
        if name not in oracles:
            # no oracle to compare with, but the hash still lets two
            # --json records be diffed for Spark-output drift
            print(f"OK?   {name}: rows={len(sdf)} hash={value_hash(sdf)} "
                  f"(no oracle, rows-only) [{time.time()-t0:.1f}s]")
            records[name] = {"status": "rows_only", "rows": len(sdf),
                             "sec": round(time.time() - t0, 1),
                             "hash": value_hash(sdf)}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            records[name] = {"status": "fail", "err": f"oracle error: {e}"}
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
                cs, co = canonical(sdf), canonical(odf)
                if len(cs) == len(co):
                    diff = (cs != co).any(axis=1)
                    if diff.any():
                        i = diff.idxmax()
                        problems.append(
                            f"first diff row {i}:\n  spark : {cs.loc[i].to_dict()}"
                            f"\n  oracle: {co.loc[i].to_dict()}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            records[name] = {"status": "fail", "err": "; ".join(problems)}
            failures += 1
        else:
            print(f"PASS  {name}: rows={len(sdf)} hash={value_hash(sdf)} "
                  f"[{time.time()-t0:.1f}s]")
            records[name] = {"status": "pass", "rows": len(sdf),
                             "sec": round(time.time() - t0, 1),
                             "hash": value_hash(sdf)}
    print(f"\n{len(targets) - failures}/{len(targets)} passed")
    if json_path:
        statuses = [r["status"] for r in records.values()]
        out = {
            "sf_dir": SF_DIR,
            "total": len(records),
            "oracle_pass": statuses.count("pass"),
            "oracle_fail": statuses.count("fail"),
            "rows_only": statuses.count("rows_only"),
            "queries": records,
        }
        with open(json_path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
