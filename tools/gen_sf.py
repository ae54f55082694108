"""Scale-stress data generator: replicate a testdata SF directory K times.

The driver's testdata tops out at sf0.1; the scale-stress evidence run
(VERDICT r3, next-round item 6) needs sf1. This produces it by
replicating every table K times with per-replica key offsets — each
entity/order/document key space grows K-fold (so group counts, join
cardinalities and shuffle widths scale like real data). Fixed dimension
tables (region, nation) are copied once. Output parquet is written by
DuckDB with naive timestamps — the same physical form the driver's
generator emits, so the inferTimestampNTZ guard path is exercised
identically.

Two modes (r5 verdict item 6):

- ``--mode fresh`` (default): replica 0 is the untouched source; the
  other replicas get FRESH content — document text has ~20% of tokens
  deterministically replaced with replica-tagged tokens (hash-indexed,
  no RNG), and embeddings get a ±0.15/dim hash-derived jitter. Result:
  cross-replica shingle-Jaccard ~0.47 (< the 0.8 near-dup threshold)
  and cross-replica cosine ~0.82 (< the 0.9 embedding threshold), so
  dedup/near-dup/curation operators see a corpus whose clone density
  matches the source instead of the 10x-dense dup cliques pure cloning
  manufactures — the artifact that muddied the r4/r5 sf1 scaling story
  for ``llm_curate``/``emb_near_dup``.
- ``--mode clone``: the original exact-copy behavior, kept for
  comparisons against the earlier rounds' sweeps.
- ``--mode longhist`` (round 16, r15 verdict item 1): the LONG-HISTORY
  regime — replicate ONLY the events table K times with the ENTITY KEY
  (``user_id``) UNCHANGED, fresh ``event_id`` per replica and the
  timestamp shifted by ``i`` seconds (stays deep inside any
  history-window filter). Result: the same 1.5k entities at sf0.1 but
  K× the events per entity (~67·K rows/key) — the "hundreds of events
  per entity" shape a 100 TB event table has and the replica-offset
  modes cannot manufacture (they scale entities WITH events, keeping
  rows/entity constant). Built for the Partial-WindowGroupLimit
  shuffle-bytes A/B (record: ``plans/r16/wgl_longhist_ab.json``; per-layer
  shuffle bytes now come from ``perfbench/run.py --trace 1`` and
  ``perfbench/diff.py``); other tables are copied once, untouched.

Usage: python tools/gen_sf.py [--src DIR] [--dst DIR] [--k 10]
       [--mode fresh|clone|longhist]
"""

from __future__ import annotations

import argparse
import os

import duckdb

# table -> columns that get a per-replica offset of (max(col over ALL
# rows of its owning table) + 1) * replica. Foreign keys share the owning
# table's span so referential joins keep matching within a replica.
OFFSETS: dict[str, dict[str, tuple[str, str]]] = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"),
               "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}
COPY_ONLY = ["region", "nation"]


# mode='fresh' content rewrites, per (table, column). Replica 0 keeps the
# source value; replicas >0 get deterministic hash-derived fresh content.
FRESH_EXPRS: dict[tuple[str, str], str] = {
    # ~1 in 5 tokens replaced with a replica-tagged token (the replacement
    # hash includes r.i, so replicas don't share replacements either):
    # cross-replica Jaccard ≈ 0.64/1.36 ≈ 0.47
    ("documents", "text"): (
        "CASE WHEN r.i = 0 THEN t.text ELSE array_to_string("
        "list_transform(string_split(t.text, ' '), (w, p) -> "
        "CASE WHEN hash(t.doc_id, r.i, p) % 5 = 0 "
        "THEN 'w' || (hash(w, r.i) % 99991)::VARCHAR ELSE w END), ' ') END"
    ),
    # ±0.15/dim uniform-ish jitter (noise norm ≈ 0.69 on unit vectors →
    # cross-replica cosine ≈ 0.82, below the 0.9 near-dup threshold)
    ("embeddings", "embedding"): (
        "CASE WHEN r.i = 0 THEN t.embedding ELSE "
        "list_transform(t.embedding, (x, d) -> "
        "(x + ((hash(t.vec_id, r.i, d) % 2001)::BIGINT - 1000) * 1.5e-4)"
        "::FLOAT) END"
    ),
}


def generate_longhist(src: str, dst: str, k: int) -> None:
    """events replicated K× per ENTITY (user_id fixed, event_id offset,
    ts + i seconds); every other table copied once."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for table in [*COPY_ONLY, "customer", "supplier", "part", "orders",
                  "lineitem", "documents", "embeddings"]:
        con.sql(f"COPY (SELECT * FROM '{src}/{table}.parquet') TO "
                f"'{dst}/{table}.parquet' (FORMAT PARQUET)")
        print(f"{table}: copied")
    span = con.sql(f"SELECT max(event_id) + 1 FROM "
                   f"'{src}/events.parquet'").fetchone()[0]
    schema = [r[0] for r in con.sql(
        f"DESCRIBE SELECT * FROM '{src}/events.parquet'").fetchall()]

    def col_expr(c: str) -> str:
        if c == "event_id":
            return f"t.event_id + r.i * {span} AS event_id"
        if c == "ts":
            return "t.ts + to_seconds(r.i) AS ts"
        return f"t.{c}"

    select = ", ".join(col_expr(c) for c in schema)
    con.sql(f"COPY (SELECT {select} FROM '{src}/events.parquet' t "
            f"CROSS JOIN range({k}) r(i)) TO '{dst}/events.parquet' "
            f"(FORMAT PARQUET)")
    n, u = con.sql(f"SELECT count(*), count(distinct user_id) FROM "
                   f"'{dst}/events.parquet'").fetchone()
    print(f"events: {n:,} rows, {u:,} entities "
          f"({n / u:.0f} rows/entity, x{k}, mode=longhist)")


def generate(src: str, dst: str, k: int, mode: str = "fresh") -> None:
    if mode == "longhist":
        return generate_longhist(src, dst, k)
    if mode not in ("fresh", "clone"):
        raise ValueError(f"mode must be 'fresh' or 'clone', got {mode!r}")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    spans: dict[tuple[str, str], int] = {}
    for table, cols in OFFSETS.items():
        for col, (owner, ocol) in cols.items():
            if (owner, ocol) not in spans:
                spans[(owner, ocol)] = con.sql(
                    f"SELECT max({ocol}) + 1 FROM "
                    f"'{src}/{owner}.parquet'").fetchone()[0]
    for table in COPY_ONLY:
        con.sql(f"COPY (SELECT * FROM '{src}/{table}.parquet') TO "
                f"'{dst}/{table}.parquet' (FORMAT PARQUET)")
        print(f"{table}: copied")
    for table, cols in OFFSETS.items():
        schema = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{src}/{table}.parquet'").fetchall()]

        def col_expr(c: str) -> str:
            if c in cols:
                return f"t.{c} + r.i * {spans[cols[c]]} AS {c}"
            if mode == "fresh" and (table, c) in FRESH_EXPRS:
                return f"{FRESH_EXPRS[(table, c)]} AS {c}"
            return f"t.{c}"

        select = ", ".join(col_expr(c) for c in schema)
        con.sql(f"COPY (SELECT {select} FROM '{src}/{table}.parquet' t "
                f"CROSS JOIN range({k}) r(i)) TO '{dst}/{table}.parquet' "
                f"(FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM '{dst}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n:,} rows (x{k}, mode={mode})")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/root/repo/testdata_sf1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", default="fresh",
                    choices=["fresh", "clone", "longhist"])
    args = ap.parse_args()
    generate(args.src, args.dst, args.k, args.mode)
