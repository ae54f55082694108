"""Graph centrality over pair tables — PageRank on DataFrames.

The dedup stack already produces similarity GRAPHS (winnowing pairs,
LSH near-dup pairs, related-docs edges) and resolves them with
connected components (llm/dedup.py). PageRank adds the centrality
complement: rank documents/entities by link structure — canonical-page
election inside near-dup clusters, influence scoring over interaction
graphs, seed selection for crawl frontiers.

Scale shape per iteration: one equi-join of the rank relation to the
edge table on ``src`` + one hash aggregation on ``dst`` + one left
join back to the node set — the standard distributed formulation
(edges partition by src once and every iteration reuses that
partitioning; ranks are node-sized, edges are never materialized
beyond their table). Iterations are bounded and each result is
``localCheckpoint``-ed so the lineage stays O(1) instead of O(k).

Determinism (what makes a DuckDB oracle possible for an iterative
float algorithm): per-iteration contributions are accumulated as
**fixed-point BIGINTs** (``round(rank · 1e12 / degree)``), whose sum
is exact and order-independent — the same discipline as the bigram-LM
log-prob sums in ``llm/lm.py``. Every engine that replays the same
arithmetic reproduces the ranks bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.cache import checkpoint_leaf, register_cache
from caspr_spark.sources import local_frame

FP_SCALE = 1_000_000_000_000  # 1e12 fixed-point contribution scale


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, iterations: int = 10,
             undirected: bool = True, id_out: str = "id",
             rank_out: str = "rank") -> DataFrame:
    """PageRank over an edge table; returns (``id_out``, ``rank_out``).

    Nodes are the distinct endpoint set of ``edges`` (an isolated node
    has no edges to define it — filter-join your full entity table
    afterwards if you need rank 0 rows). ``undirected=True`` (the
    similarity-graph case) mirrors every edge. Dangling nodes cannot
    exist in the undirected case; in the directed case a sink node's
    rank mass is dropped (the "no outlinks" simplification — callers
    that need the redistribute variant can add self-loops). Ranks sum
    to ~1 over the node set (minus dropped dangling mass); output
    rounded to 9 dp.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    e = e.distinct()
    # repartition by src once; every iteration's join reuses the layout.
    # localCheckpoint (not persist): a persist caches the DATA but keeps
    # the full logical plan, so an upstream edge producer (e.g. the
    # winnowing fingerprint self-join) is re-analyzed inside every
    # iteration's nested plan and Catalyst analysis cost grows
    # geometrically with iteration depth (measured: 5.6 s/iteration on a
    # 24-edge winnow graph vs 0.6 s with a leaf plan). The checkpoint
    # materializes the edge table once as a LEAF plan; its storage is
    # ContextCleaner-managed.
    e, e_handle = checkpoint_leaf(e.repartition("src"))
    nodes = (e.select(F.col("src").alias("id"))
              .unionByName(e.select(F.col("dst").alias("id")))
              .distinct().persist())
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        e_handle.unpersist()
        # a FRESH empty relation, not a projection of the just-released
        # checkpoint (whose truncated lineage cannot recompute)
        spark = edges.sparkSession
        return local_frame(
            spark, [], nodes.select(F.col("id").alias(id_out)).schema) \
            .withColumn(rank_out, F.lit(0.0))
    deg = e.groupBy(F.col("src").alias("id")) \
           .agg(F.count(F.lit(1)).alias("deg"))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    prev = None
    mid_handle = None
    for it in range(iterations):
        contrib = (ranks.join(deg, on="id")
                   .join(e, ranks["id"] == e["src"])
                   .groupBy("dst")
                   .agg(F.sum(F.round(F.col("rank") * F.lit(float(FP_SCALE))
                                      / F.col("deg")).cast("long"))
                        .alias("fp")))
        ranks = (nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
                 .select(nodes["id"],
                         (F.lit(base) + F.lit(damping)
                          * (F.coalesce(F.col("fp"), F.lit(0))
                             / F.lit(float(FP_SCALE)))).alias("rank")))
        # persist+count materializes the iteration (node-sized, cheap —
        # the plans stay small because e/checkpoints are leaf plans) and
        # lets the superseded iteration free its storage NOW; every ~10
        # iterations a leaf checkpoint re-truncates the (tiny-plan)
        # nesting so analysis cost stays flat at any iteration count.
        ranks = ranks.persist()
        ranks.count()
        if prev is not None:
            prev.unpersist()
        prev = ranks
        if (it + 1) % 10 == 0 and it + 1 < iterations:
            ranks, h = checkpoint_leaf(ranks)
            prev.unpersist()
            prev = None
            if mid_handle is not None:
                mid_handle.unpersist()
            mid_handle = h
    # Leaf-checkpoint the final iteration so the returned (lazy) result
    # references ONLY its own materialized data — then every upstream
    # handle (edge checkpoint, node cache, intermediate persists) can be
    # released deterministically right here. The final checkpoint itself
    # goes to the active cache_scope() if any; one-shot callers fall
    # back to ContextCleaner GC like the LSH projections' LRU. NOTE:
    # unlike persist-backed results, a checkpoint cannot recompute after
    # release — materialize INSIDE the scope (which is the cache_scope
    # contract anyway).
    final, final_handle = checkpoint_leaf(ranks)
    if prev is not None:
        prev.unpersist()
    if mid_handle is not None:
        mid_handle.unpersist()
    nodes.unpersist()
    e_handle.unpersist()
    register_cache(final_handle)
    return final.select(F.col("id").alias(id_out),
                        F.round(F.col("rank"), 9).alias(rank_out))


def pagerank_sql(edges_cte: str, damping: float = 0.85,
                 iterations: int = 10, id_a: str = "id_a",
                 id_b: str = "id_b") -> str:
    """DuckDB twin of :func:`pagerank` (undirected) — ``edges_cte`` is
    any SQL relation with two endpoint columns; iterations unroll into
    chained CTEs (recursive-term aggregation is not portable), each
    replaying the exact fixed-point arithmetic of the operator. The
    shared relations are MATERIALIZED so DuckDB evaluates the edge
    subquery once instead of re-inlining it into every iteration. The
    (1 - damping) base is emitted as the PRE-COMPUTED Python double
    (repr round-trips exactly) cast to DOUBLE — DuckDB would otherwise
    evaluate ``1.0 - 0.85`` in exact DECIMAL arithmetic and diverge
    from IEEE by one ulp, enough to flip a 9-dp rounding knife edge."""
    fp = float(FP_SCALE)
    sql = f"""
WITH raw_edges AS MATERIALIZED ({edges_cte}),
dedges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT {id_a} AS src, {id_b} AS dst FROM raw_edges
    UNION ALL
    SELECT {id_b} AS src, {id_a} AS dst FROM raw_edges)),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM dedges),
deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM dedges GROUP BY src),
nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, iterations + 1):
        sql += f""",
pr{i} AS (
  SELECT nodes.id,
         CAST({(1.0 - damping)!r} AS DOUBLE) / (SELECT n FROM nn)
         + CAST({damping!r} AS DOUBLE)
           * (COALESCE(s.fp, 0) / {fp!r}) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS id,
           SUM(CAST(round(p.rank * {fp!r} / d.deg) AS BIGINT)) AS fp
    FROM pr{i - 1} p
    JOIN deg d ON d.id = p.id
    JOIN dedges e ON e.src = p.id
    GROUP BY e.dst) s ON nodes.id = s.id)"""
    sql += f"\nSELECT id, round(rank, 9) AS rank FROM pr{iterations}"
    return sql


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst",
                   max_degree: int | None = None):
    """Per-node and global triangle counts over an undirected pair table
    — the local-clustering probe for the similarity graphs the dedup
    stack produces (dense triangle neighborhoods = template/boilerplate
    families; triangle-free hubs = spam link stars).

    The standard distributed formulation: canonicalize each edge to
    ``(lo, hi)`` with ``lo < hi`` (dropping self-loops and duplicate
    orientations), join the edge list with itself on the shared LOW
    endpoint to enumerate wedges ``lo -> (hi1 < hi2)``, then semi-join
    the wedge's closing pair against the edge table. Every triangle
    ``a < b < c`` is found exactly once (as the wedge at its smallest
    vertex joined to edge ``(b, c)``), so no division by 3/6 is needed
    and the count is EXACT — the whole thing is two equi-joins and a
    hash aggregation, SQL-oracle-expressible.

    ``max_degree`` drops vertices whose degree exceeds the cap BEFORE
    wedge generation — a hot vertex of degree d fans out d·(d-1)/2
    wedges, the same quadratic hot-key hazard as ``winnow_pairs``'
    ``max_df``; the cap states the recall tradeoff instead of hiding
    the blowup (triangles through dropped hubs are not counted).

    Returns ``(per_node, total)``: ``per_node`` = (id, triangles) for
    every vertex of the (capped) graph including zero rows; ``total`` =
    global triangle count (int).
    """
    from caspr_spark.sources import ensure_parallelism

    e = (ensure_parallelism(edges)
         .select(F.least(F.col(src), F.col(dst)).alias("lo"),
                 F.greatest(F.col(src), F.col(dst)).alias("hi"))
         .filter(F.col("lo") < F.col("hi"))
         .distinct())
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2, got {max_degree}")
        deg = (e.select(F.col("lo").alias("id"))
               .unionAll(e.select(F.col("hi").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("__d"))
               .filter(F.col("__d") <= max_degree).select("id"))
        e = (e.join(deg.withColumnRenamed("id", "lo"), "lo", "left_semi")
              .join(deg.withColumnRenamed("id", "hi"), "hi", "left_semi"))
    e = register_cache(e.persist())   # wedge join + closure probe + nodes

    wedges = (e.alias("e1").join(e.alias("e2"), on="lo")
              .filter(F.col("e1.hi") < F.col("e2.hi"))
              .select(F.col("lo").alias("a"),
                      F.col("e1.hi").alias("b"),
                      F.col("e2.hi").alias("c")))
    tri = wedges.join(
        e.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
        on=["b", "c"], how="left_semi")
    tri = register_cache(tri.persist())

    nodes = (e.select(F.col("lo").alias("id"))
             .unionAll(e.select(F.col("hi").alias("id"))).distinct())
    per_vertex = (tri.select(F.col("a").alias("id"))
                  .unionAll(tri.select(F.col("b").alias("id")))
                  .unionAll(tri.select(F.col("c").alias("id")))
                  .groupBy("id").agg(F.count(F.lit(1)).alias("triangles")))
    per_node = (nodes.join(per_vertex, on="id", how="left")
                .select("id", F.coalesce("triangles", F.lit(0))
                        .cast("long").alias("triangles")))
    total = tri.count()
    return per_node, int(total)


def triangle_count_sql(edges_cte: str, max_degree: int | None = None) -> str:
    """DuckDB oracle twin of :func:`triangle_count`'s per-node output:
    ``edges_cte`` must yield (src, dst) pairs; same canonicalization,
    optional degree cap, smallest-vertex wedge enumeration."""
    cap = ""
    if max_degree is not None:
        cap = f"""
, deg AS (SELECT id FROM (
    SELECT lo AS id FROM e0 UNION ALL SELECT hi FROM e0)
  GROUP BY id HAVING count(*) <= {max_degree})
, e AS (SELECT lo, hi FROM e0
        WHERE lo IN (SELECT id FROM deg) AND hi IN (SELECT id FROM deg))"""
    else:
        cap = ", e AS (SELECT lo, hi FROM e0)"
    return f"""
WITH raw AS ({edges_cte}),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM raw WHERE least(src, dst) < greatest(src, dst)){cap}
, tri AS MATERIALIZED (
  SELECT w.a, w.b, w.c
  FROM (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM e e1 JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi) w
  WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = w.b AND e.hi = w.c)),
nodes AS (SELECT DISTINCT id FROM (
  SELECT lo AS id FROM e UNION ALL SELECT hi FROM e))
SELECT n.id, coalesce(t.triangles, 0)::bigint AS triangles
FROM nodes n LEFT JOIN (
  SELECT id, count(*)::bigint AS triangles FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY id) t USING (id)"""


def _elect_labels(counts: DataFrame) -> DataFrame:
    """Per-vertex label election over ``(v, lab, __n)`` message counts:
    the label with the highest count, smallest-label tie-break.

    A map-side-combinable ``groupBy(v).agg(min(struct(-count, lab)))``
    — never a ``row_number`` window partitioned by the vertex: a hub
    vertex's counts collapse to one row per input partition before the
    exchange, where a window would funnel them into one task. ``__n``
    is a count (non-null, positive), so negation encodes the desc
    order exactly; the struct's lexicographic order IS
    ``(count DESC, lab ASC)``. Plan-pinned window-free in
    tests/test_plans.py."""
    key = F.struct((-F.col("__n")).alias("__kn"), F.col("lab").alias("__kl"))
    return (counts.groupBy("v").agg(F.min(key).alias("__w"))
                  .select("v", F.col("__w.__kl").alias("lab")))


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      iterations: int = 5,
                      id_out: str = "id",
                      label_out: str = "label") -> DataFrame:
    """Synchronous label-propagation communities over an undirected pair
    table — the lightweight community detector for the similarity
    graphs the dedup stack produces (connected components finds the
    reachability clusters; LPA splits dense components into cohesive
    template families).

    Determinism contract (what makes the unrolled SQL oracle possible
    for this ITERATIVE algorithm): labels init to the node id; each
    synchronous round every node adopts the MOST FREQUENT label among
    its neighbors, ties broken by the SMALLEST label. Frequencies are
    integer counts and the tie-break is total, so every engine replays
    the identical label sequence — no RNG, no float.

    Scale shape per round: one equi-join of the node-sized label
    relation to the edge table + one (node, label) hash aggregation +
    one deterministic top-1 election per node — a map-side-combinable
    ``min(struct(-count, label))`` aggregate (:func:`_elect_labels`),
    not a ``row_number`` window: a web-scale hub vertex hears one
    message per neighbor, and the aggregate collapses its (node,
    label) counts to one row per input partition before the exchange
    (the round-10/11 election discipline; same result as the
    ``count desc, label asc`` window rule it replaced). Edges
    partition by the message destination once; each round's labels are
    ``localCheckpoint``-ed so lineage stays O(1) over rounds (the
    PageRank discipline). Synchronous LPA can 2-cycle on bipartite
    structures — iterations are bounded, not converged, and the round
    count is part of the result's identity.
    """
    from caspr_spark.sources import ensure_parallelism

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    base = (ensure_parallelism(edges)
            .select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .filter(F.col("a") != F.col("b")))
    # both orientations: each node hears every neighbor
    e = base.unionAll(base.select(F.col("b").alias("a"),
                                  F.col("a").alias("b"))).distinct()
    e, e_handle = checkpoint_leaf(e.repartition("b"))
    register_cache(e_handle)
    labels = e.select(F.col("a").alias("v")).distinct() \
        .withColumn("lab", F.col("v"))
    for _ in range(iterations):
        msgs = e.join(labels.withColumnRenamed("v", "b"), on="b") \
            .select(F.col("a").alias("v"), "lab")
        counts = msgs.groupBy("v", "lab").agg(F.count(F.lit(1)).alias("__n"))
        labels = _elect_labels(counts)
        labels, h = checkpoint_leaf(labels)
        register_cache(h)
    return labels.select(F.col("v").alias(id_out),
                         F.col("lab").alias(label_out))


def label_propagation_sql(edges_cte: str, iterations: int = 5) -> str:
    """Unrolled-iteration oracle of :func:`label_propagation`:
    ``edges_cte`` yields (src, dst); one (messages → top-1) CTE pair
    per synchronous round, integer counts + smallest-label tie-break."""
    sql = f"""
WITH raw AS ({edges_cte}),
e AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM raw WHERE src <> dst
    UNION ALL
    SELECT dst AS a, src AS b FROM raw WHERE src <> dst)),
l0 AS (SELECT DISTINCT a AS v, a AS lab FROM e)"""
    prev = "l0"
    for i in range(1, iterations + 1):
        sql += f""",
l{i} AS (
  SELECT v, lab FROM (
    SELECT e.a AS v, l.lab, count(*) AS n,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.lab ASC) AS rn
    FROM e JOIN {prev} l ON e.b = l.v
    GROUP BY e.a, l.lab)
  WHERE rn = 1)"""
        prev = f"l{i}"
    sql += f"""
SELECT v AS id, lab AS label FROM {prev}"""
    return sql
