"""Graph and analytics queries: joins, rollups, sketches, attribution,
sampling, profiling and the iterative graph algorithms, each followed by
its DuckDB oracle SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from contract.common import _TMP, _events, _t
from contract.llm import WINNOW_PAIRS_SQL


def q_scd2_orders(spark, sf_dir):
    """Type-2 SCD history (merge.py scd2_history): per-customer
    order-status/priority version intervals from the orders change log —
    consecutive identical states collapse, valid_from/valid_to close
    over (date, orderkey) order. One keyed exchange for both windows."""
    from caspr_spark.operators.merge import scd2_history
    orders = _t(spark, sf_dir, "orders")
    return scd2_history(orders, keys=["o_custkey"], ts_col="o_orderdate",
                        attr_cols=["o_orderstatus", "o_orderpriority"],
                        tiebreak=["o_orderkey"])

SCD2_ORDERS_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderstatus)   OVER w AS ps,
         lag(o_orderpriority) OVER w AS pp,
         row_number()         OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
points AS (
  SELECT * FROM ordered
  WHERE rn = 1 OR (o_orderstatus IS DISTINCT FROM ps)
             OR (o_orderpriority IS DISTINCT FROM pp)),
intervals AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS valid_to
  FROM points)
SELECT o_custkey, o_orderstatus, o_orderpriority, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM intervals"""


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution (timeseries.py
    attribute_conversions): each purchase credited to the most recent
    view/click strictly before it, carried forward by
    last(ignorenulls) over the preceding-rows frame — one keyed window,
    never a conversions-x-touches range self-join."""
    from caspr_spark.operators.timeseries import attribute_conversions
    ev = _events(spark, sf_dir)
    out = attribute_conversions(ev, conversion_type="purchase",
                                touch_types=("view", "click"),
                                model="last", tiebreak=["event_id"])
    return out.select("event_id", "user_id", "touch_ts", "touch_type")

ATTRIBUTION_LAST_TOUCH_SQL = """
WITH w AS (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN ts END IGNORE NULLS)
           OVER prior AS touch_ts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER prior AS touch_type
  FROM events
  WINDOW prior AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, touch_ts, touch_type
FROM w WHERE event_type = 'purchase'"""


_EXPECT_RULES = [
    {"rule": "not_null", "col": "user_id"},
    {"rule": "unique", "col": "event_id"},
    {"rule": "in_range", "col": "value", "min": 0, "max": 400},
    {"rule": "in_set", "col": "event_type",
     "values": ["view", "click", "purchase", "signup"]},
    {"rule": "matches", "col": "event_type", "pattern": "[a-z_]+"},
    {"rule": "row_count_between", "min": 1, "max": 100_000_000},
]


def q_expectations_events(spark, sf_dir):
    """Declarative data-quality gate (expect.py validate_expectations):
    six rules — null check, uniqueness, range, set membership, regex
    shape, row-count band — evaluated in ONE aggregation pass; the
    report is the long-format audit artifact. Two rules intentionally
    catch real 'violations' in the synthetic data (values above 400,
    the 'error' event type) so the report discriminates."""
    from caspr_spark.operators.expect import validate_expectations
    ev = _events(spark, sf_dir)
    return validate_expectations(ev, _EXPECT_RULES)


def _expectations_sql_entry() -> str:
    """Oracle twin of q_expectations_events: the same rule list
    compiled to a UNION ALL report by expect.expectations_sql."""
    from caspr_spark.operators.expect import expectations_sql
    return expectations_sql("events", _EXPECT_RULES)

EXPECTATIONS_EVENTS_SQL = _expectations_sql_entry()


def q_attribution_multitouch(spark, sf_dir):
    """U-shaped multi-touch attribution (timeseries.py
    attribute_multitouch): each purchase's unit of credit split 40/40/20
    across the first/last/middle touches of its journey (the touches
    since the previous purchase), direct conversions kept at credit 1.0.
    Journeys come from a running conversion count over ONE entity-keyed
    window — no conversions-x-touches range self-join; credit rows are
    an invariant multiset under equal-key ties, so the position model
    carries an exact DuckDB oracle."""
    from caspr_spark.operators.timeseries import attribute_multitouch
    ev = _events(spark, sf_dir)
    out = attribute_multitouch(ev, conversion_type="purchase",
                               touch_types=("view", "click"),
                               model="position", tiebreak=["event_id"])
    return out.select("event_id", "user_id", "conversion_ts",
                      "touch_ts", "touch_type", "credit")

ATTRIBUTION_MULTITOUCH_SQL = """
WITH ev AS (
  SELECT event_id, user_id, ts, event_type,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
         - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS journey
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
convs AS (
  SELECT user_id, journey, event_id, ts AS conversion_ts
  FROM ev WHERE event_type = 'purchase'),
touches AS (
  SELECT user_id, journey, ts AS touch_ts, event_type AS touch_type
  FROM ev WHERE event_type IN ('view', 'click')),
j AS (
  SELECT c.user_id, c.journey, c.event_id, c.conversion_ts,
         t.touch_ts, t.touch_type,
         row_number() OVER (PARTITION BY c.user_id, c.journey
                            ORDER BY t.touch_ts, t.touch_type) AS pos,
         count(t.touch_ts) OVER (PARTITION BY c.user_id, c.journey) AS n
  FROM convs c LEFT JOIN touches t USING (user_id, journey))
SELECT event_id, user_id, conversion_ts, touch_ts, touch_type,
       CASE WHEN touch_ts IS NULL THEN CAST(1.0 AS DOUBLE)
            ELSE round(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                            WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                            WHEN pos = 1 THEN CAST(0.4 AS DOUBLE)
                            WHEN pos = n THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.2 AS DOUBLE) / (n - 2) END, 9)
       END AS credit
FROM j"""


def q_rolling_features(spark, sf_dir):
    """Trailing 7-day per-entity rolling features (timeseries.py
    rolling_features): count/sum/avg/min/max of event value over the
    RANGE frame ending strictly before each row (leak-safe for
    training). One entity-keyed sort-shuffle, all five aggregates in a
    single Window node; sums accumulate in integer cents so distributed
    order cannot drift the float result."""
    from caspr_spark.operators.timeseries import rolling_features
    ev = _events(spark, sf_dir)
    out = rolling_features(ev, window="7 days")
    return out.select("event_id", "user_id", "count_7d", "sum_7d",
                      "avg_7d", "min_7d", "max_7d")

ROLLING_FEATURES_SQL = """
SELECT event_id, user_id,
       count(value) OVER w AS count_7d,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                  AS DOUBLE) / 100.0, 2) AS sum_7d,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                  AS DOUBLE) / 100.0 / count(value) OVER w, 6) AS avg_7d,
       min(value) OVER w AS min_7d,
       max(value) OVER w AS max_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)"""


def q_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (timeseries.py transition_matrix): consecutive
    (from_type, to_type) counts + row-normalized probabilities — one
    entity-keyed lead window, map-side-combined pair counts, and the
    normalization window runs over the |types|2-row aggregate."""
    from caspr_spark.operators.timeseries import transition_matrix
    ev = _events(spark, sf_dir)
    return transition_matrix(ev, tiebreak=["event_id"])

TRANSITION_MATRIX_SQL = """
WITH t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
c AS (
  SELECT from_type, to_type, count(*) AS n
  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 9)
         AS p
FROM c"""


def q_quantile_rollup(spark, sf_dir):
    """Continuous QUANTILE via a mergeable bottom-k sample layer
    (timeseries.py quantile_sketch_layer/quantile_rollup): hourly
    deterministic md5-ranked reservoirs of event values per event type,
    re-aggregated to daily p50/p90/p99 WITHOUT rescanning raw events.
    Bottom-k merges EXACTLY (the union's bottom-k lives inside the union
    of the parts' bottom-ks), so unlike the HLL layer this sketch rollup
    carries a full DuckDB oracle: the oracle builds the day-level
    bottom-k directly from raw events and must agree bit-for-bit."""
    from caspr_spark.operators.timeseries import (quantile_rollup,
                                                  quantile_sketch_layer)
    ev = _events(spark, sf_dir)
    layer = quantile_sketch_layer(ev, value_col="value",
                                  id_col="event_id",
                                  keys=["event_type"], width="hour",
                                  reservoir=64)
    out = quantile_rollup(layer, width="day", keys=["event_type"],
                          reservoir=64, probs=(0.5, 0.9, 0.99))
    return out.select(F.col("bucket_day").cast("date").alias("day"),
                      "event_type", "n_events", "p50", "p90", "p99")

QUANTILE_ROLLUP_SQL = """
WITH ranked AS (
  SELECT date_trunc('day', ts) AS day, event_type, value,
         row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn,
         count(*) OVER (PARTITION BY date_trunc('day', ts), event_type)
           AS n
  FROM events),
agg AS (
  SELECT day, event_type, max(n) AS n_events,
         list_sort(list(value)) AS vals
  FROM ranked WHERE rn <= 64
  GROUP BY day, event_type)
SELECT CAST(day AS DATE) AS day, event_type, n_events,
       vals[CAST(greatest(1, ceil(CAST(0.5 AS DOUBLE) * len(vals)))
                 AS INT)] AS p50,
       vals[CAST(greatest(1, ceil(CAST(0.9 AS DOUBLE) * len(vals)))
                 AS INT)] AS p90,
       vals[CAST(greatest(1, ceil(CAST(0.99 AS DOUBLE) * len(vals)))
                 AS INT)] AS p99
FROM agg"""


def q_normalize_by_group(spark, sf_dir):
    """Group-wise min-max normalization (scale.py normalize_by_group):
    event values rescaled WITHIN each event type — fitted state is a
    stats DataFrame keyed by group (never a driver dict, so 1e9-entity
    normalization survives), apply is one keyed join + codegen
    arithmetic. Constant groups keep their original values."""
    from caspr_spark.operators.scale import normalize_by_group
    ev = _events(spark, sf_dir)
    out, _ = normalize_by_group(ev, ["value"], ["event_type"],
                                scaling="min_max")
    return out.select("event_id", "event_type",
                      F.round("value", 9).alias("value_norm"))

NORMALIZE_BY_GROUP_SQL = """
SELECT event_id, event_type,
       round(CASE WHEN max(value) OVER g > min(value) OVER g
                  THEN (value - min(value) OVER g)
                       / (max(value) OVER g - min(value) OVER g)
                  ELSE value END, 9) AS value_norm
FROM events
WINDOW g AS (PARTITION BY event_type)"""


def q_resample_daily(spark, sf_dir):
    """Per-entity time-grid resampling with gap fill (timeseries.py
    resample_entities): daily value sums on a gap-free grid between
    each user's first and last event, holes filled with 0 — keyed
    exchanges over reduced relations only, grid bounded per entity."""
    from caspr_spark.operators.timeseries import resample_entities
    ev = _events(spark, sf_dir)
    out = resample_entities(ev, value_cols=["value"], step="1 day",
                            agg="sum", fill="zero")
    return out.select("user_id", "bucket",
                      F.round("value", 6).alias("value"))

RESAMPLE_DAILY_SQL = """
WITH b AS (
  SELECT user_id, date_trunc('day', ts) AS bucket,
         sum(value) AS value
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
         FROM b GROUP BY 1),
grid AS (SELECT user_id,
                unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
         FROM span)
SELECT g.user_id, g.bucket,
       coalesce(round(b.value, 6), 0) AS value
FROM grid g LEFT JOIN b USING (user_id, bucket)"""


def q_pagerank_docs(spark, sf_dir):
    """PageRank centrality over the winnowing similarity graph
    (graph.py pagerank): canonical-document election signal for near-dup
    clusters. Five fixed-point iterations — contributions summed as
    BIGINTs (order-independent), so this ITERATIVE algorithm carries an
    exact unrolled-CTE DuckDB oracle."""
    from caspr_spark.llm.dedup import winnow_pairs
    from caspr_spark.operators.graph import pagerank
    docs = _t(spark, sf_dir, "documents")
    pairs = winnow_pairs(docs, k=4, window=5, min_shared=2, max_df=1000)
    return pagerank(pairs, src="id_a", dst="id_b", damping=0.85,
                    iterations=5)


def _pagerank_sql_entry() -> str:
    """Oracle twin of q_pagerank_docs: the winnowing pair graph as the
    edge CTE, 5 unrolled fixed-point PageRank iterations (graph.py
    pagerank_sql) — an ITERATIVE algorithm with an exact SQL oracle,
    possible because contributions accumulate as order-independent
    BIGINT fixed point."""
    from caspr_spark.operators.graph import pagerank_sql
    return pagerank_sql(WINNOW_PAIRS_SQL, damping=0.85, iterations=5)

PAGERANK_DOCS_SQL = _pagerank_sql_entry()


def q_triangle_docs(spark, sf_dir):
    """Triangle counts over the winnowing similarity graph (graph.py
    triangle_count — round 6): local-clustering structure of the
    near-dup graph (dense triangle neighborhoods = template families).
    Smallest-vertex wedge enumeration + closure semi-join — each
    triangle found exactly once, two equi-joins and a hash agg, fully
    SQL-oracle-expressible."""
    from caspr_spark.llm.dedup import winnow_pairs
    from caspr_spark.operators.graph import triangle_count
    docs = _t(spark, sf_dir, "documents")
    pairs = winnow_pairs(docs, k=4, window=5, min_shared=2, max_df=1000)
    per_node, total = triangle_count(pairs, src="id_a", dst="id_b")
    return per_node.withColumn("total_triangles",
                               F.lit(int(total)).cast("long"))


def _triangle_sql_entry() -> str:
    """Oracle twin of q_triangle_docs: the winnowing pair graph as the
    edge CTE through graph.triangle_count_sql, plus the global count
    (each triangle appears at its three vertices, so sum/3)."""
    from caspr_spark.operators.graph import triangle_count_sql
    inner = triangle_count_sql(
        "SELECT id_a AS src, id_b AS dst FROM (" + WINNOW_PAIRS_SQL + ")")
    return (f"SELECT id, triangles, (sum(triangles) OVER () / 3)::bigint "
            f"AS total_triangles FROM ({inner})")

TRIANGLE_DOCS_SQL = _triangle_sql_entry()


def q_lpa_docs(spark, sf_dir):
    """Label-propagation communities over the winnowing similarity
    graph (graph.py label_propagation — round 6): synchronous rounds,
    most-frequent neighbor label with smallest-label tie-break —
    integer counts + total tie order make this ITERATIVE algorithm
    exactly reproducible, so it carries an unrolled-CTE oracle like
    PageRank."""
    from caspr_spark.llm.dedup import winnow_pairs
    from caspr_spark.operators.graph import label_propagation
    docs = _t(spark, sf_dir, "documents")
    pairs = winnow_pairs(docs, k=4, window=5, min_shared=2, max_df=1000)
    return label_propagation(pairs, src="id_a", dst="id_b", iterations=4)


def _lpa_sql_entry() -> str:
    """Oracle twin of q_lpa_docs: 4 unrolled synchronous LPA rounds over
    the winnowing pair graph."""
    from caspr_spark.operators.graph import label_propagation_sql
    return label_propagation_sql(
        "SELECT id_a AS src, id_b AS dst FROM (" + WINNOW_PAIRS_SQL + ")",
        iterations=4)

LPA_DOCS_SQL = _lpa_sql_entry()


def q_related_docs(spark, sf_dir):
    """TF-IDF more-like-this retrieval (search.py related_documents):
    top-3 related docs per doc by sparse-vector cosine. Pairs form
    through shared terms only (inverted-index self-join, df-capped at
    10% of the corpus — fractional so the cap scales with N); dot
    products and norms accumulate as 1e-9 fixed-point BIGINTs so
    distributed sums are exact."""
    from caspr_spark.llm.search import related_documents
    docs = _t(spark, sf_dir, "documents")
    return related_documents(docs, k=3, max_df=0.1, min_cosine=0.05)

RELATED_DOCS_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
  HAVING count(*) <= ceil(0.1 * (SELECT n_docs FROM stats))),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((stats.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0)
           AS weight
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
norms AS (
  SELECT doc_id,
         sqrt(sum(CAST(round(weight * weight * 1000000000) AS BIGINT))
              / 1000000000.0) AS nrm
  FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(CAST(round(a.weight * b.weight * 1000000000) AS BIGINT))
           AS dotfx
  FROM w a JOIN w b USING (term)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sym AS (
  SELECT id_a, id_b,
         round((dotfx / 1000000000.0) / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots
  JOIN norms na ON na.doc_id = dots.id_a
  JOIN norms nb ON nb.doc_id = dots.id_b),
bidir AS (
  SELECT id_a, id_b, cosine FROM sym WHERE cosine >= 0.05
  UNION ALL
  SELECT id_b, id_a, cosine FROM sym WHERE cosine >= 0.05)
SELECT id_a AS doc_id, id_b AS related_id, cosine,
       CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a
                                   ORDER BY cosine DESC, id_b ASC) AS rank
      FROM bidir)
WHERE rank <= 3"""


def q_sketch_distinct_rollup(spark, sf_dir):
    """Continuous COUNT DISTINCT via HLL sketch layer (timeseries.py
    distinct_sketch_layer/rollup): hourly per-event-type sketches of
    distinct users, re-aggregated to daily WITHOUT rescanning raw
    events. BOUNDED ORACLE (r6 verdict item 6): the sketch estimate
    itself is engine-specific, so the row carries the EXACT distinct
    count (which DuckDB recomputes) plus ``within_bound`` — the
    estimate honestly checked against the HLL 5-sigma envelope
    (rse = 1.04/sqrt(2^lgk) ≈ 1.63% at lgk=12, floor slack 1 for the
    sparse-exact regime) — and the oracle pins TRUE: a drifting sketch
    hash-mismatches instead of hiding behind rows-only. Tests
    additionally pin low-cardinality exactness and the 4-sigma bound
    at 200k."""
    from caspr_spark.operators.timeseries import (distinct_rollup,
                                                  distinct_sketch_layer)
    ev = _t(spark, sf_dir, "events")
    layer = distinct_sketch_layer(ev, "user_id", keys=["event_type"])
    out = distinct_rollup(layer, "day", keys=["event_type"])
    exact = (ev.groupBy(F.date_trunc("day", "ts").alias("bucket_day"),
                        "event_type")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    rse = 1.04 / (2 ** 12) ** 0.5
    bound = F.greatest(F.lit(5.0) * F.lit(rse) * F.col("n_exact"),
                       F.lit(1.0))
    return (out.join(exact, ["bucket_day", "event_type"])
            .select(F.col("bucket_day").cast("date").alias("day"),
                    "event_type", "n_exact", "n_events",
                    (F.abs(F.col("n_distinct") - F.col("n_exact"))
                     <= bound).alias("within_bound")))

# bounded oracle, the e10_quantile_approx pattern: DuckDB recomputes the EXACT
# per-(day, event_type) distinct counts; the HLL estimate is
# engine-specific, so it certifies as the within-5-sigma boolean
SKETCH_DISTINCT_ROLLUP_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS within_bound
FROM events GROUP BY 1, 2"""


def q_range_join(spark, sf_dir):
    """Bucketed interval join (joins.py range_join): 25 overlapping 36 h
    campaign windows anchored at the dataset epoch; per-campaign event
    count + value sum. The join is a hash equi-join on 12 h time buckets
    with the range predicate as a post-filter — no nested-loop theta
    join, no driver-side min(ts) action (the anchor is a constant)."""
    from caspr_spark.operators import range_join
    ev = _events(spark, sf_dir)
    camp = (spark.range(25)
            .select(F.col("id").cast("int").alias("campaign_id"),
                    F.expr("timestampadd(HOUR, 24 * id, "
                           "timestamp'2024-01-01 00:00:00')").alias("start_ts"))
            .withColumn("end_ts", F.expr("timestampadd(HOUR, 36, start_ts)")))
    joined = range_join(ev, camp, left_ts="ts", right_start="start_ts",
                        right_end="end_ts", bucket_hours=12,
                        broadcast_right=True)
    return (joined.groupBy("campaign_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))

RANGE_JOIN_CAMPAIGNS_SQL = """
WITH camp AS (
  SELECT CAST(i AS INTEGER) AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(24 * i) AS start_ts,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(24 * i + 36) AS end_ts
  FROM range(0, 25) t(i))
SELECT campaign_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 4) AS sum_value
FROM camp JOIN events e ON e.ts >= camp.start_ts AND e.ts < camp.end_ts
GROUP BY campaign_id"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix (retention.py cohort_retention —
    round 6): entities grouped by first-activity ISO week, fraction
    active each later week. Two keyed aggregations + one distinct —
    full oracle."""
    from caspr_spark.operators.retention import cohort_retention
    ev = _events(spark, sf_dir)
    return cohort_retention(ev, "user_id", "ts", period="week")

COHORT_RETENTION_SQL = """
WITH p AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
first AS (SELECT user_id, min(wk) AS cohort FROM p GROUP BY user_id),
active AS (SELECT DISTINCT user_id, wk FROM p),
sizes AS (SELECT cohort, count(*)::bigint AS n_cohort FROM first
          GROUP BY cohort)
SELECT f.cohort, CAST((a.wk - f.cohort) / 7 AS INTEGER) AS period_offset,
       count(*)::bigint AS n_active, s.n_cohort,
       round(count(*)::double / s.n_cohort, 6) AS retention
FROM active a JOIN first f USING (user_id)
JOIN sizes s ON s.cohort = f.cohort
GROUP BY f.cohort, period_offset, s.n_cohort"""


def q_rfm_scores(spark, sf_dir):
    """RFM quintile segmentation (retention.py rfm_scores — round 6):
    per-user recency/frequency/monetary with SQL ntile(5) semantics,
    computed WITHOUT a single-task global window — the entity relation
    ranks through the three-phase distributed prefix scan and the
    closed-form ntile bucket rule. Monetary sums ride integer cents;
    the anchor is pinned so the row is reproducible. Full oracle (the
    oracle uses the actual ntile window — same result, tie-broken by
    user id)."""
    from caspr_spark.operators.retention import rfm_scores
    ev = _events(spark, sf_dir)
    return rfm_scores(ev, "user_id", "ts", "value",
                      asof="2024-02-01 00:00:00", n_bins=5)

RFM_SCORES_SQL = """
WITH per AS (
  SELECT user_id, max(ts) AS last_ts, count(*)::bigint AS frequency,
         sum(round(value * 100)::bigint) AS cents
  FROM events GROUP BY user_id),
r AS (
  SELECT user_id,
         datediff('day', CAST(last_ts AS DATE),
                  DATE '2024-02-01') AS recency_days,
         frequency, cents,
         ntile(5) OVER (ORDER BY datediff('day', CAST(last_ts AS DATE),
                                          DATE '2024-02-01') DESC,
                        user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY cents ASC, user_id) AS m_score
  FROM per)
SELECT user_id, recency_days, frequency,
       round(cents / 100.0, 2) AS monetary,
       r_score, f_score, m_score,
       r_score::varchar || f_score::varchar || m_score::varchar AS rfm
FROM r"""


def q_cm_frequency_rollup(spark, sf_dir):
    """Count-Min frequency sketch with EXACT-merge rollup (timeseries.py
    cm_sketch_layer/cm_rollup/cm_estimate — round 6): hourly depth-4 ×
    256-cell sketches of event-type frequencies, rolled to daily by
    cell-wise integer addition (exact — the day sketch equals the one
    built from raw), point estimates as the min over a key's cells.
    md5-derived cells make the whole sketch family deterministic, so
    unlike classic randomized CM this carries a FULL oracle (which
    builds the day cells directly from raw — certifying the merge)."""
    from caspr_spark.operators.timeseries import (cm_estimate, cm_rollup,
                                                  cm_sketch_layer)
    ev = _events(spark, sf_dir)
    layer = cm_sketch_layer(ev, "event_type", width="hour", depth=4, w=256)
    day = cm_rollup(layer, "day", bucket_col="bucket_hour")
    probes = ev.select("event_type").distinct()
    est = cm_estimate(day, probes, "event_type", depth=4, w=256,
                      bucket_col="bucket_day")
    return est.select(F.col("bucket").cast("date").alias("day"),
                      "event_type", "est_cnt")

CM_FREQUENCY_ROLLUP_SQL = """
WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT date_trunc('day', ts) AS bucket, ds.d,
         ('0x'||substr(md5(event_type || ':' || ds.d::VARCHAR), 1, 8))
           ::ubigint % 256 AS cell,
         count(*)::bigint AS cnt
  FROM events CROSS JOIN ds
  GROUP BY 1, 2, 3),
probe AS (
  SELECT DISTINCT event_type, ds.d,
         ('0x'||substr(md5(event_type || ':' || ds.d::VARCHAR), 1, 8))
           ::ubigint % 256 AS cell
  FROM events CROSS JOIN ds),
hits AS (
  SELECT c.bucket, p.event_type,
         min(c.cnt) AS min_present, count(*) AS n_present
  FROM probe p JOIN cells c ON c.d = p.d AND c.cell = p.cell
  GROUP BY 1, 2),
grid AS (
  SELECT b.bucket, k.event_type
  FROM (SELECT DISTINCT bucket FROM cells) b
  CROSS JOIN (SELECT DISTINCT event_type FROM probe) k)
SELECT CAST(g.bucket AS DATE) AS day, g.event_type,
       (CASE WHEN h.n_present = 4 THEN h.min_present
             ELSE 0 END)::bigint AS est_cnt
FROM grid g
LEFT JOIN hits h ON h.bucket = g.bucket AND h.event_type = g.event_type"""


def q_ewma_events(spark, sf_dir):
    """Per-entity EWMA smoothing (timeseries.py ewma_smooth — round 6):
    truncated exponentially-weighted average over the trailing 8 events
    as a fixed lag chain in ONE window node; weight literals + a fixed
    summation order make it bit-reproducible, so it carries a full
    oracle."""
    from caspr_spark.operators.timeseries import ewma_smooth
    ev = _events(spark, sf_dir)
    out = ewma_smooth(ev, "user_id", "ts", "value", alpha=0.5, lags=8,
                      tiebreak=["event_id"])
    return out.select("event_id", "ewma")


def _ewma_sql_entry(alpha: float = 0.5, lags: int = 8, dp: int = 9) -> str:
    """Oracle twin of q_ewma_events: the SAME weight literals and the
    SAME left-associative + chain, so the float arithmetic replays
    identically."""
    weights = [(1.0 - alpha) ** j for j in range(lags + 1)]
    terms, have = [], []
    for j, wj in enumerate(weights):
        x = "value" if j == 0 else f"lag(value, {j}) OVER w"
        terms.append(f"coalesce({x} * {wj!r}, 0.0)")
        have.append(f"CASE WHEN {x} IS NOT NULL THEN {wj!r} ELSE 0.0 END")
    return f"""
SELECT event_id, round(({' + '.join(terms)}) / ({' + '.join(have)}), {dp})
  AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

EWMA_EVENTS_SQL = _ewma_sql_entry()


def q_interval_overlap(spark, sf_dir):
    """Interval × interval overlap join (joins.py interval_overlap_join
    — round 6): per-user activity spans (min..max event ts) against the
    25 campaign windows; overlap = half-open intersection. The bucketed
    equi-join + first-shared-bucket dedup replaces the theta join the
    oracle runs directly."""
    from caspr_spark.operators import interval_overlap_join
    ev = _events(spark, sf_dir)
    spans = ev.groupBy("user_id").agg(F.min("ts").alias("span_start"),
                                      F.max("ts").alias("span_end"))
    camp = (spark.range(25)
            .select(F.col("id").cast("int").alias("campaign_id"),
                    F.expr("timestampadd(HOUR, 24 * id, "
                           "timestamp'2024-01-01 00:00:00')")
                    .alias("start_ts"))
            .withColumn("end_ts", F.expr("timestampadd(HOUR, 36, start_ts)")))
    joined = interval_overlap_join(spans, camp,
                                   left_start="span_start",
                                   left_end="span_end",
                                   right_start="start_ts",
                                   right_end="end_ts",
                                   bucket_hours=12, broadcast_right=True)
    return (joined.groupBy("campaign_id")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.min("user_id").alias("first_user")))

INTERVAL_OVERLAP_SQL = """
WITH spans AS (
  SELECT user_id, min(ts) AS span_start, max(ts) AS span_end
  FROM events GROUP BY user_id),
camp AS (
  SELECT CAST(i AS INTEGER) AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(24 * i) AS start_ts,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(24 * i + 36) AS end_ts
  FROM range(0, 25) t(i))
SELECT campaign_id, CAST(count(*) AS BIGINT) AS n_users,
       min(user_id) AS first_user
FROM spans s JOIN camp c
  ON s.span_start < c.end_ts AND c.start_ts < s.span_end
GROUP BY campaign_id"""


def q_hypertable_rollup(spark, sf_dir):
    """Continuous-aggregate rollup (timeseries.py): hourly layer once,
    daily layer re-aggregated from the hourly table — the raw events are
    scanned exactly once. Sums ride decimal(18,4) through both layers so
    re-aggregation is order-free exact."""
    from caspr_spark.operators.timeseries import (
        continuous_rollup, hourly_aggregate,
    )
    ev = _events(spark, sf_dir)
    hourly = hourly_aggregate(ev, "ts", ["event_type"], "value")
    daily = continuous_rollup(hourly, "day", ["event_type"])
    return daily.select(
        F.to_date("bucket_day").alias("day"), "event_type", "n_events",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"))

HYPERTABLE_ROLLUP_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(value AS DECIMAL(18,4))) AS sum_value
  FROM events GROUP BY 1, 2)
SELECT CAST(date_trunc('day', bucket_hour) AS DATE) AS day, event_type,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(CAST(sum(sum_value) AS DOUBLE), 4) AS sum_value
FROM hourly GROUP BY 1, 2"""


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: stage k
    requires an event STRICTLY after the entity's stage k-1 time. Single
    lazy plan, every shuffle keyed on user_id (timeseries.py funnel)."""
    from caspr_spark.operators.timeseries import funnel
    ev = _events(spark, sf_dir)
    return funnel(ev, ["view", "click", "purchase"], entity_col="user_id")

FUNNEL_CONVERSION_SQL = """
WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
       JOIN s0 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id)
SELECT CAST(0 AS INTEGER) AS stage_idx, 'view' AS stage,
       (SELECT count(*) FROM s0) AS n_entities
UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)"""


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of join (pandas merge_asof direction='forward'): each
    event gets the user's NEXT purchase value at-or-after it — same
    union+window single-shuffle shape as the backward join, with a
    following frame."""
    from caspr_spark.operators import asof_join
    ev = _events(spark, sf_dir)
    purch = (ev.filter(F.col("event_type") == "purchase")
               .groupBy("user_id", "ts").agg(F.max("value").alias("pval")))
    out = asof_join(ev, purch, on=["user_id"], value_cols=["pval"],
                    direction="forward")
    return out.select("event_id", F.round("pval_asof", 6).alias("pval_asof"))

ASOF_JOIN_FORWARD_SQL = """
WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
           WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT e.event_id, round(p.pval, 6) AS pval_asof
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND p.ts >= e.ts"""


def q_bloom_semi(spark, sf_dir):
    """Bloom-prefiltered semi join (joins.py bloom_semi_join): events of
    users with any purchase >= 190. The filter is one bit_or aggregation
    of fitted state; the probe prunes the event scan BEFORE the exact
    semi-join shuffle; false positives are scrubbed by the join, so the
    result is bit-identical to the plain semi join (= the oracle)."""
    from caspr_spark.operators import bloom_semi_join
    ev = _events(spark, sf_dir)
    premium = (ev.filter((F.col("event_type") == "purchase")
                         & (F.col("value") >= 190))
                 .select("user_id"))
    out = bloom_semi_join(ev, premium, on="user_id", n_items=512)
    return out.select("event_id", "user_id", "event_type")

BLOOM_SEMI_JOIN_SQL = """
SELECT event_id, user_id, event_type FROM events
WHERE user_id IN (SELECT user_id FROM events
                  WHERE event_type = 'purchase' AND value >= 190)"""


def q_merge_upsert(spark, sf_dir):
    """Latest-wins upsert compaction (merge.py merge_upsert): pre-1997
    orders as the base snapshot, 1997+ orders as the CDC batch with
    status-'F' rows as delete tombstones; one window shuffle on the
    merge key elects each customer's current order."""
    from caspr_spark.operators.merge import merge_upsert
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1997-01-01")
    upd = (orders.filter(F.col("o_orderdate") >= "1997-01-01")
                 .withColumn("deleted", F.col("o_orderstatus") == "F"))
    out = merge_upsert(base, upd, keys=["o_custkey"],
                       version_cols=["o_orderdate", "o_orderkey"],
                       delete_col="deleted")
    return out.select("o_custkey", "o_orderkey", "o_orderdate",
                      "o_totalprice")

MERGE_UPSERT_ORDERS_SQL = """
WITH tagged AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 1 ELSE 0 END AS src,
         (o_orderdate >= DATE '1997-01-01' AND o_orderstatus = 'F') AS deleted
  FROM orders),
r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC, src DESC) AS rn
      FROM tagged)
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM r WHERE rn = 1 AND NOT deleted"""


def q_heavy_hitters(spark, sf_dir):
    """One-pass exact heavy hitters (frequent.py heavy_hitters):
    Misra-Gries candidate prefilter per partition (Arrow-batched
    sketch, bounded memory) + broadcast-semi recount of candidates
    only — the vocabulary-sized shuffle never happens, yet counts are
    exact (the MG guarantee makes candidates a superset)."""
    from caspr_spark.operators.frequent import heavy_hitters
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
    return heavy_hitters(toks, "token", 0.01)

HEAVY_HITTERS_SQL = r"""
WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents)
SELECT token, count(*)::bigint AS cnt FROM t GROUP BY token
HAVING count(*) > 0.01 * (SELECT count(*) FROM t)"""


def q_fuzzy_join(spark, sf_dir):
    """Blocked approximate string join (joins.py fuzzy_join): every 7th
    part name with its last character dropped, re-linked to the part
    table by 4-char-prefix blocking + thresholded levenshtein <= 2.
    Equi-join on the block key — no cartesian anywhere. The hot-block
    cap (now the operator DEFAULT, r4 verdict item 2) is passed
    explicitly so the certified plan is the capped production plan; at
    these prefix cardinalities no block approaches 1e6 pairs, so the
    result set is identical to the uncapped oracle."""
    from caspr_spark.operators.joins import fuzzy_join
    part = _t(spark, sf_dir, "part")
    probe = (part.filter(F.col("p_partkey") % 7 == 0)
                 .select(F.col("p_partkey").alias("probe_id"),
                         F.expr("substring(p_name, 1, length(p_name)-1)")
                          .alias("probe_name")))
    fj = fuzzy_join(probe, part.select("p_partkey", "p_name"),
                    "probe_name", "p_name", max_distance=2, block_len=4,
                    max_block_pairs=1_000_000)
    return fj.select("probe_id", "p_partkey", "edit_distance")

FUZZY_JOIN_PARTS_SQL = """
WITH probe AS (
  SELECT p_partkey AS probe_id,
         substring(p_name, 1, length(p_name)-1) AS probe_name
  FROM part WHERE p_partkey % 7 = 0),
lb AS (SELECT probe_id, probe_name,
              lower(substring(probe_name, 1, 4)) AS blk FROM probe),
rb AS (SELECT p_partkey, p_name,
              lower(substring(p_name, 1, 4)) AS blk FROM part),
-- the operator's hot-block cap (max_block_pairs=1e6, ON BY DEFAULT
-- since r5) is part of its semantics: blocks whose candidate fan-out
-- exceeds the cap produce NO matches, and the oracle mirrors that
sizes AS (
  SELECT blk FROM (SELECT blk, count(*) AS nl FROM lb GROUP BY blk) l
  JOIN (SELECT blk, count(*) AS nr FROM rb GROUP BY blk) r USING (blk)
  WHERE l.nl * r.nr <= 1000000)
SELECT probe_id, rb.p_partkey,
       CAST(levenshtein(probe_name, rb.p_name) AS INT) AS edit_distance
FROM lb JOIN sizes USING (blk) JOIN rb USING (blk)
WHERE levenshtein(probe_name, rb.p_name) <= 2"""


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key (layout.py zorder_value): 8-bit
    interleave over (user_id, value) — the OPTIMIZE ZORDER primitive
    whose range-partitioned write gives multi-column data skipping.
    Min/max fit is one aggregation; the key is pure codegen bit
    arithmetic, reproduced exactly by the oracle."""
    from caspr_spark.operators.layout import zorder_value
    ev = _events(spark, sf_dir)
    zv = zorder_value(ev.select("event_id", "user_id", "value"),
                      ["user_id", "value"], bits=8)
    return zv.select("event_id", "zvalue")


def _zorder_sql(bits: int = 8) -> str:
    """SQL twin of q_zorder_layout: identical min-max quantization
    arithmetic (IEEE double ops are deterministic, so floor() agrees
    bit-for-bit) and the same interleave positions (user_id -> even
    bits, value -> odd). Mirrors the impl's edge handling exactly
    (layout.py zorder_value): null values quantize to 0 via coalesce,
    and an all-null or constant column (max == min) contributes no bits
    instead of dividing by zero."""
    top = float((1 << bits) - 1)
    tu = " + ".join(f"(((qu >> {i}) & 1) << {2 * i})" for i in range(bits))
    tv = " + ".join(f"(((qv >> {i}) & 1) << {2 * i + 1})"
                    for i in range(bits))

    def _q(col: str, mn: str, mx: str) -> str:
        return (f"CASE WHEN s.{mx} IS NULL OR s.{mn} IS NULL "
                f"OR s.{mx} = s.{mn} THEN 0 "
                f"ELSE coalesce(floor(({col}::double - s.{mn}) * {top} "
                f"/ (s.{mx} - s.{mn}))::bigint, 0) END")
    return f"""
WITH s AS (SELECT min(user_id::double) AS mnu, max(user_id::double) AS mxu,
                  min(value::double) AS mnv, max(value::double) AS mxv
           FROM events),
q AS (SELECT event_id,
        {_q('user_id', 'mnu', 'mxu')} AS qu,
        {_q('value', 'mnv', 'mxv')} AS qv
      FROM events CROSS JOIN s)
SELECT event_id, ({tu} + {tv})::bigint AS zvalue FROM q"""

ZORDER_LAYOUT_SQL = _zorder_sql()


def q_diff_snapshots(spark, sf_dir):
    """Change-data feed between snapshots (merge.py diff_snapshots):
    per-customer latest order as of 1997 vs as of 1998 (customers
    divisible by 13 dropped from the new snapshot) — inserted/deleted/
    updated rows from ONE full-outer equi-join."""
    from caspr_spark.operators.merge import diff_snapshots
    from pyspark.sql import Window as W
    orders = _t(spark, sf_dir, "orders")

    def snap(upper):
        w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(),
                                               F.col("o_orderkey").desc())
        return (orders.filter(F.col("o_orderdate") < upper)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("o_custkey", "o_orderkey", "o_totalprice"))

    old = snap("1997-01-01")
    new = snap("1998-01-01").filter(F.col("o_custkey") % 13 != 0)
    out = diff_snapshots(old, new, keys=["o_custkey"],
                         compare_cols=["o_orderkey", "o_totalprice"])
    return out.select("o_custkey", "change_type",
                      "o_orderkey_old", "o_orderkey_new")

DIFF_SNAPSHOTS_SQL = """
WITH snap_old AS (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate < DATE '1997-01-01') WHERE rn = 1),
snap_new AS (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate < DATE '1998-01-01') WHERE rn = 1
  AND o_custkey % 13 != 0),
j AS (
  SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
         o.o_orderkey AS o_orderkey_old, n.o_orderkey AS o_orderkey_new,
         o.o_totalprice AS p_old, n.o_totalprice AS p_new,
         (o.o_custkey IS NOT NULL) AS in_old,
         (n.o_custkey IS NOT NULL) AS in_new
  FROM snap_old o FULL OUTER JOIN snap_new n USING (o_custkey))
SELECT o_custkey,
       CASE WHEN NOT in_old THEN 'inserted'
            WHEN NOT in_new THEN 'deleted'
            ELSE 'updated' END AS change_type,
       o_orderkey_old, o_orderkey_new
FROM j
WHERE NOT in_old OR NOT in_new
   OR o_orderkey_old IS DISTINCT FROM o_orderkey_new
   OR p_old IS DISTINCT FROM p_new"""


def q_profile_table(spark, sf_dir):
    """Data-profiling report (profile.py profile_table): nulls /
    distincts / min / max / modal value for three event columns — one
    aggregation pass + one melt-count-window pass, k columns in the
    same shuffle."""
    from caspr_spark.operators.profile import profile_table
    ev = _events(spark, sf_dir)
    return profile_table(ev, ["event_type", "user_id", "value"])


def _profile_sql(table: str, cols: list[str],
                 float_cols: set[str] | None = None) -> str:
    """SQL twin of profile.profile_table: one UNION ALL arm per
    (column, metric); modal tie-break = smallest string value.
    Floating columns are rendered through the same canonical
    round-6dp -> DECIMAL(38,6) -> varchar path as the impl, so the
    report never depends on an engine's native double formatting
    (Java Double.toString vs DuckDB printf diverge on scientific
    notation and shortest-digit output)."""
    float_cols = float_cols or set()
    arms = []
    for c in cols:
        v = (f"round({c}::double, 6)::DECIMAL(38,6)::varchar"
             if c in float_cols else f"{c}::varchar")

        def _agg(fn: str) -> str:
            if c in float_cols:
                return (f"round({fn}({c}::double), 6)"
                        "::DECIMAL(38,6)::varchar")
            return f"{fn}({c})::varchar"
        arms += [
            f"""SELECT '{c}' AS "column", 'n_nulls' AS metric,
  (count(*) FILTER (WHERE {c} IS NULL))::varchar AS value FROM {table}""",
            f"""SELECT '{c}', 'n_distinct',
  count(DISTINCT {c})::varchar FROM {table}""",
            f"""SELECT '{c}', 'min', {_agg('min')} FROM {table}""",
            f"""SELECT '{c}', 'max', {_agg('max')} FROM {table}""",
            f"""SELECT '{c}', 'top_value', value FROM (
  SELECT {v} AS value, count(*) AS cnt FROM {table}
  WHERE {c} IS NOT NULL GROUP BY 1
  ORDER BY cnt DESC, value ASC LIMIT 1)""",
            f"""SELECT '{c}', 'top_count', cnt::varchar FROM (
  SELECT {v} AS value, count(*) AS cnt FROM {table}
  WHERE {c} IS NOT NULL GROUP BY 1
  ORDER BY cnt DESC, value ASC LIMIT 1)""",
        ]
    return "\nUNION ALL\n".join(arms)

PROFILE_TABLE_SQL = _profile_sql("events",
                              ["event_type", "user_id", "value"],
                              float_cols={"value"})


def q_covariance_matrix(spark, sf_dir):
    """Single-pass covariance/correlation matrix (profile.py
    covariance_matrix): all pairs of three lineitem measures from ONE
    aggregation (k(k+3)/2 partial aggregates), population ddof."""
    from caspr_spark.operators.profile import covariance_matrix
    li = _t(spark, sf_dir, "lineitem")
    out = covariance_matrix(li, ["l_quantity", "l_discount", "l_tax"])
    return out.select("col_a", "col_b", F.round("cov", 6).alias("cov"),
                      F.round("corr", 6).alias("corr"))

COVARIANCE_MATRIX_SQL = """
WITH d AS (
  SELECT l_quantity::double AS a, l_discount::double AS b,
         l_tax::double AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    AND l_tax IS NOT NULL),
m AS (
  SELECT count(*)::double AS n,
         sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
         sum(a*a) AS paa, sum(a*b) AS pab, sum(a*c) AS pac,
         sum(b*b) AS pbb, sum(b*c) AS pbc, sum(c*c) AS pcc
  FROM d),
v AS (
  SELECT n, (paa - sa*sa/n)/n AS vaa, (pbb - sb*sb/n)/n AS vbb,
         (pcc - sc*sc/n)/n AS vcc,
         (pab - sa*sb/n)/n AS vab, (pac - sa*sc/n)/n AS vac,
         (pbc - sb*sc/n)/n AS vbc
  FROM m)
SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b,
       round(vaa, 6) AS cov, round(vaa/(sqrt(vaa)*sqrt(vaa)), 6) AS corr
  FROM v
UNION ALL SELECT 'l_quantity', 'l_discount', round(vab, 6),
       round(vab/(sqrt(vaa)*sqrt(vbb)), 6) FROM v
UNION ALL SELECT 'l_quantity', 'l_tax', round(vac, 6),
       round(vac/(sqrt(vaa)*sqrt(vcc)), 6) FROM v
UNION ALL SELECT 'l_discount', 'l_discount', round(vbb, 6),
       round(vbb/(sqrt(vbb)*sqrt(vbb)), 6) FROM v
UNION ALL SELECT 'l_discount', 'l_tax', round(vbc, 6),
       round(vbc/(sqrt(vbb)*sqrt(vcc)), 6) FROM v
UNION ALL SELECT 'l_tax', 'l_tax', round(vcc, 6),
       round(vcc/(sqrt(vcc)*sqrt(vcc)), 6) FROM v"""


def q_rollup_incremental(spark, sf_dir):
    """Incremental view maintenance (timeseries.py merge_rollup_delta):
    the hourly layer built from pre-cut history, folded with the
    post-cut delta batch, then rolled to daily — must equal the rollup
    over the full history bit-for-bit (decimal sums make the merge an
    exact monoid fold). Refresh cost scales with the delta, not the
    history."""
    from caspr_spark.operators.timeseries import (
        continuous_rollup, hourly_aggregate, merge_rollup_delta)
    ev = _events(spark, sf_dir)
    cut = "2024-01-15"
    base = hourly_aggregate(ev.filter(F.col("ts") < cut), "ts",
                            ["event_type"], "value")
    delta = hourly_aggregate(ev.filter(F.col("ts") >= cut), "ts",
                             ["event_type"], "value")
    merged = merge_rollup_delta(base, delta, ["event_type"])
    daily = continuous_rollup(merged, "day", ["event_type"])
    return daily.select(
        F.to_date("bucket_day").alias("day"), "event_type", "n_events",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"))


def q_outlier_robust(spark, sf_dir):
    """Robust outlier filter (filters.py remove_outliers_robust):
    median ± 3.5·MAD_n on the event value — the 50%-breakdown twin of
    F5's mean/σ rule; exact-median fit here, GK approx at scale."""
    from caspr_spark.operators.filters import remove_outliers_robust
    ev = _events(spark, sf_dir)
    out = remove_outliers_robust(ev, ["value"], k=3.5)
    return out.select("event_id", "value")

OUTLIER_ROBUST_SQL = """
WITH m AS (SELECT median(value) AS mu FROM events),
md AS (SELECT median(abs(e.value - m.mu)) AS mad
       FROM events e CROSS JOIN m)
SELECT event_id, value FROM events CROSS JOIN m CROSS JOIN md
WHERE abs(value - mu) <= 3.5 * 1.4826 * mad"""


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins (metrics.py calibration_bins): a
    deterministic sigmoid score over the first embedding component vs
    the label-0 indicator — one keyed aggregation."""
    from caspr_spark.metrics import calibration_bins
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") == 0).cast("int").alias("y"),
        (F.lit(1.0) / (F.lit(1.0)
                       + F.exp(F.lit(-4.0)
                               * F.element_at("embedding", 1).cast("double"))))
        .alias("score"))
    out = calibration_bins(scored, "y", "score", n_bins=10)
    return out.select("bin", "n", F.round("mean_score", 6).alias("mean_score"),
                      F.round("positive_rate", 6).alias("positive_rate"))

CALIBRATION_BINS_SQL = """
WITH s AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         1.0/(1.0 + exp(-4.0 * (embedding[1]::double))) AS score
  FROM embeddings)
SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
       count(*)::bigint AS n,
       round(avg(score), 6) AS mean_score,
       round(avg(y::double), 6) AS positive_rate
FROM s GROUP BY 1"""


def q_drift_psi(spark, sf_dir):
    """Population Stability Index (metrics.py drift_psi): event values
    before vs after 2024-01-15, 10 equal-width bins over the baseline
    range with epsilon-floored proportions; per-bin contributions plus
    the headline total (bin = -1). Two keyed aggs, monitoring at scan
    cost."""
    from caspr_spark.metrics import drift_psi
    ev = _events(spark, sf_dir)
    cut = "2024-01-15"
    out = drift_psi(ev.filter(F.col("ts") < cut),
                    ev.filter(F.col("ts") >= cut), "value", n_bins=10)
    return out

DRIFT_PSI_SQL = """
WITH st AS (
  SELECT min(value::double) AS lo, max(value::double) AS hi
  FROM events WHERE ts < TIMESTAMP '2024-01-15' AND value IS NOT NULL),
pb AS (
  SELECT greatest(0, least(CAST(floor((value::double - st.lo) * 10
                                      / (st.hi - st.lo)) AS INT), 9)) AS bin,
         count(*)::double AS n
  FROM events CROSS JOIN st
  WHERE ts < TIMESTAMP '2024-01-15' AND value IS NOT NULL GROUP BY 1),
qb AS (
  SELECT greatest(0, least(CAST(floor((value::double - st.lo) * 10
                                      / (st.hi - st.lo)) AS INT), 9)) AS bin,
         count(*)::double AS n
  FROM events CROSS JOIN st
  WHERE ts >= TIMESTAMP '2024-01-15' AND value IS NOT NULL GROUP BY 1),
d AS (
  SELECT CAST(r.range AS INT) AS bin,
         greatest(coalesce(pb.n, 0) / (SELECT sum(n) FROM pb), 1e-6) AS p,
         greatest(coalesce(qb.n, 0) / (SELECT sum(n) FROM qb), 1e-6) AS q
  FROM range(0, 10) r
  LEFT JOIN pb ON pb.bin = r.range LEFT JOIN qb ON qb.bin = r.range)
SELECT bin, round(p, 9) AS p, round(q, 9) AS q,
       round((p - q) * ln(p / q), 9) AS psi
FROM d
UNION ALL
SELECT -1, NULL, NULL, round(sum((p - q) * ln(p / q)), 9) FROM d"""


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (sampling.py
    weighted_sample_topk, Efraimidis-Spirakis): 200 documents drawn
    proportional to n_chars; md5-derived uniforms make the draw a pure
    function of (ids, seed) and reproducible in the oracle."""
    from caspr_spark.operators.sampling import weighted_sample_topk
    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(docs, k=200, weight_col="n_chars",
                               id_cols=["doc_id"])
    return out.select("doc_id", "n_chars")

WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         -ln((('0x'||substr(md5('42|'||doc_id), 1, 8))::ubigint::double + 1.0)
             / 4294967297.0) / n_chars AS es_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
ORDER BY es_key ASC, doc_id ASC LIMIT 200"""


def q_cv_folds(spark, sf_dir):
    """Deterministic k-fold assignment (sampling.py assign_folds):
    5 folds over orders by md5(seed||orderkey) mod k — partition- and
    engine-independent, unlike randomSplit. Per-fold row count + price
    total summed as integer cents (exact, order-free)."""
    from caspr_spark.operators.sampling import assign_folds
    orders = _t(spark, sf_dir, "orders")
    f5 = assign_folds(orders, ["o_orderkey"], k=5)
    return (f5.groupBy("fold")
              .agg(F.count(F.lit(1)).alias("n"),
                   (F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                    / 100.0).alias("price_total")))

CV_FOLDS_SQL = """
SELECT (('0x'||substr(md5('42|'||o_orderkey), 1, 8))::ubigint % 5)::int
         AS fold,
       count(*)::bigint AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
         AS price_total
FROM orders GROUP BY 1"""


def q_source_csv_roundtrip(spark, sf_dir):
    """CSV interchange sink/source (sources.py write_table/read_table):
    events written as headered csv, read back with an explicit schema —
    values must survive the text round-trip bit-exactly."""
    from caspr_spark.sources import write_table, read_table
    ev = _events(spark, sf_dir).select("event_id", "user_id",
                                       "event_type", "value")
    path = os.path.join(_TMP, "handover_events_csv")
    write_table(ev, path, format="csv")
    return read_table(spark, path, format="csv", schema=ev.schema)


def q_source_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines interchange sink/source (sources.py
    write_table/read_table, format='json' — round 6): events written
    as JSONL, read back with an explicit schema — values must survive
    the text round-trip bit-exactly (doubles via shortest-round-trip
    rendering)."""
    from caspr_spark.sources import read_table, write_table
    ev = _events(spark, sf_dir).select("event_id", "user_id",
                                       "event_type", "value")
    path = os.path.join(_TMP, "handover_events_jsonl")
    write_table(ev, path, format="json")
    return read_table(spark, path, format="json", schema=ev.schema)


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood record linkage (joins.py
    sorted_neighborhood_pairs — round 6): part names within 2 global
    sort positions, verified at levenshtein <= 3 — the blocking scheme
    that catches first-character typos prefix blocking misses. The
    global position comes from the distributed prefix scan, never a
    single-task sort; candidates are window·N, no hot-block quadratic.
    Full oracle (row_number window in DuckDB)."""
    from caspr_spark.operators.joins import sorted_neighborhood_pairs
    part = _t(spark, sf_dir, "part")
    return sorted_neighborhood_pairs(
        part.select("p_partkey", "p_name"), "p_name",
        id_col="p_partkey", window=2, max_distance=3)

SORTED_NEIGHBORHOOD_SQL = """
WITH r AS (
  SELECT p_partkey AS id, lower(p_name) AS k,
         row_number() OVER (ORDER BY lower(p_name), p_partkey) AS rk
  FROM part)
SELECT a.id AS id_a, b.id AS id_b,
       levenshtein(a.k, b.k)::INTEGER AS edit_distance
FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 2
WHERE levenshtein(a.k, b.k) <= 3"""


def q_histogram_values(spark, sf_dir):
    """Fixed-bin histogram (profile.py histogram): 20 bins over event
    values on an explicit [0, 500] range (single aggregation pass,
    clamped edges, empty bins emitted) — the drift-monitor/calibration
    raw material."""
    from caspr_spark.operators.profile import histogram
    ev = _events(spark, sf_dir)
    return histogram(ev, "value", bins=20, lo=0.0, hi=500.0)

HISTOGRAM_VALUES_SQL = """
WITH bins AS (SELECT i::INT AS bin, round(0.0 + i * 25.0, 9) AS lo_edge,
                     round(CASE WHEN i = 19 THEN 500.0
                           ELSE 0.0 + (i + 1) * 25.0 END, 9) AS hi_edge
              FROM range(0, 20) t(i)),
c AS (SELECT greatest(0, least(19,
        floor((value::DOUBLE - 0.0) / 25.0)))::INT AS bin,
        count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT bin, lo_edge, hi_edge, coalesce(c.cnt, 0)::BIGINT AS cnt
FROM bins LEFT JOIN c USING (bin)"""


def q_topk_per_group(spark, sf_dir):
    """Grouped top-k (rank.py topk_per_group): each customer's 3 most
    recent orders — planned as WindowGroupLimit (the per-group limit
    runs below the sort, so the exchange moves O(groups·k) rows)."""
    from caspr_spark.operators.rank import topk_per_group
    orders = _t(spark, sf_dir, "orders")
    out = topk_per_group(orders, ["o_custkey"],
                         [F.col("o_orderdate").desc(),
                          F.col("o_orderkey").desc()], k=3)
    return out.select("o_custkey", "o_orderkey", "o_orderdate", "rk")

TOPK_PER_GROUP_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC)
           AS rk
  FROM orders)
SELECT o_custkey, o_orderkey, o_orderdate, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 3"""


def q_skew_report(spark, sf_dir):
    """Shuffle-skew diagnosis (profile.py diagnose_skew): the 10
    heaviest lineitem order keys with row fraction and imbalance factor
    (cnt / mean-rows-per-key ≈ the salt factor needed) — the check run
    before keying a 100 TB shuffle."""
    from caspr_spark.operators.profile import diagnose_skew
    li = _t(spark, sf_dir, "lineitem")
    return diagnose_skew(li, ["l_orderkey"], top_n=10)

SKEW_REPORT_SQL = """
WITH c AS (SELECT l_orderkey::varchar AS key, count(*) AS cnt
           FROM lineitem GROUP BY 1),
s AS (SELECT sum(cnt)::DOUBLE AS total,
             count(*)::DOUBLE AS n_keys FROM c)
SELECT key, cnt,
       round(cnt / (SELECT total FROM s), 6) AS frac,
       round(cnt / ((SELECT total FROM s) / (SELECT n_keys FROM s)), 6)
         AS imbalance
FROM c ORDER BY cnt DESC, key ASC LIMIT 10"""


def q_shards_roundtrip(spark, sf_dir):
    """Deterministic training-shard export (sources.py
    write_training_shards): orders hashed into 8 shards by portable
    md5(seed, key), manifest with per-shard counts + order-insensitive
    id checksums, read back WITH verification — values must survive
    the round-trip exactly (oracle = the source table)."""
    from caspr_spark.sources import (read_training_shards,
                                     write_training_shards)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    path = os.path.join(_TMP, "training_shards_orders")
    write_training_shards(orders, path, n_shards=8, id_col="o_orderkey")
    back = read_training_shards(spark, path, verify=True)
    return back.select("o_orderkey", "o_custkey", "o_orderstatus",
                       "o_totalprice")

SHARDS_ROUNDTRIP_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders"""
