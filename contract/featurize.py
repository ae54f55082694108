"""CASPR featurization queries: the end-to-end pipelines and the per-operator
window, filter, aggregate, encode and pivot queries, each followed by its
DuckDB oracle SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from caspr_spark import ColumnRoles, SequenceFeaturizer
from caspr_spark.sources import write_parquet_handover
from caspr_spark.operators import (
    get_rank, timestamps_to_intervals, filter_history_window,
    filter_last_n, fit_encoding, featurize_sequential, petastorm_rename,
    remove_outliers, fill_date_nans, pack_feature_arrays,
    column_cardinalities, distinct_values_sorted, build_multi_hot_labels,
)
from contract.common import (
    HIST_DAYS, ORDERS_HIST, ORDERS_N, SEQ_N, _TMP, _events, _t,
    _with_prediction_date,
)


def _event_roles() -> ColumnRoles:
    return ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                       cat_cols=["event_type"], cont_cols=["value"],
                       seq_cols=["event_type", "value", "ts"], date_cols=["ts"],
                       order_tiebreak=["event_id"])


def q_pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_prediction_date(_events(spark, sf_dir))
    feat = SequenceFeaturizer(roles=_event_roles(), history_days=HIST_DAYS,
                              seq_len=SEQ_N, interval=True, scaling="min_max")
    wide, _ = feat.fit_transform(ev)
    return wide


def _pivot_cases(n, src, alias_prefix, fill="0"):
    return ",\n  ".join(
        f'coalesce(max(CASE WHEN slot={s} THEN {src} END), {fill}) AS "{s}_{alias_prefix}"'
        for s in range(1, n + 1))


def _events_pipeline_sql() -> str:
    n, hist = SEQ_N, HIST_DAYS
    et = _pivot_cases(n, "et", "event_type", "0")
    val = _pivot_cases(n, "val_n", "value", "0.0")
    ts = _pivot_cases(n, "ts_n", "ts", "max(hist_n)")
    return f"""
WITH pred AS (SELECT max(ts) AS p FROM events),
f AS (
  SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts, pred.p
  FROM events e CROSS JOIN pred
  WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - {hist}*86400
    AND e.ts < pred.p
),
enc AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS code
  FROM f GROUP BY event_type
),
d AS (
  SELECT f.*, (p::DATE - ts::DATE) AS ts_feat,
         count(*) OVER (PARTITION BY user_id) AS sl,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM f
),
stats AS (
  SELECT min(ts_feat) AS tmin, max(ts_feat) AS tmax,
         min(value) AS vmin, max(value) AS vmax FROM d
),
n AS (
  SELECT d.user_id,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
         CAST(coalesce(enc.code, 0) AS INT) AS et,
         (d.value - s.vmin) / (s.vmax - s.vmin) AS val_n,
         CAST(d.ts_feat - s.tmin AS DOUBLE) / CAST(s.tmax - s.tmin AS DOUBLE) AS ts_n,
         CAST({hist} - s.tmin AS DOUBLE) / CAST(s.tmax - s.tmin AS DOUBLE) AS hist_n
  FROM d LEFT JOIN enc USING (event_type) CROSS JOIN stats s
  WHERE d.rd <= {n}
)
SELECT user_id,
  {et},
  {val},
  {ts}
FROM n GROUP BY user_id
"""

PIPELINE_EVENTS_SQL = _events_pipeline_sql()


def q_pipeline_events_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same featurization through the ArrayType scale path
    (collect_sequences -> sequences_to_wide); hash-matches the same
    oracle as the pivot layout."""
    ev = _with_prediction_date(_events(spark, sf_dir))
    feat = SequenceFeaturizer(roles=_event_roles(), history_days=HIST_DAYS,
                              seq_len=SEQ_N, interval=True, scaling="min_max",
                              layout="array")
    wide, _ = feat.fit_transform(ev)
    return wide


def q_pipeline_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full featurization of the biggest table through the array-layout
    scale path (throughput evidence: 600k rows at sf0.1), hash-matched
    against a complete SQL oracle."""
    li = _t(spark, sf_dir, "lineitem")
    pred = li.agg(F.max("l_shipdate")).collect()[0][0]
    li = li.withColumn("prediction_date", F.lit(pred))
    roles = ColumnRoles(
        tgt_id=["l_orderkey"], activity_date="l_shipdate",
        cat_cols=["l_returnflag", "l_linestatus"],
        cont_cols=["l_quantity", "l_extendedprice", "l_discount"],
        seq_cols=["l_returnflag", "l_linestatus", "l_quantity",
                  "l_extendedprice", "l_discount", "l_shipdate"],
        date_cols=["l_shipdate"],
        order_tiebreak=["l_linenumber", "l_extendedprice", "l_partkey"])
    feat = SequenceFeaturizer(roles=roles, history_days=3650, seq_len=4,
                              interval=True, scaling="min_max",
                              layout="array")
    wide, _ = feat.fit_transform(li)
    return wide


def _lineitem_pipeline_sql() -> str:
    """Oracle twin of q_pipeline_lineitem (interval mode, no profile)."""
    n, hist = 4, 3650
    cats = ["l_returnflag", "l_linestatus"]
    conts = ["l_quantity", "l_extendedprice", "l_discount"]
    enc_ctes = ",\n".join(
        f"enc_{c} AS (SELECT {c} AS v, "
        f"row_number() OVER (ORDER BY count(*) DESC, {c} ASC) AS code "
        f"FROM f GROUP BY 1)" for c in cats)
    stat_sel = ", ".join(f"min({c}) AS mn_{c}, max({c}) AS mx_{c}"
                         for c in conts)
    coded = ", ".join(f"CAST(coalesce(e_{c}.code, 0) AS INT) AS {c}"
                      for c in cats)
    normed = ", ".join(f"(d.{c} - s.mn_{c}) / (s.mx_{c} - s.mn_{c}) AS {c}"
                       for c in conts)
    enc_joins = " ".join(f"LEFT JOIN enc_{c} e_{c} ON d.{c} = e_{c}.v"
                         for c in cats)
    pivots = []
    for c in cats:
        pivots += [f'coalesce(max(CASE WHEN slot={s} THEN {c} END), 0) '
                   f'AS "{s}_{c}"' for s in range(1, n + 1)]
    for c in conts:
        pivots += [f'coalesce(max(CASE WHEN slot={s} THEN {c} END), 0.0) '
                   f'AS "{s}_{c}"' for s in range(1, n + 1)]
    pivots += [f'coalesce(max(CASE WHEN slot={s} THEN ti_n END), max(hist_n)) '
               f'AS "{s}_l_shipdate"' for s in range(1, n + 1)]
    pivot_sql = ",\n  ".join(pivots)
    return f"""
WITH pred AS (SELECT max(l_shipdate) AS p FROM lineitem),
f AS (
  SELECT l.*, pred.p FROM lineitem l CROSS JOIN pred
  WHERE extract(epoch FROM l.l_shipdate) > floor(extract(epoch FROM pred.p)) - {hist}*86400
    AND l.l_shipdate < pred.p
),
{enc_ctes},
d AS (
  SELECT f.*, (p::DATE - l_shipdate::DATE) AS ti,
         count(*) OVER (PARTITION BY l_orderkey) AS sl,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_shipdate DESC, l_linenumber DESC,
                                     l_extendedprice DESC, l_partkey DESC) AS rd
  FROM f
),
stats AS (SELECT {stat_sel}, min(ti) AS mn_ti, max(ti) AS mx_ti FROM d),
k AS (
  SELECT d.l_orderkey,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
         {coded},
         {normed},
         CAST(d.ti - s.mn_ti AS DOUBLE) / CAST(s.mx_ti - s.mn_ti AS DOUBLE) AS ti_n,
         CAST({hist} - s.mn_ti AS DOUBLE) / CAST(s.mx_ti - s.mn_ti AS DOUBLE) AS hist_n
  FROM d {enc_joins} CROSS JOIN stats s
  WHERE d.rd <= {n}
)
SELECT l_orderkey,
  {pivot_sql}
FROM k GROUP BY l_orderkey
"""

PIPELINE_LINEITEM_SQL = _lineitem_pipeline_sql()


def q_pipeline_events_percutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity prediction-date featurization: every user is cut off at
    their OWN latest activity (not one global max(ts)). Exercises the
    reference's core per-row-cutoff semantic
    (caspr/utils/spark/preprocess.py:551, :577-581) end-to-end through
    F1 -> W1 -> E1/E5 -> P3: the history filter, the interval features and
    the fills all see a prediction_date that varies per row.
    """
    ev = _events(spark, sf_dir)
    percut = ev.groupBy("user_id").agg(F.max("ts").alias("prediction_date"))
    ev = ev.join(percut, on="user_id", how="inner")
    feat = SequenceFeaturizer(roles=_event_roles(), history_days=HIST_DAYS,
                              seq_len=SEQ_N, interval=True, scaling="min_max")
    wide, _ = feat.fit_transform(ev)
    return wide


def _events_percutoff_sql() -> str:
    """Oracle twin of q_pipeline_events_percutoff: identical to the global
    pipeline oracle except ``pred`` is per-user (each user's max ts) and
    joins by key instead of cross-joining a scalar."""
    n, hist = SEQ_N, HIST_DAYS
    et = _pivot_cases(n, "et", "event_type", "0")
    val = _pivot_cases(n, "val_n", "value", "0.0")
    ts = _pivot_cases(n, "ts_n", "ts", "max(hist_n)")
    return f"""
WITH pred AS (SELECT user_id, max(ts) AS p FROM events GROUP BY user_id),
f AS (
  SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts, pred.p
  FROM events e JOIN pred USING (user_id)
  WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - {hist}*86400
    AND e.ts < pred.p
),
enc AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS code
  FROM f GROUP BY event_type
),
d AS (
  SELECT f.*, (p::DATE - ts::DATE) AS ts_feat,
         count(*) OVER (PARTITION BY user_id) AS sl,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM f
),
stats AS (
  SELECT min(ts_feat) AS tmin, max(ts_feat) AS tmax,
         min(value) AS vmin, max(value) AS vmax FROM d
),
n AS (
  SELECT d.user_id,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
         CAST(coalesce(enc.code, 0) AS INT) AS et,
         (d.value - s.vmin) / (s.vmax - s.vmin) AS val_n,
         CAST(d.ts_feat - s.tmin AS DOUBLE) / CAST(s.tmax - s.tmin AS DOUBLE) AS ts_n,
         CAST({hist} - s.tmin AS DOUBLE) / CAST(s.tmax - s.tmin AS DOUBLE) AS hist_n
  FROM d LEFT JOIN enc USING (event_type) CROSS JOIN stats s
  WHERE d.rd <= {n}
)
SELECT user_id,
  {et},
  {val},
  {ts}
FROM n GROUP BY user_id
"""

PIPELINE_EVENTS_PERCUTOFF_SQL = _events_percutoff_sql()


def q_pipeline_orders_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (2-column) entity key through the full pipeline: the
    reference's ``tgt_id`` is a *list* (caspr/utils/spark/preprocess.py:549);
    here the entity is (c_nationkey, c_mktsegment) — a genuine multi-column
    grain — driven through W1 ranking, P3 pivot and the absolute-date fill
    path (J4-style profile carry rides the same composite key).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    df = orders.join(customer, orders.o_custkey == customer.c_custkey).drop("c_custkey")
    pred = orders.agg(F.max("o_orderdate")).collect()[0][0]
    df = df.withColumn("prediction_date", F.lit(pred))
    df = df.withColumn("c_nationkey", F.col("c_nationkey").cast("int"))
    roles = ColumnRoles(
        tgt_id=["c_nationkey", "c_mktsegment"], activity_date="o_orderdate",
        cat_cols=["o_orderstatus", "o_orderpriority"],
        cont_cols=["o_totalprice"],
        seq_cols=["o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderdate"],
        date_cols=["o_orderdate"],
        order_tiebreak=["o_orderkey"])
    feat = SequenceFeaturizer(roles=roles, history_days=ORDERS_HIST,
                              seq_len=ORDERS_N, interval=False, scaling="min_max")
    wide, _ = feat.fit_transform(df)
    return wide


def _orders_composite_sql() -> str:
    """Oracle twin of q_pipeline_orders_composite: the orders pipeline on
    the composite (c_nationkey, c_mktsegment) entity key, absolute-date
    mode, no profile columns."""
    n, hist = ORDERS_N, ORDERS_HIST
    st = _pivot_cases(n, "st", "o_orderstatus", "0")
    pr = _pivot_cases(n, "pr", "o_orderpriority", "0")
    tp = _pivot_cases(n, "tp_n", "o_totalprice", "0.0")
    od = _pivot_cases(n, "od_n", "o_orderdate", "max(sow_n)")
    return f"""
WITH pred AS (SELECT max(o_orderdate) AS p FROM orders),
j AS (
  SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority,
         o.o_totalprice, o.o_orderdate,
         CAST(c.c_nationkey AS INT) AS c_nationkey, c.c_mktsegment, pred.p
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey CROSS JOIN pred
  WHERE extract(epoch FROM o.o_orderdate) > floor(extract(epoch FROM pred.p)) - {hist}*86400
    AND o.o_orderdate < pred.p
),
enc_st AS (SELECT o_orderstatus AS v,
                  row_number() OVER (ORDER BY count(*) DESC, o_orderstatus ASC) AS code
           FROM j GROUP BY 1),
enc_pr AS (SELECT o_orderpriority AS v,
                  row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) AS code
           FROM j GROUP BY 1),
d AS (
  SELECT j.*, CAST(floor(extract(epoch FROM o_orderdate)) AS DOUBLE) AS od_epoch,
         count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS sl,
         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
  FROM j
),
stats AS (
  SELECT min(od_epoch) AS dmin, max(od_epoch) AS dmax,
         min(o_totalprice) AS pmin, max(o_totalprice) AS pmax FROM d
),
n AS (
  SELECT d.c_nationkey, d.c_mktsegment,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
         CAST(coalesce(est.code, 0) AS INT) AS st,
         CAST(coalesce(epr.code, 0) AS INT) AS pr,
         (d.o_totalprice - s.pmin) / (s.pmax - s.pmin) AS tp_n,
         (d.od_epoch - s.dmin) / (s.dmax - s.dmin) AS od_n,
         (CAST(floor(extract(epoch FROM (d.p::DATE - INTERVAL {hist} DAY))) AS DOUBLE) - s.dmin)
            / (s.dmax - s.dmin) AS sow_n
  FROM d LEFT JOIN enc_st est ON d.o_orderstatus = est.v
         LEFT JOIN enc_pr epr ON d.o_orderpriority = epr.v
         CROSS JOIN stats s
  WHERE d.rd <= {n}
)
SELECT c_nationkey, c_mktsegment,
  {st},
  {pr},
  {tp},
  {od}
FROM n GROUP BY c_nationkey, c_mktsegment
"""

PIPELINE_ORDERS_COMPOSITE_SQL = _orders_composite_sql()


def q_pipeline_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 profile-join pipeline in absolute-date mode with label columns."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    df = orders.join(customer, orders.o_custkey == customer.c_custkey).drop("c_custkey")
    pred = orders.agg(F.max("o_orderdate")).collect()[0][0]
    df = df.withColumn("prediction_date", F.lit(pred))
    roles = ColumnRoles(
        tgt_id=["o_custkey"], activity_date="o_orderdate",
        cat_cols=["o_orderstatus", "o_orderpriority", "c_mktsegment"],
        cont_cols=["o_totalprice", "c_acctbal"],
        seq_cols=["o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderdate"],
        non_seq_cols=["c_mktsegment", "c_acctbal"],
        date_cols=["o_orderdate"], output_cols=["c_nationkey"],
        order_tiebreak=["o_orderkey"])
    feat = SequenceFeaturizer(roles=roles, history_days=ORDERS_HIST,
                              seq_len=ORDERS_N, interval=False, scaling="min_max")
    wide, _ = feat.fit_transform(df)
    return wide.withColumn("c_nationkey", F.col("c_nationkey").cast("int"))


def _orders_pipeline_sql() -> str:
    n, hist = ORDERS_N, ORDERS_HIST
    st = _pivot_cases(n, "st", "o_orderstatus", "0")
    pr = _pivot_cases(n, "pr", "o_orderpriority", "0")
    tp = _pivot_cases(n, "tp_n", "o_totalprice", "0.0")
    od = _pivot_cases(n, "od_n", "o_orderdate", "max(sow_n)")
    return f"""
WITH pred AS (SELECT max(o_orderdate) AS p FROM orders),
j AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderpriority,
         o.o_totalprice, o.o_orderdate, c.c_mktsegment, c.c_acctbal,
         c.c_nationkey, pred.p
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey CROSS JOIN pred
  WHERE extract(epoch FROM o.o_orderdate) > floor(extract(epoch FROM pred.p)) - {hist}*86400
    AND o.o_orderdate < pred.p
),
enc_st AS (SELECT o_orderstatus AS v,
                  row_number() OVER (ORDER BY count(*) DESC, o_orderstatus ASC) AS code
           FROM j GROUP BY 1),
enc_pr AS (SELECT o_orderpriority AS v,
                  row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) AS code
           FROM j GROUP BY 1),
enc_mk AS (SELECT c_mktsegment AS v,
                  row_number() OVER (ORDER BY count(*) DESC, c_mktsegment ASC) AS code
           FROM j GROUP BY 1),
d AS (
  SELECT j.*, CAST(floor(extract(epoch FROM o_orderdate)) AS DOUBLE) AS od_epoch,
         count(*) OVER (PARTITION BY o_custkey) AS sl,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
  FROM j
),
stats AS (
  SELECT min(od_epoch) AS dmin, max(od_epoch) AS dmax,
         min(o_totalprice) AS pmin, max(o_totalprice) AS pmax,
         min(c_acctbal) AS amin, max(c_acctbal) AS amax FROM d
),
n AS (
  SELECT d.o_custkey,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
         CAST(coalesce(est.code, 0) AS INT) AS st,
         CAST(coalesce(epr.code, 0) AS INT) AS pr,
         (d.o_totalprice - s.pmin) / (s.pmax - s.pmin) AS tp_n,
         (d.od_epoch - s.dmin) / (s.dmax - s.dmin) AS od_n,
         (CAST(floor(extract(epoch FROM (d.p::DATE - INTERVAL {hist} DAY))) AS DOUBLE) - s.dmin)
            / (s.dmax - s.dmin) AS sow_n
  FROM d LEFT JOIN enc_st est ON d.o_orderstatus = est.v
         LEFT JOIN enc_pr epr ON d.o_orderpriority = epr.v
         CROSS JOIN stats s
  WHERE d.rd <= {n}
),
prof AS (
  SELECT DISTINCT d.o_custkey, CAST(coalesce(emk.code, 0) AS INT) AS c_mktsegment,
         (d.c_acctbal - s.amin) / (s.amax - s.amin) AS c_acctbal,
         CAST(d.c_nationkey AS INT) AS c_nationkey
  FROM d LEFT JOIN enc_mk emk ON d.c_mktsegment = emk.v CROSS JOIN stats s
),
wide AS (
  SELECT o_custkey,
    {st},
    {pr},
    {tp},
    {od}
  FROM n GROUP BY o_custkey
)
SELECT w.*, p.c_mktsegment, p.c_acctbal, p.c_nationkey
FROM wide w JOIN prof p USING (o_custkey)
"""

PIPELINE_ORDERS_PROFILE_SQL = _orders_pipeline_sql()


def q_w1_rank(spark, sf_dir):
    ev = _events(spark, sf_dir)
    df = get_rank(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return df.select("event_id", "user_id",
                     F.col("seq_len").cast("long").alias("seq_len"),
                     F.col("rank_desc").cast("long").alias("rank_desc"),
                     F.col("rank_asc").cast("long").alias("rank_asc"))

W1_RANK_SQL = """
SELECT event_id, user_id,
  count(*) OVER (PARTITION BY user_id) AS seq_len,
  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rank_desc,
  count(*) OVER (PARTITION BY user_id)
    - row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) + 1 AS rank_asc
FROM events"""


def q_w2_intervals(spark, sf_dir):
    ev = _events(spark, sf_dir)
    df = timestamps_to_intervals(ev, "user_id", "ts", tiebreak=["event_id"])
    return df.select("event_id", F.col("interval").cast("int").alias("interval_days"))

W2_INTERVALS_SQL = """
SELECT event_id,
  CAST(ts::DATE - lag(ts::DATE) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS INT)
    AS interval_days
FROM events"""


def q_f1_history_window(spark, sf_dir):
    ev = _with_prediction_date(_events(spark, sf_dir))
    return filter_history_window(ev, "ts", "prediction_date", HIST_DAYS) \
        .select("event_id")

F1_HISTORY_WINDOW_SQL = f"""
SELECT event_id FROM events e CROSS JOIN (SELECT max(ts) AS p FROM events) pred
WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - {HIST_DAYS}*86400
  AND e.ts < pred.p"""


def q_f2_last_n(spark, sf_dir):
    ev = get_rank(_events(spark, sf_dir), ["user_id"], "ts", tiebreak=["event_id"])
    return filter_last_n(ev, 10).select("event_id")

F2_LAST_N_SQL = """
SELECT event_id FROM (
  SELECT event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM events) WHERE rd <= 10"""


def q_f4_profile_dedup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.select("c_nationkey", "c_mktsegment").dropDuplicates() \
        .select(F.col("c_nationkey").cast("int").alias("c_nationkey"), "c_mktsegment")

F4_PROFILE_DEDUP_SQL = """
SELECT DISTINCT CAST(c_nationkey AS INT) AS c_nationkey, c_mktsegment FROM customer"""


def q_a1_cardinality(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.agg(F.countDistinct("event_type").cast("long").alias("n_event_types"),
                  F.countDistinct("user_id").cast("long").alias("n_users"))

A1_CARDINALITY_SQL = """
SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events"""


def q_a2_topk_cat_freq(spark, sf_dir):
    from caspr_spark.operators.encode import top_k_by_frequency
    ev = _events(spark, sf_dir)
    top = top_k_by_frequency(ev, "event_type", 3)
    w = Window.orderBy(F.col("count").desc(), F.col("event_type").asc())
    return top.withColumn("rk", F.row_number().over(w).cast("long")) \
              .select("event_type", F.col("count").cast("long").alias("cnt"), "rk")

A2_TOPK_CAT_FREQ_SQL = """
SELECT event_type, cnt, rk FROM (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
  FROM events GROUP BY event_type) WHERE rk <= 3"""


def q_a5_events_per_entity(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_events"))

A5_EVENTS_PER_ENTITY_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY user_id"""


def q_a6_seq_len_percentile(spark, sf_dir):
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    return counts.agg(F.round(F.percentile(F.col("c"), F.lit(0.9)), 6)
                      .alias("p90_seq_len"))

A6_SEQ_LEN_PERCENTILE_SQL = """
SELECT round(quantile_cont(c, 0.9), 6) AS p90_seq_len FROM (
  SELECT count(*)::DOUBLE AS c FROM events GROUP BY user_id)"""


def q_a7_lookback_period(spark, sf_dir):
    from caspr_spark.operators.probes import get_lookback_period
    ev = _events(spark, sf_dir)
    days = get_lookback_period(ev, "user_id", "ts", max_avg_sequence_length=50)
    return spark.createDataFrame([(days,)], "lookback_days bigint")

A7_LOOKBACK_PERIOD_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
b AS (
  SELECT CASE
    WHEN ts <= m AND ts > m - INTERVAL 30 DAY THEN 0
    WHEN ts <= m - INTERVAL 30 DAY AND ts > m - INTERVAL 60 DAY THEN 1
    WHEN ts <= m - INTERVAL 60 DAY AND ts > m - INTERVAL 90 DAY THEN 2
    WHEN ts <= m - INTERVAL 90 DAY AND ts > m - INTERVAL 120 DAY THEN 3
    ELSE -1 END AS date_bracket, user_id
  FROM events CROSS JOIN mx),
c AS (SELECT date_bracket, count(DISTINCT user_id) AS uc, count(user_id) AS tc
      FROM b GROUP BY 1),
a AS (SELECT CASE WHEN uc != 0 THEN tc::DOUBLE / uc ELSE 0.0 END AS ac FROM c)
SELECT CAST(trunc(50.0 * 30 / avg(ac)) AS BIGINT) AS lookback_days FROM a"""


def q_e1_encode_capped(spark, sf_dir):
    ev = _events(spark, sf_dir)
    enc = fit_encoding(ev, ["event_type"], max_cardinality=3)
    return enc.apply(ev).select(
        "event_id", F.col("event_type").cast("int").alias("event_type_code"))

E1_ENCODE_CAPPED_SQL = """
WITH counts AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
topk AS (SELECT event_type, code FROM (
  SELECT event_type, row_number() OVER (ORDER BY c DESC, event_type ASC) AS code
  FROM counts) WHERE code <= 3)
SELECT e.event_id, CAST(coalesce(t.code, 0) AS INT) AS event_type_code
FROM events e LEFT JOIN topk t USING (event_type)"""


def q_e5_normalize_minmax(spark, sf_dir):
    from caspr_spark.operators.scale import normalize_columns
    ev = _events(spark, sf_dir)
    df, _ = normalize_columns(ev, ["value"], scaling="min_max")
    return df.select("event_id", F.col("value").alias("value_norm"))

E5_NORMALIZE_MINMAX_SQL = """
SELECT event_id, (value - s.mn) / (s.mx - s.mn) AS value_norm
FROM events CROSS JOIN (SELECT min(value) AS mn, max(value) AS mx FROM events) s"""


def q_e5_normalize_standard(spark, sf_dir):
    from caspr_spark.operators.scale import normalize_columns
    ev = _events(spark, sf_dir)
    df, _ = normalize_columns(ev, ["value"], scaling="standard")
    return df.select("event_id", F.round(F.col("value"), 6).alias("value_z"))

E5_NORMALIZE_STANDARD_SQL = """
SELECT event_id, round((value - s.mu) / s.sd, 6) AS value_z
FROM events CROSS JOIN (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM events) s"""


def q_e6_denormalize_roundtrip(spark, sf_dir):
    from caspr_spark.operators.scale import normalize_columns, denormalize_columns
    ev = _events(spark, sf_dir)
    df, summary = normalize_columns(ev, ["value"], scaling="min_max")
    df = denormalize_columns(df, ["value"], summary, scaling="min_max")
    return df.select("event_id", F.round(F.col("value"), 9).alias("value_rt"))

E6_DENORMALIZE_ROUNDTRIP_SQL = """
SELECT event_id,
  round(((value - s.mn) / (s.mx - s.mn)) * (s.mx - s.mn) + s.mn, 9) AS value_rt
FROM events CROSS JOIN (SELECT min(value) AS mn, max(value) AS mx FROM events) s"""


def q_e7_date_interval(spark, sf_dir):
    ev = _with_prediction_date(_events(spark, sf_dir))
    return ev.select(
        "event_id",
        F.datediff(F.col("prediction_date"), F.col("ts")).cast("int").alias("days_before_pred"))

E7_DATE_INTERVAL_SQL = """
SELECT event_id, CAST(p::DATE - ts::DATE AS INT) AS days_before_pred
FROM events CROSS JOIN (SELECT max(ts) AS p FROM events) pred"""


def q_e10_quantile_bucket(spark, sf_dir):
    """Exact decile bucketing via the distributed-prefix-scan ntile
    (round 9: was a raw ``ntile().over(Window.orderBy(...))`` — a
    single-task global sort of the whole customer table; same values,
    now range-partitioned at any cardinality)."""
    from caspr_spark.segment import quantile_scores
    cust = _t(spark, sf_dir, "customer")
    scored = quantile_scores(cust.select("c_custkey", "c_acctbal"),
                             ["c_acctbal"], q=10, tiebreak=["c_custkey"])
    return scored.select(
        "c_custkey", F.col("c_acctbal_score").alias("acctbal_decile"))

E10_QUANTILE_BUCKET_SQL = """
SELECT c_custkey,
  CAST(ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INT) AS acctbal_decile
FROM customer"""


def q_p3_pivot_last5(spark, sf_dir):
    ev = get_rank(_events(spark, sf_dir), ["user_id"], "ts", tiebreak=["event_id"])
    return featurize_sequential(ev, ["user_id"], SEQ_N, ["value"])


def _pivot_last5_sql(rename: bool = False) -> str:
    n = SEQ_N
    name = (lambda s: f"value{s}") if rename else (lambda s: f"{s}_value")
    cases = ",\n  ".join(
        f'max(CASE WHEN slot={s} THEN value END) AS "{name(s)}"'
        for s in range(1, n + 1))
    return f"""
WITH r AS (
  SELECT user_id, value,
         count(*) OVER (PARTITION BY user_id) AS sl,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
),
k AS (
  SELECT user_id, value,
         (sl - rd + 1) + CASE WHEN sl >= {n} THEN {n} - sl ELSE 0 END AS slot
  FROM r WHERE rd <= {n}
)
SELECT user_id, {cases} FROM k GROUP BY user_id
"""

P3_PIVOT_LAST5_SQL = _pivot_last5_sql(rename=False)


def q_p3_pivot_lineitem(spark, sf_dir):
    """Same pivot operator on the biggest table (lineitem; order = entity),
    ordered by ship date with line number as tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    # the tiebreak chain extends through price and partkey
    ranked = get_rank(li, ["l_orderkey"], "l_shipdate",
                      tiebreak=["l_linenumber", "l_extendedprice", "l_partkey"])
    return featurize_sequential(ranked, ["l_orderkey"], 4, ["l_extendedprice"])

P3_PIVOT_LINEITEM_SQL = """
WITH r AS (
  SELECT l_orderkey, l_extendedprice,
         count(*) OVER (PARTITION BY l_orderkey) AS sl,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_shipdate DESC, l_linenumber DESC,
                                     l_extendedprice DESC, l_partkey DESC) AS rd
  FROM lineitem
),
k AS (
  SELECT l_orderkey, l_extendedprice,
         (sl - rd + 1) + CASE WHEN sl >= 4 THEN 4 - sl ELSE 0 END AS slot
  FROM r WHERE rd <= 4
)
SELECT l_orderkey,
  max(CASE WHEN slot=1 THEN l_extendedprice END) AS "1_l_extendedprice",
  max(CASE WHEN slot=2 THEN l_extendedprice END) AS "2_l_extendedprice",
  max(CASE WHEN slot=3 THEN l_extendedprice END) AS "3_l_extendedprice",
  max(CASE WHEN slot=4 THEN l_extendedprice END) AS "4_l_extendedprice"
FROM k GROUP BY l_orderkey"""


def q_p1_left_pad(spark, sf_dir):
    """Left-padded pivot: histories shift right so slot n is always the
    most recent event (slot = n - rank_desc + 1); NULL head for short
    users (3-day window keeps users short)."""
    ev = _with_prediction_date(_events(spark, sf_dir))
    ev = filter_history_window(ev, "ts", "prediction_date", 3)
    ranked = get_rank(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return featurize_sequential(ranked, ["user_id"], SEQ_N, ["value"],
                                left_pad=True)

P1_LEFT_PAD_SQL = f"""
WITH pred AS (SELECT max(ts) AS p FROM events),
f AS (SELECT e.user_id, e.value, e.ts, e.event_id
      FROM events e CROSS JOIN pred
      WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - 3*86400
        AND e.ts < pred.p),
r AS (SELECT user_id, value,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
      FROM f),
k AS (SELECT user_id, value, {SEQ_N} - rd + 1 AS slot FROM r WHERE rd <= {SEQ_N})
SELECT user_id,
  {", ".join(f'max(CASE WHEN slot={s} THEN value END) AS "{s}_value"'
             for s in range(1, SEQ_N + 1))}
FROM k GROUP BY user_id"""


def q_e1_fit_apply_split(spark, sf_dir):
    """Leakage discipline: dictionary fitted on the first half of time,
    reapplied to everything — values unseen in the fit window encode 0."""
    ev = _events(spark, sf_dir)
    mid = ev.agg(F.percentile(F.unix_timestamp("ts"), F.lit(0.5))) \
        .collect()[0][0]
    train = ev.filter(F.unix_timestamp("ts") <= mid)
    enc = fit_encoding(train, ["event_type"], max_cardinality=2)
    return enc.apply(ev).select(
        "event_id", F.col("event_type").cast("int").alias("event_type_code"))

E1_FIT_APPLY_SPLIT_SQL = """
WITH mid AS (SELECT quantile_cont(floor(epoch(ts)), 0.5) AS m FROM events),
train AS (SELECT * FROM events CROSS JOIN mid WHERE floor(epoch(ts)) <= m),
topk AS (SELECT event_type, code FROM (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS code
  FROM train GROUP BY event_type) WHERE code <= 2)
SELECT e.event_id, CAST(coalesce(t.code, 0) AS INT) AS event_type_code
FROM events e LEFT JOIN topk t USING (event_type)"""


def q_e5_fit_apply_split(spark, sf_dir):
    """Scaling summary fitted on the first half of time, reapplied to the
    full table (values outside the fit range land outside [0,1])."""
    from caspr_spark.operators.scale import normalize_columns, fit_summary
    ev = _events(spark, sf_dir)
    mid = ev.agg(F.percentile(F.unix_timestamp("ts"), F.lit(0.5))) \
        .collect()[0][0]
    train = ev.filter(F.unix_timestamp("ts") <= mid)
    summary = fit_summary(train, ["value"])
    out, _ = normalize_columns(ev, ["value"], summary, "min_max")
    return out.select("event_id", F.round("value", 9).alias("value_norm"))

E5_FIT_APPLY_SPLIT_SQL = """
WITH mid AS (SELECT quantile_cont(floor(epoch(ts)), 0.5) AS m FROM events),
s AS (SELECT min(value) AS mn, max(value) AS mx
      FROM events CROSS JOIN mid WHERE floor(epoch(ts)) <= m)
SELECT event_id, round((value - s.mn) / (s.mx - s.mn), 9) AS value_norm
FROM events CROSS JOIN s"""


def q_p6_petastorm_rename(spark, sf_dir):
    return petastorm_rename(q_p3_pivot_last5(spark, sf_dir))

P6_PETASTORM_RENAME_SQL = _pivot_last5_sql(rename=True)


def q_x3_sliding_union(spark, sf_dir):
    """Two-cutoff sliding-window trainset: 7-day windows ending at max(ts)
    and max(ts)-7d, last-3 value pivot each, unioned with a window id."""
    ev = _events(spark, sf_dir)
    pred0 = ev.agg(F.max("ts")).collect()[0][0]
    out = None
    for i in range(2):
        cut = F.lit(pred0) - F.expr(f"INTERVAL {7 * i} DAYS")
        part = ev.withColumn("prediction_date", cut)
        part = filter_history_window(part, "ts", "prediction_date", 7)
        part = get_rank(part, ["user_id"], "ts", tiebreak=["event_id"])
        wide = featurize_sequential(part, ["user_id"], 3, ["value"]) \
            .withColumn("window_id", F.lit(i))
        out = wide if out is None else out.unionByName(wide)
    return out


def _sliding_union_sql() -> str:
    parts = []
    for i in range(2):
        parts.append(f"""
SELECT user_id,
  max(CASE WHEN slot=1 THEN value END) AS "1_value",
  max(CASE WHEN slot=2 THEN value END) AS "2_value",
  max(CASE WHEN slot=3 THEN value END) AS "3_value",
  {i} AS window_id
FROM (
  SELECT user_id, value,
         (sl - rd + 1) + CASE WHEN sl >= 3 THEN 3 - sl ELSE 0 END AS slot, rd
  FROM (
    SELECT e.user_id, e.value, e.ts, e.event_id,
           count(*) OVER (PARTITION BY e.user_id) AS sl,
           row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS rd
    FROM events e CROSS JOIN (SELECT max(ts) - INTERVAL {7 * i} DAY AS p FROM events) pred
    WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - 7*86400
      AND e.ts < pred.p
  )
) WHERE rd <= 3
GROUP BY user_id""")
    return " UNION ALL ".join(parts)

X3_SLIDING_UNION_SQL = _sliding_union_sql()


def q_w6_rolling_window(spark, sf_dir):
    """Trailing-7-day per-user aggregates via a RANGE frame."""
    from caspr_spark.operators.rank import rolling_aggregate
    ev = _events(spark, sf_dir)
    # sum in integer cents: float accumulation order differs between
    # engines and the 2-decimal data lands averages exactly on rounding
    # boundaries — exact integer frames sidestep both
    ev = ev.withColumn("value_c",
                       F.round(F.col("value") * 100).cast("long"))
    out = rolling_aggregate(ev, "user_id", "ts", "value_c", days=7)
    return out.select(
        "event_id",
        (F.col("r7d_sum") / 100.0).alias("r7d_sum"),
        F.round(F.col("r7d_sum") / 100.0 / F.col("r7d_count"), 6).alias("r7d_avg"),
        "r7d_count")

W6_ROLLING_WINDOW_SQL = """
SELECT event_id,
  sum(value_c) OVER w / 100.0 AS r7d_sum,
  round(sum(value_c) OVER w / 100.0 / count(value_c) OVER w, 6) AS r7d_avg,
  CAST(count(value_c) OVER w AS BIGINT) AS r7d_count
FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS value_c FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY floor(extract(epoch FROM ts))
             RANGE BETWEEN 7*86400 PRECEDING AND CURRENT ROW)"""


def q_x6_set_ops(spark, sf_dir):
    """Set operations (intersect/except — extension; 'not present' in the
    reference, SURVEY §2.8): users active in BOTH halves of the window
    minus users who errored in the final two days."""
    ev = _events(spark, sf_dir)
    mid = ev.agg(F.percentile(F.unix_timestamp("ts"), F.lit(0.5))) \
        .collect()[0][0]
    pred = ev.agg(F.max("ts")).collect()[0][0]
    early = ev.filter(F.unix_timestamp("ts") <= mid).select("user_id")
    late = ev.filter(F.unix_timestamp("ts") > mid).select("user_id")
    err = ev.filter((F.col("event_type") == "error") &
                    (F.col("ts") > F.lit(pred) - F.expr("INTERVAL 2 DAYS"))) \
        .select("user_id")
    return early.intersect(late).exceptAll(err.distinct())

X6_SET_OPS_SQL = """
WITH mid AS (SELECT quantile_cont(floor(epoch(ts)), 0.5) AS m FROM events),
mx AS (SELECT max(ts) AS p FROM events),
early AS (SELECT user_id FROM events CROSS JOIN mid WHERE floor(epoch(ts)) <= m),
late AS (SELECT user_id FROM events CROSS JOIN mid WHERE floor(epoch(ts)) > m),
err AS (SELECT DISTINCT user_id FROM events CROSS JOIN mx
        WHERE event_type = 'error' AND ts > p - INTERVAL 2 DAY)
SELECT user_id FROM (SELECT user_id FROM early INTERSECT SELECT user_id FROM late)
EXCEPT ALL SELECT user_id FROM err"""


def q_w7_lead_dense_rank(spark, sf_dir):
    """Remaining analytic forms (extension; 'not present' in reference,
    SURVEY §2.5): lead to the next event's value, dense_rank over
    per-user daily activity."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    wd = Window.partitionBy("user_id").orderBy(F.date_trunc("day", "ts"))
    return ev.select(
        "event_id",
        F.lead("value", 1).over(w).alias("next_value"),
        F.dense_rank().over(wd).cast("int").alias("day_rank"))

W7_LEAD_DENSE_RANK_SQL = """
SELECT event_id,
  lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    AS next_value,
  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts))
       AS INT) AS day_rank
FROM events"""


def q_a13_cube(spark, sf_dir):
    """CUBE grouping sets over orders (extension)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").cast("long").alias("n")))

A13_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""


def q_a12_rollup(spark, sf_dir):
    """Grouping-set subtotals (rollup) over orders — extension; the
    reference has no cube/rollup (SURVEY §2.4)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("o_totalprice"), 4).alias("total"))
            )

A12_ROLLUP_SQL = """
SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 4) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"""


def q_json_extract(spark, sf_dir):
    """Typed JSON extraction from the event props column — declared
    schema via from_json so Catalyst prunes and codegens (extension;
    the reference has no JSON functions, SURVEY §2.9)."""
    ev = _events(spark, sf_dir)
    parsed = ev.withColumn("__p", F.from_json("props", "k INT"))
    return parsed.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        F.col("__p.k").alias("k_schema"))

JSON_EXTRACT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_path,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_schema
FROM events"""


def q_w5_sessionize(spark, sf_dir):
    """Sessionization: new session when the gap to the previous event
    exceeds 6 hours (lag + running sum over one entity window)."""
    from caspr_spark.operators.rank import sessionize
    ev = _events(spark, sf_dir)
    out = sessionize(ev, "user_id", "ts", gap_minutes=360,
                     tiebreak=["event_id"])
    return out.select("event_id", "session_id")

W5_SESSIONIZE_SQL = """
SELECT event_id,
  CAST(sum(CASE WHEN gap IS NULL OR gap > 360*60 THEN 1 ELSE 0 END)
       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
FROM (
  SELECT event_id, user_id, ts,
         floor(extract(epoch FROM ts))
           - floor(extract(epoch FROM lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC))) AS gap
  FROM events)"""


def q_f5_outlier_removal(spark, sf_dir):
    # k=1.0 (not the reference's 3.0) so the synthetic uniform-ish value
    # column actually loses rows and the oracle check discriminates
    ev = _events(spark, sf_dir)
    return remove_outliers(ev, ["value"], k=1.0).select("event_id")

F5_OUTLIER_REMOVAL_SQL = """
SELECT event_id FROM events
CROSS JOIN (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM events) s
WHERE abs(value - s.mu) <= 1.0 * s.sd"""


def q_f6_null_drop(spark, sf_dir):
    """F6: dropna — nulls synthesized (value of 'error' events) then dropped."""
    ev = _events(spark, sf_dir)
    ev = ev.withColumn("value", F.when(F.col("event_type") == "error", F.lit(None))
                                 .otherwise(F.col("value")))
    return ev.na.drop(subset=["value"]).select("event_id")

F6_NULL_DROP_SQL = """
SELECT event_id FROM events WHERE event_type != 'error'"""


def q_a3_summary_stats(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.agg(F.round(F.min("value"), 6).alias("v_min"),
                  F.round(F.max("value"), 6).alias("v_max"),
                  F.round(F.avg("value"), 6).alias("v_mean"),
                  F.round(F.stddev_samp("value"), 6).alias("v_std"),
                  F.count("value").cast("long").alias("v_count"))

A3_SUMMARY_STATS_SQL = """
SELECT round(min(value), 6) AS v_min, round(max(value), 6) AS v_max,
       round(avg(value), 6) AS v_mean, round(stddev_samp(value), 6) AS v_std,
       CAST(count(value) AS BIGINT) AS v_count
FROM events"""


def q_a8_collect_distinct(spark, sf_dir):
    ev = _events(spark, sf_dir)
    df = distinct_values_sorted(ev, "event_type")
    return df.select(F.col("pos").cast("int").alias("pos"), "event_type")

A8_COLLECT_DISTINCT_SQL = """
SELECT CAST(row_number() OVER (ORDER BY event_type ASC) - 1 AS INT) AS pos,
       event_type
FROM (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL)"""


def q_a9_label_multihot(spark, sf_dir):
    from datetime import timedelta
    ev = _events(spark, sf_dir)
    pred = ev.agg(F.max("ts")).collect()[0][0]
    return build_multi_hot_labels(ev, ["user_id"], "event_type", "ts",
                                  label_start=pred - timedelta(days=7),
                                  label_end=pred)

A9_LABEL_MULTIHOT_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
f AS (SELECT user_id, event_type FROM events CROSS JOIN mx
      WHERE ts > m - INTERVAL 7 DAY AND ts <= m)
SELECT user_id,
  CAST(least(count(*) FILTER (event_type = 'click'), 1) AS INT) AS label_click,
  CAST(least(count(*) FILTER (event_type = 'error'), 1) AS INT) AS label_error,
  CAST(least(count(*) FILTER (event_type = 'purchase'), 1) AS INT) AS label_purchase,
  CAST(least(count(*) FILTER (event_type = 'signup'), 1) AS INT) AS label_signup,
  CAST(least(count(*) FILTER (event_type = 'view'), 1) AS INT) AS label_view
FROM f GROUP BY user_id"""


def q_a10_segment_profile(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return (cust.groupBy("c_mktsegment")
                .agg(F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
                     F.count("*").cast("long").alias("n_customers")))

A10_SEGMENT_PROFILE_SQL = """
SELECT c_mktsegment, round(avg(c_acctbal), 6) AS avg_acctbal,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer GROUP BY c_mktsegment"""


def q_a11_nunique_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cards = column_cardinalities(
        li, ["l_returnflag", "l_linestatus", "l_partkey", "l_suppkey"])
    return spark.createDataFrame(
        [tuple(cards[c] for c in sorted(cards))],
        schema=", ".join(f"`{c}` bigint" for c in sorted(cards)))

A11_NUNIQUE_LINEITEM_SQL = """
SELECT CAST(count(DISTINCT l_linestatus) AS BIGINT) AS l_linestatus,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS l_partkey,
       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS l_returnflag,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS l_suppkey
FROM lineitem"""


def q_e3_decode_roundtrip(spark, sf_dir):
    ev = _events(spark, sf_dir)
    enc = fit_encoding(ev, ["event_type"], max_cardinality=3)
    coded = enc.apply(ev)
    return enc.decode(coded).select("event_id",
                                    F.col("event_type").alias("event_type_dec"))

E3_DECODE_ROUNDTRIP_SQL = """
WITH topk AS (SELECT event_type FROM (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
  FROM events GROUP BY event_type) WHERE rk <= 3)
SELECT e.event_id,
       CASE WHEN t.event_type IS NULL THEN 'UNK' ELSE e.event_type END AS event_type_dec
FROM events e LEFT JOIN topk t USING (event_type)"""


def q_e8_date_fill_pivoted(spark, sf_dir):
    """E8: interval-mode date-NaN fill on the pivoted {slot}_{col} layout.

    A 3-day history window leaves most users with < SEQ_N events, so the
    pivot genuinely produces NULL slots for the fill to hit."""
    ev = _with_prediction_date(_events(spark, sf_dir))
    ev = filter_history_window(ev, "ts", "prediction_date", 3)
    ev = ev.withColumn("ti", F.datediff(F.col("prediction_date"), F.col("ts")))
    ranked = get_rank(ev, ["user_id"], "ts", tiebreak=["event_id"])
    wide = featurize_sequential(ranked, ["user_id"], SEQ_N, ["ti"])
    date_cols = [f"{s}_ti" for s in range(1, SEQ_N + 1)]
    return fill_date_nans(wide, date_cols, history_days=HIST_DAYS, interval=True)

E8_DATE_FILL_PIVOTED_SQL = f"""
WITH pred AS (SELECT max(ts) AS p FROM events),
f AS (SELECT e.user_id, e.ts, e.event_id, (pred.p::DATE - e.ts::DATE) AS ti
      FROM events e CROSS JOIN pred
      WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - 3*86400
        AND e.ts < pred.p),
r AS (SELECT user_id, ti,
        count(*) OVER (PARTITION BY user_id) AS sl,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
      FROM f),
k AS (SELECT user_id, ti,
        (sl - rd + 1) + CASE WHEN sl >= {SEQ_N} THEN {SEQ_N} - sl ELSE 0 END AS slot
      FROM r WHERE rd <= {SEQ_N})
SELECT user_id,
  {", ".join(f'coalesce(max(CASE WHEN slot={s} THEN ti END), {HIST_DAYS}) AS "{s}_ti"'
             for s in range(1, SEQ_N + 1))}
FROM k GROUP BY user_id"""


def q_e9_fill_nans_pivoted(spark, sf_dir):
    ev = _with_prediction_date(_events(spark, sf_dir))
    ev = filter_history_window(ev, "ts", "prediction_date", 3)
    ranked = get_rank(ev, ["user_id"], "ts", tiebreak=["event_id"])
    wide = featurize_sequential(ranked, ["user_id"], SEQ_N, ["value"])
    return wide.fillna(0.0, subset=[f"{s}_value" for s in range(1, SEQ_N + 1)])

E9_FILL_NANS_PIVOTED_SQL = f"""
WITH pred AS (SELECT max(ts) AS p FROM events),
f AS (SELECT e.user_id, e.ts, e.event_id, e.value
      FROM events e CROSS JOIN pred
      WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM pred.p)) - 3*86400
        AND e.ts < pred.p),
r AS (SELECT user_id, value,
        count(*) OVER (PARTITION BY user_id) AS sl,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
      FROM f),
k AS (SELECT user_id, value,
        (sl - rd + 1) + CASE WHEN sl >= {SEQ_N} THEN {SEQ_N} - sl ELSE 0 END AS slot
      FROM r WHERE rd <= {SEQ_N})
SELECT user_id,
  {", ".join(f'coalesce(max(CASE WHEN slot={s} THEN value END), 0.0) AS "{s}_value"'
             for s in range(1, SEQ_N + 1))}
FROM k GROUP BY user_id"""


def q_asof_join(spark, sf_dir):
    """Backward as-of join (union+window, one shuffle): each event gets
    the user's most recent purchase value at-or-before it."""
    from caspr_spark.operators import asof_join
    ev = _events(spark, sf_dir)
    purch = (ev.filter(F.col("event_type") == "purchase")
               .groupBy("user_id", "ts").agg(F.max("value").alias("pval")))
    out = asof_join(ev, purch, on=["user_id"], value_cols=["pval"])
    return out.select("event_id", F.round("pval_asof", 6).alias("pval_asof"))

ASOF_JOIN_SQL = """
WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events
           WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT e.event_id, round(p.pval, 6) AS pval_asof
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND p.ts <= e.ts"""


def q_e2_encode_collect(spark, sf_dir):
    """E2: collect-strategy (sorted-distinct) dictionary encode."""
    from caspr_spark.operators.encode import fit_encoding_collect
    ev = _events(spark, sf_dir)
    enc = fit_encoding_collect(ev, ["event_type"])
    return enc.apply(ev).select(
        "event_id", F.col("event_type").cast("int").alias("event_type_code"))

E2_ENCODE_COLLECT_SQL = """
WITH d AS (SELECT event_type,
                  row_number() OVER (ORDER BY event_type ASC) AS code
           FROM (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL))
SELECT e.event_id, CAST(coalesce(d.code, 0) AS INT) AS event_type_code
FROM events e LEFT JOIN d USING (event_type)"""


def q_a4_max_date(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.agg(F.max("ts").alias("max_ts"),
                  F.min("ts").alias("min_ts"),
                  F.max("value").alias("max_value"))

A4_MAX_DATE_SQL = """
SELECT max(ts) AS max_ts, min(ts) AS min_ts, max(value) AS max_value FROM events"""


def q_x5_sample(spark, sf_dir):
    """X5: seeded fraction sample (engine-specific hashing — rows-only)."""
    ev = _events(spark, sf_dir)
    n = ev.sample(fraction=0.1, seed=1).count()
    return spark.createDataFrame([(n,)], "n_sampled long")


def q_j2_semi_prune(spark, sf_dir):
    from caspr_spark.operators.encode import top_k_by_frequency
    ev = _events(spark, sf_dir)
    top = top_k_by_frequency(ev, "event_type", 3).select("event_type")
    return (ev.join(F.broadcast(top), on="event_type", how="left_semi")
              .select("event_id"))

J2_SEMI_PRUNE_SQL = """
SELECT event_id FROM events WHERE event_type IN (
  SELECT event_type FROM (
    SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
    FROM events GROUP BY event_type) WHERE rk <= 3)"""


def q_p7_array_pack(spark, sf_dir):
    ev = _events(spark, sf_dir)
    packed = pack_feature_arrays(
        ev.withColumn("ts_epoch",
                      F.unix_timestamp("ts").cast("double")),
        cont_cols=["value", "ts_epoch"])
    return packed.select("event_id", F.posexplode("cont_features")
                         .alias("pos", "feat")) \
                 .select("event_id", F.col("pos").cast("int").alias("pos"), "feat")

P7_ARRAY_PACK_SQL = """
SELECT event_id, 0 AS pos, value AS feat FROM events
UNION ALL
SELECT event_id, 1 AS pos,
       CAST(floor(extract(epoch FROM ts)) AS DOUBLE) AS feat FROM events"""


def q_s1_parquet_roundtrip(spark, sf_dir):
    """S1: repartition+write parquet handover, read back — values must survive."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    path = os.path.join(_TMP, "handover_events")
    write_parquet_handover(ev, path, partitions=8)
    return spark.read.parquet(path)

S1_PARQUET_ROUNDTRIP_SQL = """
SELECT event_id, user_id, event_type, value FROM events"""


def q_x1_three_way_split(spark, sf_dir):
    """X1: seeded fractional 3-way split (no SQL oracle — Spark's sample
    hashing is engine-specific; driver records the rows-only check)."""
    ev = _events(spark, sf_dir)
    splits = ev.randomSplit([0.7, 0.15, 0.15], seed=42)
    rows = [(i, s.count()) for i, s in enumerate(splits)]
    return spark.createDataFrame(rows, "split_id int, n_rows long")


def q_e10_quantile_approx(spark, sf_dir):
    """E10 scale path: Greenwald-Khanna cutpoints + map-side bucket
    assignment — now with a BOUNDED ORACLE (r6 verdict item 6). The
    cutpoint VALUES are sketch-specific, so the row set is the GK
    rank-error CERTIFICATE instead: for every interior quantile i/q the
    exact rank interval of the returned cutpoint (count <, count <=,
    one aggregation) must intersect [i·n/q ± ε·n] — the published GK
    guarantee — checked in pure integer arithmetic (scaled by q), plus
    an honest scores-in-range check of the bucket assignment itself.
    The oracle recomputes n and the targets and pins the booleans TRUE:
    a sketch violating its own bound hash-mismatches."""
    import math

    from caspr_spark.segment import quantile_scores_approx
    cust = _t(spark, sf_dir, "customer")
    q, eps = 10, 0.0001
    probs = [i / q for i in range(1, q)]
    cuts = cust.stat.approxQuantile("c_acctbal", probs, eps)
    col = F.col("c_acctbal").cast("double")
    scored = quantile_scores_approx(cust, ["c_acctbal"], q=q,
                                    relative_error=eps)
    sc = F.col("c_acctbal_score")
    aggs = [F.count(F.lit(1)).alias("n"),
            F.min(sc).alias("s_min"), F.max(sc).alias("s_max")]
    for i, cut in enumerate(cuts, start=1):
        aggs.append(F.sum((col < F.lit(float(cut))).cast("long"))
                    .alias(f"lo{i}"))
        aggs.append(F.sum((col <= F.lit(float(cut))).cast("long"))
                    .alias(f"hi{i}"))
    row = scored.agg(*aggs).first()
    n = int(row["n"])
    scores_ok = bool(1 <= int(row["s_min"]) and int(row["s_max"]) <= q)
    slack = math.ceil(eps * n) + 1        # GK eps*n, +1 for tie convention
    out = []
    for i in range(1, q):
        lo, hi = int(row[f"lo{i}"]), int(row[f"hi{i}"])
        ok = (hi * q >= i * n - slack * q) and (lo * q <= i * n + slack * q)
        out.append((i, n, i * n, bool(ok), scores_ok))
    return spark.createDataFrame(
        out, "q_idx int, n_rows long, target_rank_x_q long, "
             "within_bound boolean, scores_in_range boolean")

# bounded oracle: the GK cutpoint VALUES are sketch-specific, so
# the certified surface is the rank-error certificate — n, the
# scaled rank targets, and the Spark-side bound booleans the
# oracle pins TRUE (an estimate violating the published GK
# guarantee hash-mismatches instead of hiding behind rows-only)
E10_QUANTILE_APPROX_SQL = """
SELECT CAST(i AS INT) AS q_idx,
       (SELECT count(*) FROM customer) AS n_rows,
       CAST(i * (SELECT count(*) FROM customer) AS BIGINT)
         AS target_rank_x_q,
       TRUE AS within_bound, TRUE AS scores_in_range
FROM generate_series(1, 9) AS t(i)"""


def q_x3_trainset_labeled(spark, sf_dir):
    """X3 end-to-end: sliding-window featurize + multi-hot labels —
    encoding and scaling fitted on window 0 and reapplied to window 1,
    hash-matched against a complete SQL oracle."""
    from datetime import timedelta
    from caspr_spark.pipeline import build_sliding_window_trainset
    ev = _events(spark, sf_dir)
    pred = ev.agg(F.max("ts")).collect()[0][0]
    feat = SequenceFeaturizer(roles=_event_roles(), history_days=7,
                              seq_len=3, interval=True, scaling="min_max")
    out, _ = build_sliding_window_trainset(
        ev, feat, [pred - timedelta(days=7), pred - timedelta(days=14)],
        label_window_days=7, activity_col="event_type",
        activities=["click", "error", "purchase", "signup", "view"])
    return out


def _trainset_sql() -> str:
    """Oracle twin of q_x3_trainset_labeled: two cutoffs (p-7d, p-14d),
    encoding+summary fitted on window 0 and REAPPLIED to window 1,
    7-day-forward multi-hot labels inner-joined per window."""
    n, hist = 3, 7
    acts = ["click", "error", "purchase", "signup", "view"]
    blocks = []
    for i in range(2):
        cut = f"(p - INTERVAL {7 * (i + 1)} DAY)"
        et = ",\n    ".join(
            f'coalesce(max(CASE WHEN slot={s} THEN et END), 0) AS "{s}_event_type"'
            for s in range(1, n + 1))
        val = ",\n    ".join(
            f'coalesce(max(CASE WHEN slot={s} THEN val_n END), 0.0) AS "{s}_value"'
            for s in range(1, n + 1))
        ts = ",\n    ".join(
            f'coalesce(max(CASE WHEN slot={s} THEN ti_n END), max(hist_n)) AS "{s}_ts"'
            for s in range(1, n + 1))
        labs = ",\n    ".join(
            f"CAST(least(count(*) FILTER (event_type = '{a}'), 1) AS INT) "
            f"AS label_{a}" for a in acts)
        blocks.append(f"""
SELECT w.*, l.* EXCLUDE (user_id), {i} AS window_id
FROM (
  SELECT user_id,
    {et},
    {val},
    {ts}
  FROM (
    SELECT d.user_id,
      (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END AS slot,
      CAST(coalesce(enc.code, 0) AS INT) AS et,
      (d.value - st.vmin) / (st.vmax - st.vmin) AS val_n,
      CAST(d.ti - st.tmin AS DOUBLE) / CAST(st.tmax - st.tmin AS DOUBLE) AS ti_n,
      CAST({hist} - st.tmin AS DOUBLE) / CAST(st.tmax - st.tmin AS DOUBLE) AS hist_n
    FROM (
      SELECT e.user_id, e.event_type, e.value, e.event_id,
             ({cut})::DATE - e.ts::DATE AS ti,
             count(*) OVER (PARTITION BY e.user_id) AS sl,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts DESC, e.event_id DESC) AS rd
      FROM events e CROSS JOIN p0
      WHERE extract(epoch FROM e.ts) > floor(extract(epoch FROM {cut})) - {hist}*86400
        AND e.ts < {cut}
    ) d LEFT JOIN enc USING (event_type) CROSS JOIN stats st
    WHERE d.rd <= {n}
  ) GROUP BY user_id
) w
JOIN (
  SELECT user_id,
    {labs}
  FROM events e CROSS JOIN p0
  WHERE e.ts > {cut} AND e.ts <= {cut} + INTERVAL 7 DAY
  GROUP BY user_id
) l USING (user_id)""")
    union = " UNION ALL ".join(blocks)
    return f"""
WITH p0 AS (SELECT max(ts) AS p FROM events),
f0 AS (
  SELECT e.user_id, e.event_type, e.value,
         (p - INTERVAL 7 DAY)::DATE - e.ts::DATE AS ti
  FROM events e CROSS JOIN p0
  WHERE extract(epoch FROM e.ts)
          > floor(extract(epoch FROM (p - INTERVAL 7 DAY))) - {hist}*86400
    AND e.ts < p - INTERVAL 7 DAY
),
enc AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS code
  FROM f0 GROUP BY event_type
),
stats AS (
  SELECT min(value) AS vmin, max(value) AS vmax,
         min(ti) AS tmin, max(ti) AS tmax FROM f0
)
{union}
"""

X3_TRAINSET_LABELED_SQL = _trainset_sql()
