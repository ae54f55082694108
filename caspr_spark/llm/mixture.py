"""Training-mixture composition: domain weighting, sequence packing,
diversity-balanced sampling.

The last mile of a pretraining data pipeline: after curation/dedup the
corpus must be (1) re-weighted across domains (temperature sampling a la
multilingual/multi-source training recipes), (2) packed into fixed
token-budget training sequences, and (3) balanced so no dense semantic
cluster dominates. Everything here is deterministic and engine-portable
(md5 thresholds, window arithmetic) so results certify against a SQL
oracle — same discipline as operators/sampling.py.

All paths are scale-shaped: mixture rates are computed by a tiny
per-domain aggregate broadcast back (never a driver collect), offset
packing rides the distributed prefix scan (next-fit walks shards in
parallel), and the diversity cap rides the LSH bucket id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.operators.sampling import (_hash_col, downsample_to_cap,
                                            global_running_sum)
from caspr_spark.workers import shipped

_PREFIX = 8  # md5 hex prefix compared against the rate threshold


def _rate_to_hex(rate):
    """Column expr: largest kept md5 hex prefix for a rate in [0, 1].

    Mirrors operators.sampling._threshold_hex but computed IN-PLAN from a
    rate column: floor(rate · 2^32) rendered as 8 lowercase hex digits;
    rate ≥ 1 becomes 'g'×8 which lexicographically exceeds every hex
    string (keep-all). Identical arithmetic runs in the SQL oracle, so
    the kept set is engine-portable.
    """
    hex8 = F.lpad(F.lower(F.hex(
        F.floor(rate * F.lit(float(1 << (4 * _PREFIX)))).cast("bigint"))),
        _PREFIX, "0")
    return F.when(rate >= 1.0, F.lit("g" * _PREFIX)).otherwise(hex8)


def mixture_sample(df: DataFrame, domain_col: str, budget: int,
                   id_cols: list[str], alpha: float = 0.5,
                   seed: int = 42, rate_col: str | None = None) -> DataFrame:
    """Temperature-weighted domain mixture sample.

    Target share of domain d is w_d = n_d^alpha / Σ_e n_e^alpha (alpha=1
    reproduces the natural distribution, alpha=0 uniform across domains;
    0<alpha<1 up-weights the tail — the standard temperature-sampling
    recipe for multi-source corpora). Each domain is then kept at rate
    min(1, budget·w_d / n_d) via the map-only md5-threshold test, so the
    expected output size is ≈ ``budget`` rows, skewed toward rare
    domains.

    Scale shape: one tiny groupBy on the domain (map-side combined), a
    scalar total via a second micro-agg, both broadcast back — the corpus
    itself is touched by exactly one map-side filter pass, no shuffle, no
    driver-side state. ``rate_col`` optionally exposes the per-row kept
    rate for auditing.

    ``id_cols`` must identify ROWS (e.g. the doc id) — hashing the domain
    value itself would keep or drop whole domains wholesale, which is why
    the parameter is required rather than defaulted (same contract as
    ``stratified_sample_hash``). Rows with a NULL domain are dropped —
    the rate join is an equi-join, and an unattributable row has no
    defined mixture weight; fill the domain first if they should count.
    """
    if not id_cols:
        raise ValueError("id_cols must name the row-identifying columns "
                         "(hash-threshold sampling needs per-row hashes)")
    # NULL domains are excluded from the counts too — a null group in
    # the n^alpha normalization would deflate every real domain's rate
    # while its own rows are dropped at the equi-join anyway
    counts = (df.filter(F.col(domain_col).isNotNull())
                .groupBy(domain_col)
                .agg(F.count(F.lit(1)).cast("double").alias("__n")))
    wsum = counts.agg(F.sum(F.pow(F.col("__n"), F.lit(float(alpha))))
                      .alias("__wsum"))
    rates = (counts.crossJoin(F.broadcast(wsum))
             .withColumn("__rate", F.least(
                 F.lit(1.0),
                 F.lit(float(budget)) * F.pow(F.col("__n"), F.lit(float(alpha)))
                 / F.col("__wsum") / F.col("__n")))
             .select(domain_col, "__rate"))
    h = F.substring(_hash_col(id_cols, seed), 1, _PREFIX)
    out = (df.join(F.broadcast(rates), on=domain_col)
             .filter(h < _rate_to_hex(F.col("__rate"))))
    if rate_col:
        return out.withColumnRenamed("__rate", rate_col)
    return out.drop("__rate")


_DSIR_FX = 10 ** 9  # fixed-point scale for the per-bucket log-ratios


def _gram_buckets(text_col, n_buckets: int, include_bigrams: bool):
    """Array of md5 feature buckets for a text column: hashed unigrams
    plus (optionally) hashed word bigrams — DSIR's hashed n-gram
    featurization. Pure codegen (split/transform/concat, no explode)."""
    from caspr_spark.llm.filtering import _word_ngrams, _words

    words = _words(text_col)
    grams = (F.concat(words, _word_ngrams(words, 2))
             if include_bigrams else words)
    nb = F.lit(n_buckets)
    return F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
                    .cast("long") % nb).cast("int"))


def _bucket_counts(df: DataFrame, text_col: str, n_buckets: int,
                   include_bigrams: bool, cnt_name: str) -> DataFrame:
    b = _gram_buckets(F.col(text_col), n_buckets, include_bigrams)
    return (df.select(F.explode(b).alias("bucket"))
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).cast("long").alias(cnt_name)))


def dsir_log_ratios(target: DataFrame, raw: DataFrame,
                    text_col: str = "text", n_buckets: int = 1024,
                    alpha: float = 1.0,
                    include_bigrams: bool = True,
                    raw_bucket_counts: DataFrame | None = None) -> DataFrame:
    """Per-bucket importance log-ratios ``ln p̂(b) − ln q̂(b)`` between a
    TARGET corpus (what the selected data should look like) and the RAW
    corpus, over hashed n-gram buckets — the bag-of-hashed-ngrams
    importance model of DSIR (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"). Laplace-``alpha``
    smoothing keeps every bucket finite on both sides.

    Returns ``(bucket, log_ratio_fx)`` — one row per bucket PRESENT IN
    THE RAW CORPUS (a bucket no raw gram hits can never contribute to a
    raw doc's score, and restricting to the raw side keeps the bucket
    join broadcast-able) — with the ratio in ×1e9 fixed-point (BIGINT):
    per-document scores downstream are then exact integer sums, immune
    to float accumulation order, the same discipline as the
    BM25/quality-classifier fixed-point paths.

    Scale shape: each side collapses to ≤ ``n_buckets`` count rows in
    one map-side-combined aggregation (the target corpus is small by
    definition; the raw side's explode is the one row-multiplying
    step); the join of the two count relations is bucket-cardinality
    work. The result is broadcast-sized by construction.
    ``raw_bucket_counts`` lets a caller that already holds the raw
    side's (bucket, __rc) census pass it in and skip the raw scan.
    Note :func:`dsir_select` deliberately does NOT use it: sharing one
    scan through a persisted per-doc relation was measured slower than
    two pipelined map-side passes (see its inline comment).
    """
    t = _bucket_counts(target, text_col, n_buckets, include_bigrams,
                       "__tc")
    r = (raw_bucket_counts if raw_bucket_counts is not None
         else _bucket_counts(raw, text_col, n_buckets, include_bigrams,
                             "__rc"))
    tt = t.agg(F.sum("__tc").alias("__tt"))
    rt = r.agg(F.sum("__rc").alias("__rt"))
    # raw-side LEFT join: a bucket no raw gram hits can never contribute
    # to a raw doc's score, so the full-outer union is unnecessary — and
    # left joins broadcast (full outer would force a sort-merge)
    joined = (r.join(F.broadcast(t), on="bucket", how="left")
               .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(rt))
               .na.fill({"__tc": 0}))
    a = F.lit(float(alpha))
    denom_t = F.col("__tt") + a * n_buckets
    denom_r = F.col("__rt") + a * n_buckets
    lr = (F.log((F.col("__tc") + a) / denom_t)
          - F.log((F.col("__rc") + a) / denom_r))
    return joined.select(
        "bucket",
        F.round(lr * _DSIR_FX).cast("long").alias("log_ratio_fx"))


def _doc_bucket_arrays(uni: DataFrame, bi: DataFrame | None, id_col: str,
                       n_buckets: int, include_bigrams: bool) -> DataFrame:
    """Per-doc DSIR bucket arrays ``(id, __b: array<int>)`` derived from
    persisted :func:`~caspr_spark.llm.dedup.gram_table` featurizations
    (``n=1``, plus ``n=2`` when ``include_bigrams``) instead of
    re-tokenizing raw text. A DSIR bucket is a pure function of the
    gram's md5 (first 8 hex nibbles mod ``n_buckets``) and the gram
    table stores exactly those md5s, so the bucket multiset per doc —
    and every downstream count, ratio, and score — is bit-identical to
    the raw-text path (:func:`_gram_buckets`); the tables' widths are
    verified in-plan (``_check_gram_n``). One doc-keyed equi-join
    stitches the two widths (doc-cardinality rows, array payloads —
    no gram-cardinality shuffle)."""
    from caspr_spark.llm.dedup import _check_gram_n

    u = _check_gram_n(uni, 1).select(F.col(id_col),
                                     F.col("__hs").alias("__hu"))
    if include_bigrams:
        b2 = _check_gram_n(bi, 2).select(F.col(id_col),
                                         F.col("__hs").alias("__hb"))
        joined = u.join(b2, on=id_col)
        hs = F.concat(F.col("__hu"), F.col("__hb"))
    else:
        joined, hs = u, F.col("__hu")
    nb = F.lit(n_buckets)
    bucket = F.transform(
        hs, lambda h: (F.conv(F.substring(h, 1, 8), 16, 10)
                        .cast("long") % nb).cast("int"))
    return joined.select(F.col(id_col), bucket.alias("__b"))


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 1024, alpha: float = 1.0,
                include_bigrams: bool = True, seed: int = 42,
                raw_grams_uni: DataFrame | None = None,
                raw_grams_bi: DataFrame | None = None) -> DataFrame:
    """DSIR data selection: keep the ``k`` raw documents importance-
    resampled toward the target distribution (Xie et al. 2023).

    Per document the log importance weight is the exact fixed-point sum
    ``Σ_b count_d(b) · log_ratio_fx(b)`` over its hashed n-gram buckets
    (:func:`dsir_log_ratios`); the without-replacement sample ∝ w is
    drawn with the Gumbel-top-k trick, derandomized the house way: the
    per-doc uniform is md5(seed||id)-derived (the
    ``weighted_sample_topk`` construction), so the selected set is a
    pure function of (corpora, seed) — reproducible on any cluster,
    certifiable against a SQL oracle.

    Returns ``(id, log_w, key)`` for the selected docs — ``log_w``
    exact at 1e-9 resolution (integer fixed-point, rounded to 6 for
    engine-portable display), ``key = log_w + Gumbel(u)`` rounded to 6
    (the one float-valued term; ordering uses the rounded key with the
    id as tie-break so both engines sort identically).

    Scale shape: the weight relation is ≤ ``n_buckets`` rows broadcast;
    the raw corpus pays one explode → (id, bucket) map-side-combined
    count, a broadcast equi-join, one id-keyed exact integer sum, and a
    ``TakeOrdered`` top-k — no corpus-sized sort, no driver
    materialization beyond k rows.

    ``raw_grams_uni`` / ``raw_grams_bi`` feed the raw side from
    persisted :func:`~caspr_spark.llm.dedup.gram_table` featurizations
    (built at ``n=1`` and ``n=2``) instead of re-tokenizing
    ``raw[text_col]`` — the round-11 amortization: a curation pipeline
    running DSIR next to decontamination and the span census pays the
    tokenize+hash scan once. Results are bit-identical to the raw-text
    path (:func:`_doc_bucket_arrays`), and both raw passes (bucket
    census + per-doc counts) then read the tables, not the text.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if raw_grams_uni is None and raw_grams_bi is not None:
        raise ValueError("raw_grams_bi given without raw_grams_uni")
    # the raw corpus is deliberately scanned twice (once for the bucket
    # census, once for the per-doc counts): both passes pipeline freely
    # and stay map-side-combined. Persisting the (id, bucket, cnt)
    # relation to share one scan was MEASURED SLOWER at sf1 (70 s vs
    # 40 s) — the materialization barrier costs more than the re-scan.
    # (The gram-table path keeps the same two-pass shape; it removes the
    # tokenize+md5 COMPUTE, not the second pass.)
    if raw_grams_uni is not None:
        if include_bigrams and raw_grams_bi is None:
            raise ValueError("include_bigrams=True needs raw_grams_bi "
                             "(a gram_table built with n=2)")
        # per_doc is consumed twice below (bucket census + per-doc
        # counts), each consumption re-running the uni⨝bi doc join and
        # the hex→bucket transform off the caller-persisted gram
        # tables. Persisting per_doc here was MEASURED (round 16,
        # alternating within-session A/B): sf0.1 steady-state 3.3 s →
        # 3.4-4.1 s, sf1 23-29 s → 30-34 s — the doc-cardinality
        # int-array materialization barrier costs more than the two
        # pipelined recomputes, the same verdict as the raw-text
        # path's rejected (id, bucket, cnt) persist below. Left
        # unpersisted deliberately.
        per_doc = _doc_bucket_arrays(raw_grams_uni, raw_grams_bi, id_col,
                                     n_buckets, include_bigrams)
        raw_counts = (per_doc.select(F.explode("__b").alias("bucket"))
                      .groupBy("bucket")
                      .agg(F.count(F.lit(1)).cast("long").alias("__rc")))
        ratios = dsir_log_ratios(target, raw, text_col, n_buckets, alpha,
                                 include_bigrams,
                                 raw_bucket_counts=raw_counts)
        exploded = per_doc.select(F.col(id_col),
                                  F.explode("__b").alias("bucket"))
    else:
        ratios = dsir_log_ratios(target, raw, text_col, n_buckets,
                                 alpha, include_bigrams)
        b = _gram_buckets(F.col(text_col), n_buckets, include_bigrams)
        exploded = raw.select(F.col(id_col), F.explode(b).alias("bucket"))
    doc_buckets = (exploded
                      .groupBy(id_col, "bucket")
                      .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
    scores = (doc_buckets.join(F.broadcast(ratios), on="bucket")
              .groupBy(id_col)
              .agg(F.sum(F.col("__cnt") * F.col("log_ratio_fx"))
                    .cast("long").alias("__w_fx")))
    u = ((F.conv(F.substring(_hash_col([id_col], seed), 1, _PREFIX), 16, 10)
           .cast("double") + 1.0) / float((1 << (4 * _PREFIX)) + 1))
    gumbel = -F.log(-F.log(u))
    log_w = F.col("__w_fx").cast("double") / _DSIR_FX
    key = F.round(log_w + gumbel, 6)
    return (scores
            .select(id_col,
                    F.round(log_w, 6).alias("log_w"),
                    key.alias("key"))
            .orderBy(F.col("key").desc(), F.col(id_col).asc())
            .limit(k))


def pack_sequences_offset(df: DataFrame, token_col: str, budget: int,
                          group_cols: list[str] | None = None,
                          order_cols: list[str] | None = None,
                          id_col: str = "doc_id",
                          seq_col: str = "seq_id",
                          offset_col: str = "seq_offset") -> DataFrame:
    """Offset-based sequence packing: seq_id = floor(prev_cumsum/budget).

    Documents (in a deterministic order) are laid out on one conceptual
    token tape per group; a document belongs to the sequence its FIRST
    token falls in. A document straddling a boundary overflows its
    sequence by < its own length — the semantics of packing-with-
    truncation, where the trainer clips the tail. For strict no-overflow
    bins use :func:`pack_sequences_nextfit`.

    The per-group cumulative sum rides the three-phase distributed
    prefix scan (:func:`~caspr_spark.operators.sampling.
    global_running_sum`) over the total order ``(group_cols,
    order_cols)`` — NOT an ordered window per group: groups are few and
    hot by nature (English is ~half a web corpus; ungrouped, the window
    was a GLOBAL single-task sort), exactly the key shape ordered
    windows serialize into one task. The within-group exclusive prefix
    is the global exclusive prefix minus the group's start offset,
    which comes from one map-side-combinable ``min`` aggregate
    (#groups rows, broadcast back) — every sort in the plan is
    range-partitioned and every window is keyed on the scan's
    ``__pid``, so the plan stays balanced at any scale and any skew.
    Token counts must be non-negative (they're counts; the group-start
    ``min`` relies on the prefix being monotone). Like every
    prefix-scan consumer, the scan persists its range-partitioned
    frame — materialize the result inside the surrounding
    ``cache_scope`` (see cache.py).
    """
    group_cols = group_cols or []
    order_cols = order_cols or [id_col]
    if any(c in df.columns for c in (seq_col, offset_col, "__gprev")):
        raise ValueError(f"{seq_col}/{offset_col}/__gprev already present")
    order = ([F.col(g).asc() for g in group_cols]
             + [F.col(c).asc() for c in order_cols])
    run = global_running_sum(df, token_col, order, out_col="__grun")
    # exclusive prefix on the global tape; null tokens propagate null
    # (the window form's sum-minus-self did the same)
    g_prev = (run.withColumn("__gprev", F.col("__grun") - F.col(token_col))
                 .drop("__grun"))
    if group_cols:
        # tokens >= 0 make the exclusive prefix monotone along the tape,
        # so min(__gprev) per group == the group's start offset
        start = (g_prev.groupBy(*group_cols)
                 .agg(F.min("__gprev").alias("__gstart"))
                 .select(*[F.col(g).alias(f"__g_{g}") for g in group_cols],
                         "__gstart"))
        cond = None
        for g in group_cols:
            eq = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
            cond = eq if cond is None else cond & eq
        g_prev = (g_prev.join(F.broadcast(start), on=cond)
                  .withColumn("__gprev", F.col("__gprev") - F.col("__gstart"))
                  .drop("__gstart", *[f"__g_{g}" for g in group_cols]))
    prev_cum = F.col("__gprev")
    return (g_prev.withColumn(seq_col, F.floor(prev_cum / F.lit(int(budget))))
                  .withColumn(offset_col,
                              (prev_cum % F.lit(int(budget))).cast("long"))
                  .drop("__gprev"))


def pack_sequences_nextfit(df: DataFrame, token_col: str, budget: int,
                           group_cols: list[str],
                           id_col: str = "doc_id",
                           seq_col: str = "seq_id",
                           fill_col: str = "seq_fill") -> DataFrame:
    """Exact next-fit packing: no sequence exceeds ``budget`` tokens
    (except a single document longer than the budget, which gets its own
    sequence).

    Next-fit walks documents in id order, appending to the current
    sequence while it fits, else opening a new one — inherently
    sequential WITHIN a group, so the group key is the unit of
    parallelism (shard/domain/language). Runs as one applyInPandas per
    group: state is two integers, memory is one group's rows (bounded by
    shard size — choose group_cols so shards are; the whole corpus in one
    group would serialize the walk, which is next-fit's intrinsic cost,
    not Spark's). ``fill_col`` reports the sequence's running fill after
    the document, so max(fill) per seq audits the budget invariant.
    """
    if not group_cols:
        raise ValueError("pack_sequences_nextfit needs group_cols — the "
                         "group is the unit of parallelism")
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if any(f.name in (seq_col, fill_col) for f in df.schema.fields):
        raise ValueError(f"{seq_col}/{fill_col} already present")
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(seq_col, LongType()),
                               StructField(fill_col, LongType())])
    b = int(budget)

    @shipped
    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seqs, fills = [], []
        cur, fill = 0, 0
        for tok in pdf[token_col].astype("int64"):
            if fill > 0 and fill + tok > b:
                cur += 1
                fill = 0
            fill += tok
            seqs.append(cur)
            fills.append(fill)
        pdf[seq_col] = pd.Series(seqs, dtype="int64")
        pdf[fill_col] = pd.Series(fills, dtype="int64")
        return pdf

    return df.groupBy(*group_cols).applyInPandas(walk, schema=out_schema)


def cluster_balanced_sample(df: DataFrame, cap: int,
                            cluster_col: str | None = None,
                            vec_col: str | None = None,
                            id_col: str = "doc_id", dim: int = 64,
                            n_planes: int = 6, seed: int = 42,
                            keep_cluster_col: str | None = None) -> DataFrame:
    """Diversity-balanced sample: at most ``cap`` rows per semantic
    cluster, lowest-hash-first.

    The anti-mode-collapse curation rule: dense regions of embedding
    space (boilerplate, templates, near-identical pages) are capped so
    the kept corpus spans the space. Clusters come from ``cluster_col``
    if the caller already has one (KMeans cells, IVF cells), else from a
    deterministic LSH bucket over ``vec_col`` — the no-training scale
    path, engine-portable for certification.
    """
    if cluster_col is None:
        if vec_col is None:
            raise ValueError("need cluster_col or vec_col")
        from caspr_spark.llm.similarity import add_lsh_bucket
        df = add_lsh_bucket(df, vec_col, dim, n_planes, seed,
                            out_col="__cluster")
        cluster_col = "__cluster"
    out = downsample_to_cap(df, cluster_col, cap, id_cols=[id_col],
                            seed=seed)
    if keep_cluster_col and cluster_col == "__cluster":
        return out.withColumnRenamed("__cluster", keep_cluster_col)
    return out.drop("__cluster") if cluster_col == "__cluster" else out
