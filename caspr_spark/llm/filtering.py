"""Corpus quality filtering: repetition signals, PII redaction, decontamination.

The document-level filters a web-scale training-data pipeline runs after
dedup (reference scope: CASPR stops at featurization — these extend the
engine to the LLM-curation surface the task brief asks for):

- **Repetition signals** — the Gopher/MassiveText-style "most frequent
  word / 2-gram fraction" and distinct-word-ratio rules used to drop
  boilerplate and degenerate generations.
- **PII redaction** — regex scrubbing of emails / IPv4 addresses /
  phone-like digit runs, the standard pre-release hygiene pass.
- **Benchmark decontamination** — remove training documents that share
  any word n-gram with an evaluation set (the GPT-3/PaLM appendix
  methodology: n-gram collision ⇒ contaminated).

All three are pure `pyspark.sql.functions` column arithmetic — regexes,
higher-order array functions, hash joins — so every stage stays in JVM
whole-stage codegen. The only shuffles are keyed, map-side-combinable
aggregations (doc_id / gram hash); nothing is quadratic in corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from caspr_spark.llm.dedup import BROADCAST_GRAM_LIMIT
from caspr_spark.sources import local_frame

# --------------------------------------------------------------------------
# repetition signals (Gopher-style)
# --------------------------------------------------------------------------


def _words(text_col: Column) -> Column:
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def _word_ngrams(words: Column, n: int) -> Column:
    """Contiguous word ``n``-grams of an array column, joined by single
    spaces — built with sequence/transform/slice so construction is pure
    codegen (no explode, no shuffle). Empty array when the doc is shorter
    than ``n`` words (guarded: ``sequence(1, 0)`` would count DOWN)."""
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document repetition statistics (Gopher rules, word-level).

    Returns one row per document with:

    - ``n_words``        — whitespace word count
    - ``distinct_ratio`` — distinct words / words (low ⇒ degenerate)
    - ``top_word_frac``  — occurrences of the most frequent word / words
    - ``top_bigram_frac``— occurrences of the most frequent 2-gram /
      bigram count (the MassiveText "duplicate 2-gram fraction" analog)

    Plan shape: unigrams and bigrams are exploded **once** with a kind
    tag, counted by (doc, kind, gram) — a keyed aggregation with map-side
    combine — then reduced to per-doc maxima. Two hash exchanges on
    bounded keys; no window, no per-doc quadratic work. ``n_words`` and
    ``distinct_ratio`` never leave codegen (array_distinct on the row).
    """
    words = _words(F.col(text_col))
    tagged = F.concat(
        F.transform(words, lambda w: F.struct(F.lit(1).alias("kind"),
                                              w.alias("gram"))),
        F.transform(_word_ngrams(words, 2),
                    lambda g: F.struct(F.lit(2).alias("kind"),
                                       g.alias("gram"))))
    base = df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        tagged.alias("grams"))
    counts = (base.select(id_col, F.explode("grams").alias("g"))
                  .groupBy(id_col, "g.kind", "g.gram").count())
    top = (counts.groupBy(id_col)
           .agg(F.max(F.when(F.col("kind") == 1, F.col("count"))).alias("top1"),
                F.sum(F.when(F.col("kind") == 1, F.col("count"))).alias("tot1"),
                F.max(F.when(F.col("kind") == 2, F.col("count"))).alias("top2"),
                F.sum(F.when(F.col("kind") == 2, F.col("count"))).alias("tot2")))
    return (base.drop("grams")
            .join(top, on=id_col)
            .select(id_col, "n_words",
                    (F.col("n_distinct") / F.col("n_words")).alias("distinct_ratio"),
                    (F.col("top1") / F.col("tot1")).alias("top_word_frac"),
                    F.when(F.col("tot2") > 0, F.col("top2") / F.col("tot2"))
                     .otherwise(F.lit(0.0)).alias("top_bigram_frac")))


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Patterns kept to the regex subset Java's engine and RE2 agree on
# (no backreferences, no lookaround) so the DuckDB oracle can run the
# exact same patterns.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d[\d -]{7,}\d"


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted",
               count_cols: bool = True) -> DataFrame:
    """Scrub emails, IPv4 addresses, and phone-like digit runs.

    Replacement order matters: emails first (their local parts contain
    digits a later pass could half-match), then IPs, then the greedy
    phone pattern — the phone character class has no ``.``/``@`` so it
    cannot re-match inside the earlier placeholders. Adds ``out_col``
    plus ``n_emails / n_ips / n_phones`` match counts when
    ``count_cols``. One projection, zero shuffles."""
    t = F.col(text_col)
    step1 = F.regexp_replace(t, EMAIL_RE, "[EMAIL]")
    step2 = F.regexp_replace(step1, IPV4_RE, "[IP]")
    step3 = F.regexp_replace(step2, PHONE_RE, "[PHONE]")
    out = df.withColumn(out_col, step3)
    if count_cols:
        out = (out.withColumn("n_emails", F.regexp_count(t, F.lit(EMAIL_RE)))
                  .withColumn("n_ips", F.regexp_count(step1, F.lit(IPV4_RE)))
                  .withColumn("n_phones", F.regexp_count(step2, F.lit(PHONE_RE))))
    return out


# --------------------------------------------------------------------------
# hashed bag-of-words quality classifier
# --------------------------------------------------------------------------


def quality_score_hashed_bow(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", n_buckets: int = 1024,
                             weights: list[float] | None = None,
                             bias: float = 0.0,
                             out_col: str = "quality") -> DataFrame:
    """fasttext-style linear quality classifier over hashed bag-of-words.

    The standard web-corpus quality gate (CCNet / GPT-3's WebText
    classifier shape): tokenize, hash each token into ``n_buckets``
    feature buckets, average the bucket weights, squash with a sigmoid.

    - ``bucket(tok) = int(md5(tok)[:8], 16) % n_buckets`` — md5 so the
      featurization is engine-portable (oracles reproduce it exactly).
    - ``weights``: a trained weight vector (length ``n_buckets``), baked
      into the plan as an array literal — a few KB even at 64k buckets,
      so every executor evaluates it in codegen with no lookup join.
      ``None`` uses the deterministic placeholder
      ``w[b] = b/n_buckets - 0.5`` (certifiable without a model file).

    Adds ``n_tokens`` and ``out_col`` = sigmoid(bias + mean weight).
    Zero shuffles: split/transform/aggregate are all row-local, so the
    score is computed in the same scan that reads the text — at 100 TB
    this pass is I/O-bound, exactly as a filter should be.
    """
    if weights is not None and len(weights) != n_buckets:
        raise ValueError(
            f"weights has {len(weights)} entries, expected {n_buckets}")
    words = _words(F.col(text_col))
    nb = F.lit(n_buckets)
    buckets = F.transform(
        words,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
                   .cast("long") % nb)
    if weights is None:
        def wexpr(b):
            return b.cast("double") / nb - F.lit(0.5)
    else:
        arr = F.array(*[F.lit(float(w)) for w in weights])
        def wexpr(b):
            return F.element_at(arr, (b + 1).cast("int"))
    wsum = F.aggregate(buckets, F.lit(0.0),
                       lambda acc, b: acc + wexpr(b))
    n = F.size(words)
    mean = F.when(n > 0, wsum / n).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + mean)))
    return df.select(F.col(id_col), n.alias("n_tokens"),
                     score.alias(out_col))


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------


def ngram_hashes(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 8) -> DataFrame:
    """(id, gram_hash) pairs — one row per contiguous word n-gram.

    The hash is ``md5`` of the space-joined gram (cross-engine stable, so
    oracles can reproduce it; 128 bits ⇒ collisions are ignorable at any
    corpus size). Construction is codegen (sequence/slice), the explode
    is the only row-multiplying step, and downstream joins move 32-byte
    hashes instead of documents.

    A precomputed :func:`~caspr_spark.llm.dedup.gram_table` may be
    passed in place of the raw corpus (detected by its ``__hs``
    column — the same md5-of-space-joined-gram definition by
    construction): the tokenize+hash scan is skipped and the table's
    ``gram_n`` is verified against ``n`` inside the plan."""
    from caspr_spark.llm.dedup import _check_gram_n, _is_gram_table
    if _is_gram_table(df, id_col):
        return (_check_gram_n(df, n)
                .select(F.col(id_col), F.explode("__hs").alias("gram_hash")))
    grams = _word_ngrams(_words(F.col(text_col)), n)
    return (df.select(F.col(id_col), F.explode(grams).alias("gram"))
              .select(id_col, F.md5(F.col("gram")).alias("gram_hash")))


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 8, broadcast_benchmark: bool = True,
                  broadcast_limit: int | None = BROADCAST_GRAM_LIMIT
                  ) -> DataFrame:
    """Drop training docs sharing ANY word ``n``-gram with the benchmark.

    The GPT-3-appendix decontamination rule. Plan: hash both sides'
    n-grams, semi-join train grams against the (distinct) benchmark gram
    set to get contaminated doc ids, anti-join those ids back. The
    benchmark side is an eval set — small by definition — so its distinct
    hash set is broadcast (``broadcast_benchmark``), making the whole
    contamination scan a map-only pass over the training corpus: the only
    real shuffles are the two distincts on ids/hashes, both bounded by
    benchmark size + contaminated-doc count, never the corpus.

    ``broadcast_limit`` applies :mod:`~caspr_spark.llm.dedup`'s size
    guard (default :data:`~caspr_spark.llm.dedup.BROADCAST_GRAM_LIMIT`):
    the hint applies only while the benchmark's distinct gram count
    stays under it — a mis-sized "benchmark" (or swapped argument
    order) degrades to an AQE-planned shuffle semi-join instead of a
    driver OOM.

    **Side effect**: with the guard active (the default), CALLING this
    function is eager — it persists the benchmark gram set and runs
    the one eval-sized count job immediately, before any action on the
    returned DataFrame, and the persisted set stays cached until a
    surrounding :func:`~caspr_spark.cache.cache_scope` exits (or the
    LRU/ContextCleaner reclaims it) even if the result is never
    materialized. Construct inside a ``cache_scope`` (as the bench and
    correctness drivers do), or pass ``broadcast_limit=None`` to
    restore the side-effect-free unconditional hint when the benchmark
    is known-small."""
    from caspr_spark.llm.dedup import _maybe_broadcast_gram_set

    bench = ngram_hashes(benchmark, id_col, text_col, n) \
        .select("gram_hash").distinct()
    if broadcast_benchmark:
        bench = _maybe_broadcast_gram_set(bench, broadcast_limit)
    contaminated = (ngram_hashes(train, id_col, text_col, n)
                    .join(bench, on="gram_hash", how="left_semi")
                    .select(id_col).distinct())
    return train.join(contaminated, on=id_col, how="left_anti")


def decontaminate_from_census(train: DataFrame, census: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text", n: int = 8,
                              broadcast_benchmark: bool = True,
                              broadcast_limit: int | None =
                              BROADCAST_GRAM_LIMIT) -> DataFrame:
    """:func:`decontaminate` against a PRE-BUILT benchmark gram census
    — the state-fed form for an eval SUITE that grows over time. New
    benchmarks land monthly; re-hashing every eval set on every
    training-data refresh re-reads text that never changes, so keep
    the suite as a gram census instead
    (:func:`~caspr_spark.llm.dedup.build_gram_census` /
    :func:`~caspr_spark.llm.dedup.append_gram_census`, or the
    exactly-once versioned dir via
    :func:`~caspr_spark.streaming.gram_census_sink` read back with
    :func:`~caspr_spark.streaming.read_gram_census_state`) and
    decontaminate against the state: the census is hash-only
    (text-free, gram-cardinality) and both sides hash grams as md5 of
    the space-joined words, so the state's ``gram_hash`` set IS the
    benchmark gram set. The census width is verified IN-PLAN
    (``gram_n`` rides as data — a census built at one ``n`` can never
    silently feed a decontamination at another); the broadcast size
    guard and plan shape are :func:`decontaminate`'s exactly."""
    from caspr_spark.llm.dedup import _check_gram_n, _maybe_broadcast_gram_set

    # no .distinct(): a census holds ONE row per gram hash by
    # construction (build_gram_census groups by hash; the state
    # read-side merge re-sums per hash) — re-distincting would be a
    # pure extra shuffle of the benchmark set
    bench = _check_gram_n(census, n).select("gram_hash")
    if broadcast_benchmark:
        bench = _maybe_broadcast_gram_set(bench, broadcast_limit)
    contaminated = (ngram_hashes(train, id_col, text_col, n)
                    .join(bench, on="gram_hash", how="left_semi")
                    .select(id_col).distinct())
    return train.join(contaminated, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# trainable quality classifier (distributed full-batch logistic regression)
# --------------------------------------------------------------------------


def _round_half_away(x: float) -> int:
    """round-half-away-from-zero — what Spark's ``round()`` and DuckDB's
    ``round()`` both do (Python's builtin ``round`` is banker's and would
    silently diverge the driver-side weight updates from the oracle)."""
    import math
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def train_quality_classifier(df: DataFrame, label_col: str,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             n_buckets: int = 1024, iterations: int = 3,
                             lr: float = 20.0, fx: int = 10**9,
                             broadcast_weights_from: int = 4096) -> DataFrame:
    """TRAIN the hashed-BoW quality classifier distributed — full-batch
    logistic regression over the md5-bucketed mean-count features that
    :func:`quality_score_hashed_bow` consumes, so the learned vector
    plugs straight into the scorer (``weights=[wq/fx ...]``,
    ``bias=bias_fx/fx``).

    Per epoch (synchronous full-batch GD):

    1. per-doc logit — ``Σ cnt·wq[bucket]`` over the persisted
       (doc, bucket, cnt) relation with the weights as a broadcast
       array literal (ONE keyed aggregation, no weight join);
    2. residuals — sigmoid rounded to 6dp, quantized to ``fx``
       fixed-point BIGINTs;
    3. bucket gradients — ``Σ cnt·rq`` grouped by bucket (ONE keyed
       join + aggregation; ≤ ``n_buckets`` rows reach the driver);
    4. the driver applies the update in integer fixed point.

    Every distributed sum is over BIGINTs, so the result is EXACTLY
    partition-order independent and an unrolled SQL oracle reproduces
    the weights bit-for-bit — the same discipline as the PageRank
    fixed-point oracle. (The one transcendental, ``exp``, is evaluated
    per scalar and rounded to 6dp before quantization; a last-ulp libm
    divergence landing exactly on a rounding boundary is the only
    theoretical mismatch, ~1e-10 per evaluation.)

    Returns ``(bucket int, weight_fx bigint)`` with the bias at
    ``bucket = -1`` — ``n_buckets + 1`` rows, hash-comparable.

    100 TB shape: the token explode + (doc,bucket) count runs once and
    persists; each epoch re-scans that compact relation (vocabulary-
    bounded per doc), never the text. The driver holds the
    ``n_buckets`` weight vector only.

    Plan-size guard (r7 verdict item 5): the per-epoch weight lookup
    embeds the vector as an ``n_buckets``-literal array — free at the
    default 1024, but plan analysis is O(n_buckets × iterations), so
    above ``broadcast_weights_from`` buckets the lookup switches to a
    broadcast-joined ``(bucket, __wq)`` relation built per epoch: the
    same integers reach the same rows (tests pin both paths to
    identical weights), while the logical plan stays bounded at any
    vocabulary size.
    """
    words = _words(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"),
                     F.col(label_col).cast("double").alias("__y"),
                     words.alias("__w"))
    d = base.select("__id", "__y", F.size("__w").cast("long")
                    .alias("__n")).persist()
    nb = F.lit(n_buckets)
    t = (base.select("__id", F.explode("__w").alias("__t"))
         .select("__id",
                 (F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10)
                  .cast("long") % nb).cast("int").alias("bucket"))
         .groupBy("__id", "bucket")
         .agg(F.count(F.lit(1)).alias("cnt")).persist())
    try:
        n_docs = d.count()
        if n_docs == 0:
            raise ValueError("train_quality_classifier: empty input")
        wq = [0] * n_buckets
        bias_fx = 0
        fxf = float(fx)
        spark = df.sparkSession
        use_join = n_buckets >= broadcast_weights_from
        for _ in range(iterations):
            if use_join:
                wdf = local_frame(spark, list(enumerate(wq)),
                                  "bucket int, __wq long")
                s = (t.join(F.broadcast(wdf), "bucket")
                     .groupBy("__id")
                     .agg(F.sum(F.col("cnt") * F.col("__wq"))
                          .alias("s_fx")))
            else:
                arr = F.array(*[F.lit(int(v)) for v in wq])
                s = t.groupBy("__id").agg(
                    F.sum(F.col("cnt")
                          * F.element_at(arr, F.col("bucket") + 1))
                    .alias("s_fx"))
            z = (F.lit(bias_fx / fx)
                 + F.col("s_fx") / F.lit(fxf) / F.col("__n"))
            pq = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
            r = (d.join(s, "__id")
                 .select("__id",
                         F.round((pq - F.col("__y")) / F.col("__n") * fxf)
                         .cast("long").alias("rq"),
                         F.round((pq - F.col("__y")) * fxf)
                         .cast("long").alias("rb"))).persist()
            # bias + bucket gradients in ONE job: the bias gradient rides
            # as the sentinel bucket -1 (one unit-contribution row per
            # doc unioned under the bucket rows), so each epoch runs one
            # aggregation over the persisted residuals instead of a
            # separate Σrb first() plus the per-bucket collect(). Same
            # BIGINT sums reach the driver — weights bit-identical.
            g = (t.join(r, "__id")
                 .select("bucket", (F.col("cnt") * F.col("rq")).alias("__c"))
                 .unionByName(r.select(F.lit(-1).alias("bucket"),
                                       F.col("rb").alias("__c")))
                 .groupBy("bucket").agg(F.sum("__c").alias("g_fx"))
                 .collect())
            r.unpersist()
            for row in g:
                b = int(row["bucket"])
                if b == -1:
                    bias_fx -= _round_half_away(lr * int(row["g_fx"])
                                                / n_docs)
                else:
                    wq[b] -= _round_half_away(lr * int(row["g_fx"]) / n_docs)
    finally:
        d.unpersist()
        t.unpersist()
    rows = [(-1, int(bias_fx))] + [(b, int(wq[b]))
                                   for b in range(n_buckets)]
    return local_frame(df.sparkSession, rows, "bucket int, weight_fx long")
