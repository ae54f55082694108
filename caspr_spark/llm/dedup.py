"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All signatures are computed with **native Spark expressions** (xxhash64 +
higher-order array functions) — no Python UDFs — so signature generation
is embarrassingly parallel, and the only shuffles are the band-bucket
groupBys, which are tiny (one row per (doc, band)).

Scale shape (100 TB corpus):
- exact: one hash aggregate on a 16-byte key — the cheapest possible shuffle.
- MinHash LSH: candidate generation shuffles (doc_id, band_hash) pairs only
  (bands × docs rows, ~100 bytes each), never the documents themselves;
  verification joins shingle sets for *candidate pairs only*.
- the all-pairs ``ngram_jaccard_pairs`` is the small-data/oracle path; LSH
  is the scale path for the same semantics.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caspr_spark.cache import register_cache


# Above this many distinct gram hashes the decontamination operators stop
# FORCING a broadcast of the benchmark side and let AQE pick the join
# strategy instead. 4M 32-hex-char md5 hashes serialize to roughly 300 MB
# as a broadcast relation — comfortably inside any production driver but
# close to where an unconditional F.broadcast() turns a mis-sized
# "benchmark" (or swapped argument order) into a driver OOM instead of a
# plan switch. Same discipline as clean.remove_boilerplate, which never
# hints its frequent-unit set.
BROADCAST_GRAM_LIMIT = 4_000_000


def _maybe_broadcast_gram_set(gram_set: DataFrame,
                              limit: int | None) -> DataFrame:
    """Broadcast-hint a distinct gram-hash relation only while it is
    provably eval-sized: one cheap count on the aggregated set (persisted
    so the count and the join read the same materialization), hint under
    ``limit``, otherwise return it unhinted and let AQE decide at
    runtime. ``limit=None`` preserves the unconditional hint for callers
    that know their benchmark."""
    if limit is None:
        return F.broadcast(gram_set)
    gram_set = register_cache(gram_set.persist())
    if gram_set.count() <= limit:
        return F.broadcast(gram_set)
    return gram_set


def _content_key(text_col: str, normalize: bool):
    """The exact-dedup content identity: md5 of (optionally whitespace-
    collapsed, lowercased) text. ONE definition shared by
    :func:`exact_dedup` and :func:`dedup_against_history` — if the
    normalization ever changes (e.g. unicode NFC), corpus-internal and
    batch-vs-history dedup must change together or incremental results
    silently diverge from full-corpus results."""
    base = (F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
            if normalize else F.col(text_col))
    return F.md5(base)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Exact dedup: keep the smallest ``id_col`` per (normalized) text hash."""
    keep = (df.groupBy(_content_key(text_col, normalize).alias("__k"))
              .agg(F.min(id_col).alias(id_col))
              .drop("__k"))
    return df.join(keep, on=id_col, how="left_semi")


def _shingles(text_col: str, k: int):
    """Word ``k``-shingles as a distinct array (native HOFs, no UDF)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks))))


_MERSENNE31 = 2147483647


def _base_hash_pair(col, hash_family: str):
    """The Carter-Wegman base hashes ``(h1, h2)`` for one shingle.

    ``fast`` (default): ``xxhash64(s)`` / ``xxhash64(s, 1)`` — the
    cheapest 64-bit hash Spark evaluates JVM-side, but with no DuckDB
    twin, so results are rows-only-checkable. ``portable``: the top 60
    bits of ``md5(s)`` / ``md5('1|' || s)`` — ~2-3x the hash cost, but
    byte-reproducible in ANY engine with md5 (DuckDB twin:
    ``('0x'||substr(md5(s),1,15))::ubigint % p``), which makes the
    whole LSH pipeline — candidates, verified pairs, survivors —
    exactly auditable outside Spark. Both reduce mod the Mersenne
    prime before the slot arithmetic (see the mod-p note below).
    """
    p = F.lit(_MERSENNE31)
    if hash_family == "fast":
        return (F.pmod(F.xxhash64(col), p),
                F.pmod(F.xxhash64(col, F.lit(1)), p))
    if hash_family == "portable":
        return (F.pmod(_md5_60(col), p),
                F.pmod(_md5_60(F.concat(F.lit("1|"), col)), p))
    raise ValueError(f"hash_family must be 'fast' or 'portable', "
                     f"got {hash_family!r}")


def _md5_60(col):
    """Top 60 bits of md5 as a non-negative bigint — the engine-portable
    base hash (DuckDB twin: ``('0x'||substr(md5(s),1,15))::ubigint``).
    conv/substring/md5 are all JVM codegen built-ins."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       num_hashes: int = 64, shingle_size: int = 3,
                       sig_col: str = "minhash",
                       hash_family: str = "fast") -> DataFrame:
    """MinHash signatures as ``(id_col, sig_col: array<bigint>)``.

    Carter-Wegman family: each shingle is hashed exactly twice
    (``h1``/``h2`` per ``hash_family`` — see :func:`_base_hash_pair`;
    the default is xxhash64-based, ``portable`` is md5-based and
    engine-reproducible) and the ``num_hashes`` permutations are
    ``h1 + i*h2`` — so signature slot ``i`` is ``min(h1 + i*h2)`` over
    the doc's shingles.

    Shape notes for scale: explode -> 2 hashes/shingle -> one hash
    aggregate with ``num_hashes`` partial-min expressions. The alternative
    (nested array lambdas over a shingle-array column) silently re-evaluates
    the shingle construction once per hash function — Catalyst doesn't cost
    expression re-evaluation inside higher-order-function lambdas — which
    is a 64x CPU blowup. The explode/agg form evaluates everything once and
    map-side combines, so the shuffle carries one 64-long vector per
    (doc, input partition).
    """
    sh = df.select(F.col(id_col), _shingles(text_col, shingle_size).alias("__shingles"))
    return _signatures_from_shingles(sh, id_col, num_hashes, sig_col,
                                     hash_family)


def _signatures_from_shingles(sh: DataFrame, id_col: str, num_hashes: int,
                              sig_col: str = "minhash",
                              hash_family: str = "fast") -> DataFrame:
    """Signatures from a prepared ``(id, __shingles array)`` DataFrame.

    The ``num_hashes`` slot minima are one SQL expression, parsed once,
    instead of one Column per slot (each a py4j round-trip)."""
    h1, h2 = _base_hash_pair(F.col("__s"), hash_family)
    hashed = sh.select(
        F.col(id_col),
        F.explode("__shingles").alias("__s")
    ).select(
        id_col,
        h1.alias("__h1"),
        h2.alias("__h2"))
    # the mod-p reduction per slot is essential: without it the orderings
    # of h1 + i*h2 for large i all collapse to the h2 ordering and the
    # "permutations" stop being min-wise independent (banding S-curve
    # degrades to ~J instead of J^rows)
    slots = ", ".join(f"min(pmod(__h1 + {i} * __h2, {_MERSENNE31}))"
                      for i in range(num_hashes))
    return hashed.groupBy(id_col).agg(F.expr(f"array({slots})").alias(sig_col))


def minhash_lsh_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 64, bands: int = 16, shingle_size: int = 3,
                      threshold: float = 0.8, verify: bool = True,
                      hash_family: str = "fast",
                      signatures: DataFrame | None = None):
    """Near-dup detection: shingle -> MinHash -> LSH banding -> bucket join.

    Returns ``(dedup_df, pairs_df)``: ``pairs_df`` holds candidate pairs
    (``id_a < id_b``) with exact shingle-Jaccard (when ``verify``), and
    ``dedup_df`` drops every doc that near-matches a lower-id doc (greedy
    survivor rule — at 100 TB the connected-component pass is an iterative
    follow-up job over the tiny pairs table).

    ``hash_family='portable'`` switches the base shingle hashes to the
    md5 pair (:func:`_base_hash_pair`) AND the band keys from xxhash64
    to the raw slot-concatenation string — collision-free and
    reproducible in any engine with md5, so the entire candidate set
    (not just the verified survivors) is exactly auditable in e.g.
    DuckDB against the same corpus. Cost: md5 is ~2-3x xxhash64 PER
    HASH and string band keys are ~5x the bytes of a hashed long
    through the banding shuffle, but the pipeline is shingle- and
    verify-bound end-to-end, so the measured premium is single-digit
    (+7-9%, SCALING_r11.md addendum: minhash pairs 2.02 -> 2.16 s at
    sf0.1, 4.50 -> 4.92 s at sf1) — pay it when dedup DECISIONS
    must be re-derivable outside Spark (compliance audits,
    cross-engine pipeline parity); the default stays the cheap
    family.

    ``signatures``: a precomputed ``(id_col, shingles, minhash)``
    frame (the :func:`build_history_signatures` shape, keyed by
    ``id_col``) skips the shingle+minhash build entirely — the shape a
    caller that ALSO needs the batch's signatures downstream (e.g. to
    fold them into a signature state) uses to compute them once. The
    frame MUST have been built with the
    same ``num_hashes``/``shingle_size``/``hash_family`` — band keys
    and Jaccard values silently differ otherwise (the persisted-sketch
    contract of :func:`dedup_against_history`).
    """
    from caspr_spark.sources import ensure_parallelism

    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes}); trailing signature slots would be "
                         "silently ignored")
    if signatures is not None:
        _check_signature_family(signatures, hash_family)
        side = _signature_side(signatures, id_col)
    else:
        # shingle construction (the regex-heavy part) runs ONCE, at full
        # parallelism: the persisted (id, shingles) relation feeds both
        # signature generation and the exact-Jaccard verification join.
        # NOTE: for a one-shot caller the cache lives until Spark evicts
        # it (LRU); loop callers wrap the call + materialization in
        # ``caspr_spark.cache_scope()`` which unpersists on exit.
        sh_base = ensure_parallelism(df).select(
            F.col(id_col).alias("__id"),
            _shingles(text_col, shingle_size).alias("__shingles"))
        if verify:
            sh_base = register_cache(sh_base.persist())
        # The banded self-join consumes `sigs` TWICE (left and right
        # sides); without a persist each side re-runs the full signature
        # aggregate — AQE does not reuse the exchange stage across the two
        # branches (measured: the 64-min hash aggregate executed twice,
        # ~1.4x the query's warm wall at sf0.1). The signature relation is
        # ~8·num_hashes bytes + id per doc — far smaller than the already-
        # persisted shingles — and LRU-evictable, same discipline as
        # sh_base (recompute path stays correct).
        sigs = register_cache(
            _signatures_from_shingles(sh_base, "__id", num_hashes,
                                      hash_family=hash_family).persist())
        side = (sigs, sh_base)

    matches = _near_matches(side, None, True, num_hashes, bands,
                            hash_family, threshold if verify else None)
    id_a, id_b = F.col("__oid").alias("id_a"), F.col("__id").alias("id_b")
    pairs = (matches.select(id_b, id_a, "jaccard") if verify
             else matches.select(id_a, id_b))
    dedup = df.join(matches.select(F.col("__id").alias(id_col)), on=id_col,
                    how="left_anti")
    return dedup, pairs


def _band_keys(num_hashes: int, bands: int, hash_family: str):
    """The ``bands`` LSH band keys of the ``minhash`` column, as one
    array expression. ``minhash`` is a materialized attribute (an
    aggregate output or a stored column), so the slices just index an
    in-memory array — no re-hashing. fast: hash each band's slot
    concat down to 8 bytes; portable: keep the raw concat string
    (collision-free, engine-reproducible). ``posexplode``'s band index
    disambiguates across bands on both families."""
    rows = num_hashes // bands

    def key(j):
        concat = F.concat_ws(",", F.transform(
            F.slice("minhash", j * rows + 1, rows),
            lambda x: x.cast("string")))
        return F.xxhash64(concat, j) if hash_family == "fast" else concat

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), key)


def _signature_side(table: DataFrame, id_name: str):
    """A signature table (the :func:`build_history_signatures` shape,
    keyed by ``id_name``) as a :func:`_near_matches` side: one frame
    serves both the band keys and the shingles."""
    t = table.select(F.col(id_name).alias("__id"),
                     F.col("shingles").alias("__shingles"), "minhash")
    return t, t


def _near_matches(batch, history, self_join: bool, num_hashes: int,
                  bands: int, hash_family: str, threshold):
    """The one banded-join-and-verify pass behind every MinHash
    near-duplicate decision: :func:`minhash_lsh_dedup` (batch side
    only), near-mode :func:`dedup_against_history` (history side only)
    and :func:`caspr_spark.streaming.dedup_corpus_sink` (both).

    ``batch`` and ``history`` are ``(sigs, shingles)`` frame pairs
    keyed by ``__id`` — ``sigs`` holds ``minhash``, ``shingles`` holds
    ``__shingles`` (:func:`_signature_side` passes one frame as both).
    The batch's band keys join ONCE against the tagged union of the
    batch's own band keys (``__side='batch'``, when ``self_join``) and
    the history's (``__side='history'``, when given). A candidate is
    kept when its other side is history or a LOWER batch id — the
    greedy survivor rule: a doc is a loser when it verifies against
    any history doc or any lower batch id, loser or not. One
    shingle-Jaccard join against the same tagged union verifies the
    candidates. Returns ``(__id, __side, __oid, jaccard)`` rows with
    ``jaccard >= threshold``, or the unverified ``(__id, __side,
    __oid)`` candidates when ``threshold`` is None. Both sides must
    key on the same id type.

    The candidate ``distinct()`` is one extra shuffle — of the
    candidate relation, which for a mostly-unique corpus is FAR
    smaller than the banded relation. Band keys are 64-bit hashes (16
    of them cannot bit-pack into a word), so emitting each pair once
    would mean carrying a bands-element array through the banding
    shuffle on ALL N·bands rows to save a shuffle of the few candidate
    rows."""
    bk = _band_keys(num_hashes, bands, hash_family)
    sides = [(tag, pair) for tag, pair in (
        ("batch", batch if self_join else None), ("history", history))
        if pair is not None]

    def tagged(i: int, *cols):
        frames = [pair[i].select(F.lit(tag).alias("__side"),
                                 F.col("__id").alias("__oid"), *cols)
                  for tag, pair in sides]
        return reduce(DataFrame.unionByName, frames)

    left = batch[0].select("__id", F.posexplode(bk).alias("band", "band_key"))
    right = tagged(0, F.posexplode(bk).alias("band", "band_key"))
    cands = (left.join(right, on=["band", "band_key"])
                 .filter((F.col("__side") == "history")
                         | (F.col("__oid") < F.col("__id")))
                 .select("__id", "__side", "__oid").distinct())
    if threshold is None:
        return cands
    return (cands
            .join(tagged(1, F.col("__shingles").alias("__sb")),
                  on=["__side", "__oid"])
            .join(batch[1].select("__id", F.col("__shingles").alias("__sa")),
                  on="__id")
            .withColumn("jaccard",
                        F.size(F.array_intersect("__sa", "__sb")) /
                        F.size(F.array_union("__sa", "__sb")))
            .filter(F.col("jaccard") >= threshold)
            .select("__id", "__side", "__oid", "jaccard"))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50,
                         strict: bool = True) -> DataFrame:
    """Connected components of the near-dup pair graph -> (id, component).

    Iterative min-label propagation: every node adopts the smallest label
    in its neighborhood until fixpoint. Each round is one join + one
    aggregate over the (tiny relative to the corpus) pairs table, and the
    label travels one hop per round — so convergence needs up to
    graph-diameter rounds (pointer-jumping variants get O(log d); not
    needed at near-dup cluster sizes). Component id = smallest member id,
    so output is deterministic. Raises (``strict``) or warns if
    ``max_iter`` rounds did not reach the fixpoint.
    """
    import logging

    from caspr_spark.cache import checkpoint_leaf, register_cache

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst"))))
    # Leaf-checkpoint the edge table ONCE: without it every iteration's
    # join re-executes the full upstream pair producer (LSH banding /
    # winnowing self-join) — max_iter times — and re-analyzes its plan
    # inside the growing iteration lineage.
    edges, e_handle = checkpoint_leaf(edges)
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("component", F.col("id")))
    label_handle = None
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels, on=edges.dst == labels.id)
                        .groupBy("src").agg(F.min("component").alias("nmin")))
        new_labels = (labels.join(neighbor_min,
                                  on=labels.id == neighbor_min.src, how="left")
                      .select(F.col("id"),
                              F.least(F.col("component"),
                                      F.coalesce(F.col("nmin"),
                                                 F.col("component")))
                               .alias("component")))
        new_labels, new_handle = checkpoint_leaf(new_labels)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), on="id")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .count())
        labels = new_labels
        # the superseded iteration's checkpoint storage is released NOW;
        # the final one backs the returned result (cache_scope-managed,
        # ContextCleaner fallback for one-shot callers)
        if label_handle is not None:
            label_handle.unpersist()
        label_handle = new_handle
        if changed == 0:
            break
    else:
        msg = (f"connected_components did not converge in {max_iter} rounds "
               f"({changed} labels still changing); component ids may split "
               "one true component")
        if strict:
            e_handle.unpersist()
            if label_handle is not None:
                label_handle.unpersist()
            raise RuntimeError(msg)
        logging.getLogger(__name__).warning(msg)
    e_handle.unpersist()
    if label_handle is not None:
        register_cache(label_handle)
    return labels


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Keep one survivor (smallest id) per near-dup component.

    The correct follow-up to ``minhash_lsh_dedup``'s greedy rule: A~B and
    B~C collapse to one survivor even when A~C was never a candidate pair.
    """
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")) \
                 .select(F.col("id").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def dedup_keep_best(df: DataFrame, pairs: DataFrame, quality_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup components by keeping the BEST member.

    ``dedup_by_components`` keeps the smallest id — fine for
    reproducibility, wrong for curation: when a template page exists in
    ten copies you want the longest / highest-quality copy, not the one
    crawled first. This variant elects the member with the highest
    ``quality_col`` (doc-id tie-break) per component and drops the rest;
    rows in no component always survive. ``quality_col`` must be
    numeric (the desc order is encoded by negation); null qualities
    lose to any non-null one (the ``DESC NULLS LAST`` default); NaN
    qualities are unsupported (negation keeps NaN largest, inverting
    the window rule this replaced) and GUARDED in-plan for float
    types: a NaN quality raises at execution instead of silently
    electing the NaN row (same loud-error discipline as the census
    ``first_id`` type guard).

    Plan: components are computed over the pairs graph only (near-dup
    docs, a fraction of the corpus); the winner election is a
    map-side-combinable ``groupBy(component).agg(min(struct(nulls-last
    flag, -quality, id)))`` — NOT a ``row_number`` window partitioned
    by the component: a ``__rn > 1`` loser filter is a lower-bound
    rank, ineligible for Spark's WindowGroupLimit map-side partial, so
    one mega-cluster (a template page in 10⁸ copies) would funnel
    every member into a single window task, while the aggregate
    collapses each component to one row per input partition before the
    exchange. Losers come from joining the winners back on the
    component (AQE-skew-splittable, unlike a window) and survivors
    apply as a single anti join. Neither the component relation nor
    the winners carry a broadcast hint — at web scale dup clusters can
    cover half the corpus, so AQE decides.
    """
    comp = connected_components(pairs).select(
        F.col("id").alias("__cid"), "component")
    # in-plan NaN tripwire (float types only — isnan rejects other
    # types at analysis): -NaN still sorts LARGEST in the ascending
    # struct, which would silently elect the NaN-scored row; raise
    # loudly at execution instead. No-op expression for NaN-free data,
    # so default-path plans stay aggregate-only and hashes unchanged.
    quality = F.col(quality_col)
    if dict(df.dtypes).get(quality_col) in ("float", "double"):
        quality = F.when(
            F.isnan(quality),
            F.raise_error(F.lit(
                f"dedup_keep_best: NaN in quality column {quality_col!r} "
                "— NaN negates to NaN and would win every election; "
                "clean or fill qualities first"))
        ).otherwise(quality)
    scored = (df.select(F.col(id_col), quality.alias(quality_col))
                .join(comp, on=F.col(id_col) == F.col("__cid"))
                .drop("__cid"))
    # (quality DESC NULLS LAST, id ASC) encoded as an ascending struct:
    # nulls-last flag first, negated quality second, id tiebreak third
    key = F.struct(F.col(quality_col).isNull().cast("int").alias("__kn"),
                   (-F.col(quality_col)).alias("__kq"),
                   F.col(id_col).alias("__ki"))
    winners = (scored.groupBy("component")
                     .agg(F.min(key).alias("__w"))
                     .select(F.col("component").alias("__wc"),
                             F.col("__w.__ki").alias("__wid")))
    losers = (scored.join(winners, on=F.col("component") == F.col("__wc"))
                    .filter(F.col(id_col) != F.col("__wid"))
                    .select(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            out_col: str = "simhash", bits: int = 63,
            hash_family: str = "fast") -> DataFrame:
    """SimHash fingerprints as ``(id_col, out_col: bigint)`` (<= 63 bits).

    Per token hash, each bit votes +1/-1; the fingerprint sets bits with a
    positive vote sum. Hamming-close fingerprints ~ similar token bags.

    Same explode -> agg shape as ``minhash_signatures``: each token is
    hashed once and the 63 per-bit vote sums are partial aggregates —
    never a per-bit re-scan of the token array.

    ``hash_family='portable'`` hashes tokens with :func:`_md5_60`
    instead of xxhash64 — only 60 usable bits (``bits`` must be <= 60)
    but every fingerprint is byte-reproducible in any engine with md5,
    so the whole SimHash table gets a real DuckDB oracle (the fast
    family is rows-only-checkable). Same vote/threshold semantics,
    same plan shape.
    """
    from caspr_spark.sources import ensure_parallelism

    if hash_family not in ("fast", "portable"):
        raise ValueError(f"hash_family must be 'fast' or 'portable', "
                         f"got {hash_family!r}")
    if hash_family == "portable" and bits > 60:
        raise ValueError(f"portable simhash carries 60 hash bits, "
                         f"got bits={bits}")
    toks = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__t"))
    tok_hash = (F.xxhash64("__t") if hash_family == "fast"
                else _md5_60(F.col("__t")))
    hashed = toks.select(id_col, tok_hash.alias("__h"))
    # LANE-PACKED vote sums (round 16, guide §2.3 "shuffle fewer
    # bytes" / per-task work): ``(h >> b) & 0x100000001`` carries bit
    # ``b`` in the low 32-bit lane and bit ``b+32`` in the high lane,
    # so ONE long-sum accumulates two bit-counters — 32 aggregate
    # buffers instead of 63 (measured −12% warm on the headline row;
    # half the aggregation state through the shuffle too). Lanes can't
    # carry into each other below 2^32 tokens per doc, and a >4e9-token
    # doc is impossible (a Spark string caps at 2 GiB). The vote
    # threshold is applied post-aggregation via the exact integer
    # identity v_b > 0 ⟺ 2·cnt_b > n (cnt_b = tokens with bit b set,
    # n = token count), so fingerprints are bit-identical to the ±1
    # vote formulation — both hash families verified value-identical,
    # and the portable family's DuckDB twin (which recomputes the ±1
    # sums directly) still matches.
    #
    # Both wide expressions are one SQL string each (one parse instead of
    # one py4j round-trip per term): the lane sums as one array of
    # aggregates, the fingerprint as one sum of 0/2^b terms.
    lane = 0x0000000100000001
    sums = F.expr("array(" + ", ".join(
        f"sum(shiftright(__h, {b}) & {lane})"
        for b in range(min(32, bits))) + ")")
    agg = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"),
                                     sums.alias("__s"))
    cnts = [f"(__s[{b}] & {0xFFFFFFFF})" if b < 32
            else f"shiftrightunsigned(__s[{b - 32}], 32)" for b in range(bits)]
    fp = F.expr(" + ".join(
        f"CASE WHEN {cnt} * 2 > __n THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END" for b, cnt in enumerate(cnts)))
    return agg.select(id_col, fp.alias(out_col))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       sim_col: str = "simhash", max_hamming: int = 3,
                       chunks: int = 4) -> DataFrame:
    """Candidate pairs whose SimHash differs by <= ``max_hamming`` bits.

    Pigeonhole banding: split the fingerprint into ``chunks`` chunks — any
    pair within ``chunks - 1`` bit flips shares at least one exact chunk, so
    bucketing by (chunk_idx, chunk_value) finds all candidates with one
    small shuffle; exact Hamming verifies.
    """
    if max_hamming > chunks - 1:
        raise ValueError(
            f"pigeonhole banding with {chunks} chunks only guarantees recall "
            f"for max_hamming <= {chunks - 1}, got {max_hamming}; raise "
            "`chunks` (pairs differing in more bits may share no exact chunk)")
    width = 64 // chunks
    chunk_idx = F.explode(F.sequence(F.lit(0), F.lit(chunks - 1))).alias("chunk")
    # SQL expr: the python shiftright wrapper demands a literal int bit count
    chunked = df.select(id_col, sim_col, chunk_idx).withColumn(
        "chunk_val",
        F.expr(f"(`{sim_col}` >> (chunk * {width})) & {(1 << width) - 1}"))
    left = chunked.select(F.col(id_col).alias("id_a"), F.col(sim_col).alias("__h_a"),
                          "chunk", "chunk_val")
    right = chunked.select(F.col(id_col).alias("id_b"), F.col(sim_col).alias("__h_b"),
                           "chunk", "chunk_val")
    return (left.join(right, on=["chunk", "chunk_val"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "__h_a", "__h_b").distinct()
                .withColumn("hamming", F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b"))))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle_size: int = 3, threshold: float = 0.5) -> DataFrame:
    """All pairs sharing >= 1 shingle, with exact Jaccard >= ``threshold``.

    Shared-shingle self-join — exact but quadratic in bucket size; use
    ``minhash_lsh_dedup`` as the scale path for the same semantics.
    """
    from caspr_spark.sources import ensure_parallelism

    sh = ensure_parallelism(df).select(
        F.col(id_col), _shingles(text_col, shingle_size).alias("__sh"))
    exploded = sh.select(id_col, F.explode("__sh").alias("shingle"))
    cand = (exploded.alias("a").join(exploded.alias("b"), on="shingle")
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b")).distinct())
    return (cand
            .join(sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")), "id_b")
            .withColumn("jaccard", F.size(F.array_intersect("__sh_a", "__sh_b")) /
                                   F.size(F.array_union("__sh_a", "__sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 4,
                        window: int = 5,
                        fp_col: str = "fingerprint") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003).

    The MOSS local fingerprinting scheme: hash every word ``k``-gram,
    slide a ``window`` over consecutive gram hashes, keep each window's
    minimum — guaranteeing any shared substring of
    ``window + k - 1`` tokens yields at least one shared fingerprint
    (the detection floor), while storing only ~2/(window+1) of all gram
    hashes. Hashes are md5 hex strings, min is lexicographic — identical
    on any engine, so the output certifies against a SQL oracle. (The
    paper breaks min ties at the rightmost position to minimize
    fingerprint density; here ties are broken by the hash alone — md5
    ties require identical grams, which select the same fingerprint
    either way.)

    Output grain: DISTINCT (doc, fingerprint) — the per-doc fingerprint
    set. One window per doc (a single hash exchange on the doc id);
    short docs (< k tokens) hash their whole token list as one gram.
    """
    from pyspark.sql import Window as W

    from caspr_spark.sources import ensure_parallelism

    # ordered, NON-distinct gram sequence (unlike _shingles: winnowing is
    # positional — repeated grams occupy their own windows)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n_toks = F.size(toks)
    gram_seq = F.when(
        n_toks >= k,
        F.transform(F.sequence(F.lit(1), n_toks - F.lit(k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    grams = ensure_parallelism(df).select(
        F.col(id_col), F.posexplode(gram_seq).alias("__pos", "__g"))
    h = grams.withColumn("__h", F.md5(F.col("__g")))
    full = W.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    n = W.partitionBy(id_col)
    return (h.withColumn("__wmin", F.min("__h").over(full))
             .withColumn("__n", F.count(F.lit(1)).over(n))
             # only full windows select: starts 0 .. n-window (all of them
             # when the doc has fewer grams than the window)
             .filter((F.col("__pos") <= F.col("__n") - window)
                     | (F.col("__pos") == 0))
             .select(id_col, F.col("__wmin").alias(fp_col))
             .distinct())


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8,
                     min_count: int = 2) -> DataFrame:
    """Per-document SUBSTRING-duplication statistics — the exact-
    substring-dedup measurement of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), at word-``n``-gram
    resolution: a position is duplicated when its ``n``-gram occurs
    ``min_count``+ times in the corpus (within-doc repeats count — a
    doc repeating its own boilerplate is self-duplication, as in the
    suffix-array formulation).

    Every doc-level dedup here (exact/minhash/simhash) misses partial
    overlap — two long docs sharing one boilerplate paragraph. This
    returns, per doc: ``n_tokens``, ``n_grams``, ``n_dup_grams``,
    ``dup_tokens`` (EXACT union size of the covered token intervals —
    overlapping [p, p+n-1] spans are interval-merged, not
    double-counted), ``dup_fraction`` and ``max_dup_run`` (longest
    merged duplicated token run — the "drop docs with a 50+-token
    duplicated span" knob). Docs shorter than ``n`` tokens have no
    grams and report zeros.

    Plan shape: positional grams (codegen sequence/slice, one
    posexplode), the corpus-wide gram-hash count AGGREGATED BEFORE the
    join (the relation that moves is (hash, count)-distinct, never
    text), a shuffle semi-join of 32-byte hashes back to positions,
    then doc-keyed windows: an interval-merge prefix max for the exact
    union and the gap-flag prefix sum for runs — every window
    partitioned by the doc id. At 100 TB the gram-count aggregation is
    the honest cost (it IS the global duplication census); raise ``n``
    / ``min_count`` or pre-filter with :func:`winnow_fingerprints`
    when even that shuffle is unwanted. md5 gram hashes keep the whole
    statistic engine-portable (full SQL oracle). ``df`` may be a
    precomputed :func:`gram_table` (pipelines running several span
    operators amortize the tokenize+md5 scan that way) — results are
    bit-identical. NULL-text rows pass through deterministically with
    NULL ``n_tokens``/``dup_fraction`` and zero counts (the trim twin
    emits an empty ``trimmed_text``); drop or fill them first if the
    downstream consumer can't take NULLs — unlike :func:`exact_dedup`,
    nothing is silently removed here.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base, grams = _positional_grams(df, id_col, text_col, n)
    dup = (grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") >= min_count).select("__h"))
    return _census_stats(base, grams, dup, id_col, n)


def _census_stats(base, grams, dup, id_col: str, n: int) -> DataFrame:
    """Shared tail of the census operators: restrict the positional
    grams to the duplicated hash set, interval-union per doc, and emit
    the per-doc statistics row (zeros for untouched docs) — ONE
    definition so the incremental operator can never silently diverge
    from the full-corpus one it is pinned row-identical with."""
    hits = grams.join(dup, on="__h", how="left_semi").select(id_col, "__pos")
    per = _covered_stats(hits, id_col, n,
                         "dup_tokens", "max_dup_run", "n_dup_grams")
    return (base.drop("__t").join(per, on=id_col, how="left")
            .na.fill({"dup_tokens": 0, "max_dup_run": 0, "n_dup_grams": 0})
            .withColumn("dup_fraction",
                        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6)))


def build_gram_census(history: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 8,
                      track_first: bool = False) -> DataFrame:
    """The persistable SUBSTRING-census state for the daily-crawl loop:
    ``(gram_hash, cnt, gram_n)`` — corpus-wide word-``n``-gram
    occurrence counts, one row per distinct gram hash. The span twin of
    :func:`build_history_keys`: re-running :func:`duplicated_spans`
    over 100 TB of history for every new ingest batch re-pays the
    global census scan; this table IS that census, written once and
    folded forward batch-by-batch (:func:`append_gram_census`).
    Hash-only (32-hex md5 + a count), so the state is gram-cardinality
    but text-free — orders of magnitude smaller than the corpus.
    Persist with :func:`save_history_keys` / reload with
    :func:`load_history_keys` (generic parquet state I/O). ``gram_n``
    rides as data so a census built at one width can never silently
    feed an operator expecting another (same in-plan guard as
    :func:`gram_table`). ``history`` may itself be a
    :func:`gram_table`.

    ``track_first=True`` additionally records each gram's first
    occurrence — ``(first_id, first_pos)``, the ``min(struct(id,
    pos))`` election :func:`trim_duplicated_spans` uses — which
    :func:`trim_duplicated_spans_incremental` needs for keep-first
    arbitration across history+batch. The census query stats are
    unchanged; the two extra columns are per-distinct-gram, so the
    state stays hash-cardinality."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    _, grams = _positional_grams(history, id_col, text_col, n)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if track_first:
        aggs.append(F.min(F.struct(
            F.col(id_col).alias("first_id"),
            F.col("__pos").alias("first_pos"))).alias("__f"))
    out = grams.groupBy(F.col("__h").alias("gram_hash")).agg(*aggs)
    if track_first:
        out = out.select("gram_hash", "cnt", "__f.*")
    return out.withColumn("gram_n", F.lit(n).cast("int"))


def append_gram_census(census: DataFrame, batch: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 8) -> DataFrame:
    """Fold an ingested batch's gram counts into the census — a pure
    sum per hash, so the fold is associative and commutative: any batch
    order (or a tree of partial censuses) reaches the same state as one
    full-corpus :func:`build_gram_census`. Write the result to a NEW
    path and swap atomically (same caveat as
    :func:`append_history_keys`). A first-occurrence-tracking census
    (``track_first=True`` at build) folds its ``(first_id, first_pos)``
    the same way — ``min(struct)`` is associative too — and the batch
    side is built tracking to match."""
    track_first = "first_id" in census.columns
    new = build_gram_census(batch, id_col, text_col, n,
                            track_first=track_first)
    return merge_gram_censuses([census, new], n)


def merge_gram_censuses(censuses: list, n: int):
    """Merge ALREADY-BUILT census frames — the tree/LSM half of the
    associative fold: counts sum per hash, first-occurrences take the
    ``min(struct)``, every input's ``gram_n`` verified in-plan against
    ``n``. Because the fold is associative and commutative, merging K
    partial censuses in any grouping reaches the same state as one
    full-corpus :func:`build_gram_census` — which is what lets census
    state be maintained LSM-style (per-batch delta frames compacted
    periodically, see :func:`caspr_spark.streaming.gram_census_sink`
    ``layout='delta'``) and lets a 100 TB corpus build its census as a
    tree of per-shard partials. All inputs must agree on
    first-occurrence tracking (``first_id`` in all or in none)."""
    if not censuses:
        raise ValueError("merge_gram_censuses needs at least one census")
    tracks = {"first_id" in c.columns for c in censuses}
    if len(tracks) > 1:
        raise ValueError(
            "cannot merge tracking and non-tracking censuses — rebuild "
            "the state with a consistent track_first setting")
    track_first = tracks.pop()
    cols = ["gram_hash", "cnt"] + (
        ["first_id", "first_pos"] if track_first else [])
    u = None
    for c in censuses:
        c = _check_gram_n(c, n).select(*cols)
        u = c if u is None else u.unionByName(c)
    aggs = [F.sum("cnt").alias("cnt")]
    if track_first:
        aggs.append(F.min(F.struct(
            F.col("first_id"), F.col("first_pos"))).alias("__f"))
    out = u.groupBy("gram_hash").agg(*aggs)
    if track_first:
        out = out.select("gram_hash", "cnt", "__f.*")
    return out.withColumn("gram_n", F.lit(n).cast("int"))


def duplicated_spans_incremental(batch: DataFrame, census: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text", n: int = 8,
                                 min_count: int = 2) -> DataFrame:
    """:func:`duplicated_spans` for ONE ingest batch against a
    persisted history census — without rescanning history. A batch
    position is duplicated when its gram's TOTAL count (history census
    + this batch's own occurrences) reaches ``min_count``, so the
    result is row-identical to running the full-corpus census over
    ``history ∪ batch`` and keeping the batch's rows (the invariant the
    oracle and property tests pin). Same output schema as
    :func:`duplicated_spans`.

    Plan shape: the batch pays its own positional explode and gram
    aggregation (batch-sized); the census joins in as ``(hash, cnt)``
    rows on the 32-byte hash — history text never moves, and the join
    output is pruned to the batch's distinct grams before the
    position-level semi-join. The census width is verified in-plan
    (``gram_n``). ``batch`` may be a precomputed :func:`gram_table`.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    base, grams = _positional_grams(batch, id_col, text_col, n)
    hist = _check_gram_n(census, n).select(
        F.col("gram_hash").alias("__h"), F.col("cnt").alias("__hc"))
    dup = (grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__bc"))
                .join(hist, on="__h", how="left")
                .filter(F.col("__bc") + F.coalesce(F.col("__hc"), F.lit(0))
                        >= min_count)
                .select("__h"))
    return _census_stats(base, grams, dup, id_col, n)


def trim_duplicated_spans_incremental(batch: DataFrame, census: DataFrame,
                                      id_col: str = "doc_id",
                                      text_col: str = "text", n: int = 8,
                                      min_count: int = 2,
                                      out_col: str = "trimmed_text"
                                      ) -> DataFrame:
    """:func:`trim_duplicated_spans` for ONE ingest batch against a
    persisted first-occurrence-tracking census (``build_gram_census(...,
    track_first=True)``) — the destructive half of the incremental
    substring dedup, without rescanning history text.

    A batch position is removed when its gram's TOTAL count (history +
    batch) reaches ``min_count`` AND the position is not the gram's
    corpus-wide first occurrence — the first being the ``min`` of the
    census's recorded ``(first_id, first_pos)`` and the batch's own
    earliest occurrence, the same ``min(struct(id, pos))`` arbitration
    as the full-corpus operator. For the batch's rows the output is
    row-identical to running :func:`trim_duplicated_spans` over
    ``history ∪ batch`` and keeping the batch (the oracle invariant;
    holds for ANY id interleaving because only batch rows are emitted).
    The one semantic difference from a full re-run is inherent to
    incrementality: already-shipped HISTORY docs are never retroactively
    trimmed when a batch doc with a smaller id becomes a gram's first
    occurrence. Same output schema as :func:`trim_duplicated_spans`;
    ``batch`` may be a :func:`gram_table`. The census's ``first_id``
    must be comparable with the batch's ``id_col`` type.

    Plan shape: batch-sized explode + ONE hash-keyed aggregate (count +
    min-struct, map-side-combinable), the census joined in as hash rows
    (history text never moves), then the shared touched-docs-only
    rebuild tail."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if "first_id" not in census.columns:
        raise ValueError(
            "trim_duplicated_spans_incremental needs a first-occurrence-"
            "tracking census — build it with build_gram_census(..., "
            "track_first=True)")
    # the least(struct) arbitration compares the census's first_id
    # against the batch's id column; a type mismatch would otherwise
    # surface only at execution (or as a silent implicit cast) — fail
    # up front with the actual types (round-11 ADVICE fix)
    c_t = census.schema["first_id"].dataType
    b_t = batch.schema[id_col].dataType
    if c_t != b_t:
        raise ValueError(
            f"census first_id type {c_t.simpleString()} does not match "
            f"batch {id_col!r} type {b_t.simpleString()} — the keep-first "
            "least(struct) arbitration needs identical id types; rebuild "
            "the census from the same id domain (or cast the batch id).")
    base, grams = _positional_grams(batch, id_col, text_col, n)
    occ = F.struct(F.col(id_col).alias("__fi"), F.col("__pos").alias("__fp"))
    batch_agg = grams.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__bc"), F.min(occ).alias("__bfirst"))
    hist = _check_gram_n(census, n).select(
        F.col("gram_hash").alias("__h"), F.col("cnt").alias("__hc"),
        F.struct(F.col("first_id").alias("__fi"),
                 F.col("first_pos").alias("__fp")).alias("__hfirst"))
    # least() skips nulls, so a gram absent from history elects the
    # batch's own earliest occurrence; struct order is lexicographic on
    # (id, pos) with matching field names on every side
    dup_first = (batch_agg.join(hist, on="__h", how="left")
                 .filter(F.col("__bc") + F.coalesce(F.col("__hc"), F.lit(0))
                         >= min_count)
                 .select("__h", F.least(F.col("__bfirst"),
                                        F.col("__hfirst")).alias("__first")))
    rm = (grams.join(dup_first, on="__h")
          .filter(occ != F.col("__first"))
          .select(id_col, "__pos"))
    return _trim_rebuild(base, rm, id_col, n, out_col)


def gram_table(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 8) -> DataFrame:
    """SHARED positional-gram featurization for the span family — one
    row per document: ``(id, __t, n_tokens, n_grams, __hs, gram_n)``,
    where ``__t`` is the token array and ``__hs[i]`` the md5 of the
    word ``n``-gram starting at 0-based token position ``i`` (empty for
    docs shorter than ``n`` tokens; position stays implicit in the
    array index, so the relation is doc-cardinality, not
    gram-cardinality).

    A curation pipeline running several of :func:`duplicated_spans`,
    :func:`trim_duplicated_spans`, :func:`contamination_fraction`, and
    :func:`~caspr_spark.llm.filtering.decontaminate` over the same
    corpus otherwise pays the tokenize+md5 scan once PER OPERATOR (the
    dominant map-side cost — measured: one featurization is ~40% of a
    single span query). Build this once (persist it, or
    :func:`write_gram_table` it to parquet) and pass it to each
    operator IN PLACE of the raw corpus — they detect the ``__hs``
    column and skip re-featurizing; results are bit-identical to the
    direct path (oracle-equal, certified). ``gram_n`` pins the gram
    width: every consumer verifies it against its own ``n`` inside the
    plan (``assert_true`` in a filter — zero extra jobs) so a table
    built at one width can never silently feed an operator expecting
    another.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from caspr_spark.llm.filtering import _word_ngrams, _words

    words = _words(F.col(text_col))
    base = (df.select(F.col(id_col), words.alias("__t"))
              .select(id_col, "__t",
                      F.size("__t").cast("long").alias("n_tokens"),
                      F.when(F.size("__t") >= n, F.size("__t") - (n - 1))
                       .otherwise(F.lit(0)).cast("long").alias("n_grams")))
    return (base.withColumn(
                "__hs", F.transform(_word_ngrams(F.col("__t"), n), F.md5))
                .withColumn("gram_n", F.lit(n).cast("int")))


def write_gram_table(df: DataFrame, path: str, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8,
                     mode: str = "error") -> None:
    """Materialize :func:`gram_table` to parquet — the handover form
    when the featurization feeds operators across jobs/sessions (read
    back with ``spark.read.parquet(path)`` and pass to any span
    operator). Parquet keeps ``gram_n`` as data, so the in-plan width
    check survives the round-trip."""
    gram_table(df, id_col, text_col, n).write.mode(mode).parquet(path)


def _check_gram_n(table: DataFrame, n: int) -> DataFrame:
    """In-plan width guard for :func:`gram_table` consumers: a filter
    wrapping ``assert_true(gram_n == n)`` — always-true for row flow
    (``coalesce`` of assert_true's NULL), raising with a clear message
    at execution when the table's gram width doesn't match the
    operator's ``n``. A filter predicate cannot be pruned by the
    optimizer the way an unused projected column can, and it costs no
    extra job."""
    return table.filter(F.coalesce(
        F.assert_true(
            F.col("gram_n") == n,
            F.concat(F.lit("gram_table built with n="),
                     F.col("gram_n").cast("string"),
                     F.lit(f", operator expects n={n}"))),
        F.lit(True)))


_GRAM_TABLE_COLS = ("__t", "n_tokens", "n_grams", "__hs", "gram_n")


def _is_gram_table(df: DataFrame, id_col: str) -> bool:
    """True iff ``df`` is a :func:`gram_table` featurization. Detection
    keys on the reserved ``__hs`` column, but a PARTIAL match — a user
    corpus that coincidentally carries ``__hs`` without the rest of the
    gram_table schema — raises instead of being silently consumed as
    featurized (round-11 ADVICE fix)."""
    if "__hs" not in df.columns:
        return False
    missing = [c for c in (id_col, *_GRAM_TABLE_COLS)
               if c not in df.columns]
    if missing:
        raise ValueError(
            "input carries the reserved gram_table column '__hs' but is "
            f"missing {missing} — not a gram_table(id_col={id_col!r}). "
            "Rename the column, or pass the full gram_table "
            "featurization.")
    return True


def _positional_grams(df: DataFrame, id_col: str, text_col: str, n: int):
    """``(base, grams)`` for the span operators: ``base`` carries the
    token array plus counts, ``grams`` one (id, pos, md5) row per word
    ``n``-gram position (the gram definition is
    ``filtering._word_ngrams`` — the one the decontamination operators
    hash too, so the span family and the binary decontaminate agree by
    construction; the posexplode is the one row-multiplying step).

    When ``df`` is already a :func:`gram_table` (detected by its
    reserved ``__hs`` column, full schema validated —
    :func:`_is_gram_table`), the tokenize+md5 scan is skipped and
    both relations derive from the table; the table's ``gram_n`` is
    checked against ``n`` inside the plan."""
    if _is_gram_table(df, id_col):
        checked = _check_gram_n(df, n)
        base = checked.select(id_col, "__t", "n_tokens", "n_grams")
        grams = (checked.filter(F.col("n_grams") > 0)
                        .select(id_col, F.posexplode("__hs")
                                .alias("__pos", "__h")))
        return base, grams
    from caspr_spark.llm.filtering import _word_ngrams, _words

    words = _words(F.col(text_col))
    base = (df.select(F.col(id_col), words.alias("__t"))
              .select(id_col, "__t",
                      F.size("__t").cast("long").alias("n_tokens"),
                      F.when(F.size("__t") >= n, F.size("__t") - (n - 1))
                       .otherwise(F.lit(0)).cast("long").alias("n_grams")))
    gram_seq = F.transform(_word_ngrams(F.col("__t"), n), F.md5)
    grams = (base.filter(F.col("n_grams") > 0)
                 .select(id_col, F.posexplode(gram_seq)
                         .alias("__pos", "__h")))
    return base, grams


def _merge_islands(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Union-merge (id, __pos) hit rows, each covering
    ``[pos, pos+n-1]``, into disjoint intervals: one row per
    ``(id, __island)`` with bounds ``__s``/``__e`` and the hit count
    ``__cnt``. Touching intervals merge (a run of covered tokens is
    maximal-consecutive). Every window is doc-keyed — the single shared
    implementation behind the census, the contamination fraction, and
    the destructive trim."""
    from pyspark.sql import Window as W

    end = F.col("__pos") + (n - 1)
    w_prev = (W.partitionBy(id_col).orderBy("__pos")
               .rowsBetween(W.unboundedPreceding, -1))
    m = hits.withColumn("__pme", F.max(end).over(w_prev))
    # a new island starts when this span leaves a >=1-token gap after
    # the running coverage (touching spans merge)
    is_new = F.when(F.col("__pme").isNull()
                    | (F.col("__pos") > F.col("__pme") + 1),
                    F.lit(1)).otherwise(F.lit(0))
    w_run = (W.partitionBy(id_col).orderBy("__pos")
              .rowsBetween(W.unboundedPreceding, 0))
    return (m.withColumn("__island", F.sum(is_new).over(w_run))
             .groupBy(id_col, "__island")
             .agg(F.min("__pos").alias("__s"), F.max(end).alias("__e"),
                  F.count(F.lit(1)).alias("__cnt")))


def _covered_stats(hits: DataFrame, id_col: str, n: int,
                   tokens_col: str, run_col: str,
                   count_col: str) -> DataFrame:
    """Per-doc interval-union statistics over (id, __pos) hit rows:
    exact covered-token count (disjoint island lengths sum — overlaps
    merged, never double-counted), longest merged run, and hit count."""
    isl = _merge_islands(hits, id_col, n)
    length = F.col("__e") - F.col("__s") + 1
    return isl.groupBy(id_col).agg(
        F.sum(length).cast("long").alias(tokens_col),
        F.max(length).cast("long").alias(run_col),
        F.sum("__cnt").cast("long").alias(count_col))


def contamination_fraction(train: DataFrame, benchmark: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           n: int = 8,
                           broadcast_limit: int | None =
                           BROADCAST_GRAM_LIMIT) -> DataFrame:
    """Per-document benchmark contamination as a token FRACTION — the
    soft companion to :func:`decontaminate`'s binary any-shared-n-gram
    drop (the PaLM-style thresholded variant: drop or down-weight docs
    above a contamination fraction instead of on a single match).

    A train position is contaminated when its word ``n``-gram appears
    anywhere in the benchmark; covered ``[pos, pos+n-1]`` intervals are
    union-merged per doc (same exact machinery as
    :func:`duplicated_spans`). Returns per train doc: ``n_tokens``,
    ``n_grams``, ``contam_grams``, ``contam_tokens``,
    ``contam_fraction``, ``max_contam_run``.

    Scale shape: the benchmark collapses to its DISTINCT gram-hash set
    (eval-sized, broadcast); the train corpus pays one positional
    explode and a map-side semi-join of 32-byte hashes, then doc-keyed
    windows — nothing corpus-sized shuffles except the per-doc
    interval merge, which is keyed on the doc id. The broadcast hint is
    size-guarded (``broadcast_limit`` distinct grams, default
    :data:`BROADCAST_GRAM_LIMIT`): a benchmark that is not actually
    eval-sized degrades to an AQE-planned shuffle semi-join instead of
    a driver OOM. **Side effect**: the active guard makes CALLING this
    function eager — the benchmark gram set is persisted and counted
    immediately (one eval-sized job before any action on the result)
    and stays cached until a surrounding
    :func:`~caspr_spark.cache.cache_scope` exits; construct inside one,
    or pass ``broadcast_limit=None`` for the side-effect-free
    unconditional hint. Either side may be a precomputed
    :func:`gram_table` (bit-identical results).
    """
    base, grams = _positional_grams(train, id_col, text_col, n)
    _, bgrams = _positional_grams(benchmark, id_col, text_col, n)
    bench = _maybe_broadcast_gram_set(bgrams.select("__h").distinct(),
                                      broadcast_limit)
    hits = grams.join(bench, on="__h", how="left_semi") \
                .select(id_col, "__pos")
    per = _covered_stats(hits, id_col, n,
                         "contam_tokens", "max_contam_run", "contam_grams")
    return (base.drop("__t").join(per, on=id_col, how="left")
            .na.fill({"contam_tokens": 0, "max_contam_run": 0,
                      "contam_grams": 0})
            .withColumn("contam_fraction",
                        F.round(F.col("contam_tokens")
                                / F.col("n_tokens"), 6)))


def trim_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 8,
                          min_count: int = 2,
                          out_col: str = "trimmed_text") -> DataFrame:
    """REMOVE duplicated substrings, keeping the corpus-wide first
    occurrence — the destructive half of Lee et al. 2021's exact
    substring dedup (:func:`duplicated_spans` is the measuring half).

    A position whose word ``n``-gram occurs ``min_count``+ times is a
    duplication hit; for each gram hash the FIRST occurrence in
    ``(id, pos)`` order keeps its span, every later occurrence marks
    its ``[pos, pos+n-1]`` token interval for removal (the standard
    token-level approximation: a later hit overlapping a kept span is
    still removed). Removal intervals are union-merged per doc; the
    trimmed text is the surviving tokens re-joined by single spaces
    (whitespace-normalized, as all the text operators here are).

    Returns ``(id, n_tokens, n_removed, out_col)`` for EVERY input doc
    (untouched docs pass through with ``n_removed = 0``; a fully-
    duplicated doc trims to the empty string). First-occurrence
    arbitration is ``min(struct(id, pos))`` per gram hash — struct
    comparison is lexicographic on ``(id, pos)``, so it is exact for
    any orderable id type (integer key arithmetic like ``id·2³²+pos``
    would overflow for 64-bit ids) and portable to the SQL oracle
    (``min(row(id, pos))`` / ``arg_min``).

    Plan shape: ONE hash-keyed aggregate does both the census count
    and the first-occurrence election — ``groupBy(hash).agg(count,
    min(struct(id, pos)))`` — joined back to the gram positions
    broadcast-free. The aggregate partial-aggregates map-side (a
    boilerplate gram occurring 10⁸ times collapses to one row per
    input partition before the exchange) and the join-back can be
    AQE-skew-split, unlike the ``row_number``-window form this
    replaced, which funneled every occurrence of a hot gram into a
    single window task. Only docs WITH removals pay the token-level
    rebuild (posexplode + anti-join on removed positions + one
    doc-keyed ordered re-agg) — at production duplication rates (a few
    % of docs) the rebuild relation is a small fraction of the corpus,
    and untouched docs take a left-anti passthrough. ``df`` may be a
    precomputed :func:`gram_table` (bit-identical results).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base, grams = _positional_grams(df, id_col, text_col, n)
    # keep-first election as a map-side-combinable aggregate, NOT a
    # row_number window over partitionBy(__h): windows cannot partial-
    # aggregate, so one hyper-frequent gram would put ALL its
    # occurrences in one task; min(struct) combines to one row per
    # partition per hash before anything shuffles. Field aliases on
    # both struct sides must match — struct equality in Spark compares
    # the full StructType, names included.
    occ = F.struct(F.col(id_col).alias("__fi"), F.col("__pos").alias("__fp"))
    dup_first = (grams.groupBy("__h")
                 .agg(F.count(F.lit(1)).alias("__c"),
                      F.min(occ).alias("__first"))
                 .filter(F.col("__c") >= min_count)
                 .select("__h", "__first"))
    rm = (grams.join(dup_first, on="__h")
          .filter(occ != F.col("__first"))
          .select(id_col, "__pos"))
    return _trim_rebuild(base, rm, id_col, n, out_col)


def _trim_rebuild(base: DataFrame, rm: DataFrame, id_col: str, n: int,
                  out_col: str) -> DataFrame:
    """Shared tail of the trim operators: union-merge the removal hit
    positions ``rm`` (id, __pos) into token intervals, rebuild only the
    touched docs, pass untouched docs through with ``n_removed = 0``."""
    # union-merge removal intervals per doc, then explode to positions
    isl = _merge_islands(rm, id_col, n)
    # removed is consumed THREE times (passthrough ids, stats, the
    # rebuild anti-join); it is bounded by the removed-token count —
    # tiny next to the corpus — so pinning it collapses three
    # re-executions of the whole census chain (explode + count agg +
    # windows) into one
    removed = register_cache(isl.select(
        id_col, F.explode(F.sequence(F.col("__s"), F.col("__e")))
                 .alias("__tpos")).persist())

    # the passthrough/rebuild joins are SELF-joins (both sides descend
    # from `base`); renaming the right-side keys keeps the two doc_id
    # attributes distinct so the analyzer can never collapse them under
    # plan reordering — the documented escape hatch for the ambiguous-
    # self-join hazard class
    touched_ids = removed.select(F.col(id_col).alias("__tid")).distinct()
    touched = (base.join(touched_ids,
                         F.col(id_col) == F.col("__tid"), "left_semi"))
    tokens = touched.select(id_col, F.posexplode("__t")
                            .alias("__tpos", "__tok"))
    rm_pos = removed.select(F.col(id_col).alias("__rid"),
                            F.col("__tpos").alias("__rpos"))
    kept = tokens.join(
        rm_pos, (F.col(id_col) == F.col("__rid"))
                & (F.col("__tpos") == F.col("__rpos")), "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.concat_ws(" ", F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("__tpos", "__tok"))),
                    lambda s: s["__tok"])).alias(out_col)))
    stats = removed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"))
    trimmed = (touched.select(id_col, "n_tokens")
               .join(stats, on=id_col)
               # a fully-removed doc has no kept tokens: empty string
               .join(rebuilt, on=id_col, how="left")
               .na.fill({out_col: ""}))
    untouched = (base.join(touched_ids,
                           F.col(id_col) == F.col("__tid"), "left_anti")
                 .select(id_col, "n_tokens",
                         F.lit(0).cast("long").alias("n_removed"),
                         F.concat_ws(" ", F.col("__t")).alias(out_col)))
    return trimmed.unionByName(untouched)


def winnow_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 4, window: int = 5,
                 min_shared: int = 2, max_df: int | None = 1000) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints.

    The plagiarism/boilerplate detector over the fingerprint index:
    self-join on the fingerprint, count matches per pair. Fingerprints
    present in more than ``max_df`` documents are dropped before the join
    — they are corpus boilerplate, and at web scale a single hot
    fingerprint would otherwise fan out quadratically (same hot-key
    discipline as ``decontaminate``'s df cap).
    """
    # persisted: the fingerprint relation (tokenize -> gram explode ->
    # two windows -> distinct, the dominant cost) feeds the df cap and
    # BOTH self-join sides — same multi-consumer contract as the
    # persisted shingles above / tfidf weights in search.py
    fps = register_cache(
        winnow_fingerprints(df, id_col, text_col, k, window).persist())
    if max_df is not None:
        rare = (fps.groupBy("fingerprint")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_df).select("fingerprint"))
        fps = fps.join(rare, on="fingerprint")
    pairs = (fps.alias("a").join(fps.alias("b"), on="fingerprint")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def dedup_against_history(batch: DataFrame, history: DataFrame | None,
                          id_col: str = "doc_id", text_col: str = "text",
                          mode: str = "exact", normalize: bool = True,
                          num_hashes: int = 64, bands: int = 16,
                          shingle_size: int = 3,
                          threshold: float = 0.8,
                          history_keys: DataFrame | None = None,
                          history_signatures: DataFrame | None = None,
                          hash_family: str = "fast",
                          batch_signatures: DataFrame | None = None):
    """INCREMENTAL dedup: drop ``batch`` docs already present in the
    ``history`` corpus — the continuous-pipeline variant of this module
    (a daily crawl lands against a 100 TB corpus; re-deduplicating
    history x history every day is exactly what must NOT happen).

    ``mode='exact'``: normalized content-hash anti-join. History
    contributes one 16-byte key per doc (dedupe-then-join, so the join
    input is the distinct key set, not the corpus), batch drops on a
    left anti join. At scale, pass ``history_keys`` — the persisted key
    table from :func:`build_history_keys` /
    :func:`load_history_keys` — instead of ``history``, and the raw
    history text is NEVER rescanned; after accepting a batch, fold its
    keys in with :func:`append_history_keys` and save.

    ``mode='near'``: MinHash banding on BOTH sides, candidates from the
    batch-vs-history bucket join ONLY (history never self-joins —
    that's the incremental saving), exact shingle-Jaccard verification
    on candidates, drop batch docs with any history match >=
    ``threshold``. Pass ``history_signatures`` (from
    :func:`build_history_signatures`) to skip re-shingling history:
    band keys are recomputed map-side from the stored ``minhash``
    column and verification reads the stored ``shingles``. The stored
    signature length must equal ``num_hashes`` and the shingle size
    must match what the table was built with — band keys and Jaccard
    values silently differ otherwise (same contract as any persisted
    sketch).

    ``hash_family`` (near mode): ``'fast'`` (default) keeps the
    xxhash64 base hashes and hashed band keys; ``'portable'`` switches
    both sides to the md5-60-bit family and raw slot-concat band keys
    (:func:`_base_hash_pair` / the one-shot
    :func:`minhash_lsh_dedup` contract), making every incremental
    dedup DECISION — candidates, Jaccard, drops — re-derivable outside
    Spark, at the same single-digit premium measured for the one-shot
    path. The family must match what a passed ``history_signatures``
    table was built with: tables written by
    :func:`build_history_signatures` carry a stamped ``hash_family``
    column and a mismatch RAISES up front (a schema read — signatures
    from different families silently share no band keys, which would
    report "no duplicates" forever). Tables from
    before this column existed are accepted as ``'fast'`` only.

    Exactly one of ``history`` / the mode's state table must be given.
    Returns ``(kept_batch, matches)`` — ``matches`` is
    ``(id_col, history_id[, jaccard])`` for audit/lineage.

    ``batch_signatures`` (near mode): a precomputed ``(id_col,
    shingles, minhash)`` frame for the BATCH side (the
    :func:`build_history_signatures` shape keyed by ``id_col``) skips
    re-shingling the batch — for a caller that already built the
    batch's signatures (e.g. for batch-internal dedup) and would
    otherwise pay the shingle+minhash pass twice. Same
    ``num_hashes``/``shingle_size``/``hash_family`` contract as
    ``history_signatures``; the ``matches`` relation covers every id
    in the frame, so pass it restricted to the rows of ``batch``.
    """
    if mode not in ("exact", "near"):
        raise ValueError(f"mode must be 'exact' or 'near', got {mode!r}")
    if mode == "exact" and batch_signatures is not None:
        raise ValueError("batch_signatures is a near-mode input; exact "
                         "mode keys the batch by content hash")
    if mode == "exact" and history_signatures is not None:
        raise ValueError("history_signatures is the near-mode state; "
                         "exact mode takes history_keys")
    if mode == "near" and history_keys is not None:
        raise ValueError("history_keys is the exact-mode state; "
                         "near mode takes history_signatures")
    state = history_keys if mode == "exact" else history_signatures
    if (history is None) == (state is None):
        which = "history_keys" if mode == "exact" else "history_signatures"
        raise ValueError(f"pass exactly one of history or {which} "
                         f"(got history={'set' if history is not None else None}, "
                         f"{which}={'set' if state is not None else None})")
    if mode == "exact":
        # NULL-text contract: a null text has no content key, so null-text
        # batch rows are ALWAYS KEPT (left_anti never matches a null key)
        # and null-text history rows contribute no key. A SQL oracle must
        # use NOT EXISTS / an anti join — NOT IN returns NULL for a null
        # probe and would silently drop the row instead.
        key = _content_key(text_col, normalize)
        if history_keys is not None:
            hkeys = history_keys.select(F.col("content_key").alias("__k"),
                                        "history_id")
        else:
            hkeys = (history.select(key.alias("__k"),
                                    F.col(id_col).alias("history_id"))
                     .filter(F.col("__k").isNotNull())
                     .groupBy("__k").agg(F.min("history_id")
                                         .alias("history_id")))
        b = batch.select(F.col(id_col), key.alias("__k"))
        matches = b.join(hkeys, on="__k").select(id_col, "history_id")
        kept = (batch.withColumn("__k", key)
                     .join(hkeys.select("__k"), on="__k", how="left_anti")
                     .drop("__k"))
        return kept, matches

    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes})")
    if hash_family not in ("fast", "portable"):
        raise ValueError(f"hash_family must be 'fast' or 'portable', "
                         f"got {hash_family!r}")
    from caspr_spark.sources import ensure_parallelism

    def _side(df: DataFrame, signatures: DataFrame | None, sig_id: str):
        if signatures is not None:
            # banding from the stored minhash column is map-side (no
            # shingling, no text scan); shingles come from the same table
            _check_signature_family(signatures, hash_family)
            return _signature_side(signatures, sig_id)
        sh = register_cache(ensure_parallelism(df).select(
            F.col(id_col).alias("__id"),
            _shingles(text_col, shingle_size).alias("__shingles")).persist())
        return (_signatures_from_shingles(sh, "__id", num_hashes,
                                          hash_family=hash_family), sh)

    hist = _side(history, history_signatures, "history_id")
    matches = (_near_matches(_side(batch, batch_signatures, id_col), hist,
                             False, num_hashes, bands, hash_family,
                             threshold)
               .select(F.col("__id").alias(id_col),
                       F.col("__oid").alias("history_id"), "jaccard"))
    kept = batch.join(matches.select(id_col), on=id_col, how="left_anti")
    return kept, matches


# --------------------------------------------------------------------------
# Persist-and-resume state for incremental dedup (the daily-crawl loop)
# --------------------------------------------------------------------------

def build_history_keys(history: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       normalize: bool = True) -> DataFrame:
    """The persistable EXACT-mode state: ``(content_key, history_id)``,
    one 16-byte key per distinct normalized text (smallest id wins —
    the same election as :func:`exact_dedup`), null-text rows dropped.
    Uses the shared :func:`_content_key` definition, so incremental
    results stay identical to full-corpus ``exact_dedup`` results.
    ``content_key`` is stamped with ``normalize``
    (:func:`caspr_spark.state.stamp`): the two settings key the same
    text differently, so a versioned key table refuses a fold under
    the other one."""
    from caspr_spark.state import stamp

    key = _content_key(text_col, normalize)
    return (history.select(stamp(key, "content_key", normalize=normalize),
                           F.col(id_col).alias("history_id"))
            .filter(F.col("content_key").isNotNull())
            .groupBy("content_key")
            .agg(F.min("history_id").alias("history_id")))


def append_history_keys(keys: DataFrame, accepted: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        normalize: bool = True) -> DataFrame:
    """Fold an ACCEPTED batch's keys into the existing key table —
    first-seen wins (a key already in ``keys`` keeps its original
    ``history_id``; only genuinely new keys enter, carrying the batch
    doc id). The daily loop is::

        keys = load_history_keys(spark, path)
        kept, _ = dedup_against_history(batch, None, history_keys=keys)
        save_history_keys(append_history_keys(keys, kept), next_path)

    Write to a NEW path (or a dated partition) and swap atomically —
    overwriting the parquet a lazy plan is still reading truncates it.
    """
    new = build_history_keys(accepted, id_col, text_col, normalize)
    fresh = new.join(keys.select("content_key"), on="content_key",
                     how="left_anti")
    return keys.unionByName(fresh)


def _check_signature_family(history_signatures: DataFrame,
                            hash_family: str) -> None:
    """Loud guard for the signature-table/hash-family contract:
    signatures from different families share NO band keys, so a
    mismatch doesn't error downstream — it silently reports zero
    duplicates forever. Tables written by
    :func:`build_history_signatures` carry a constant ``hash_family``
    column stamped with the family (:func:`caspr_spark.state.stamp`),
    which the guard reads from the schema — no job (the family can't
    ride in-plan: band keys are already diverged by the time rows
    meet). A table with the column but no stamp (written by an
    external writer, say) pays one bounded ``limit(1)`` probe of the
    bare ``hash_family`` projection — pass a PERSISTED/loaded table
    rather than a computed plan, or producing that one probe row
    re-runs the plan's whole shingle+minhash pipeline. Tables without
    the column (pre-round-12 / external writers) are accepted as
    ``'fast'`` only."""
    from caspr_spark.state import frame_stamp

    has_col = "hash_family" in history_signatures.columns
    stored = frame_stamp(history_signatures).get("hash_family")
    if stored is None and has_col:
        probe = (history_signatures.select("hash_family")
                 .limit(1).collect())
        stored = probe[0][0] if probe else None
    if stored is not None and stored != hash_family:
        raise ValueError(
            f"history_signatures was built with "
            f"hash_family={stored!r} but this call requests "
            f"{hash_family!r}; signatures from different families "
            "share no band keys (every batch would silently match "
            "nothing) — rebuild the state table or pass the "
            "matching family")
    if not has_col and hash_family != "fast":
        raise ValueError(
            "history_signatures carries no hash_family column (built "
            "before the portable family existed, or by an external "
            "writer) — such tables are xxhash64-based; rebuild with "
            f"build_history_signatures(..., hash_family={hash_family!r}) "
            "to audit incremental decisions cross-engine")


def merge_history_key_frames(frames: list,
                             deletes: DataFrame | None = None) -> DataFrame:
    """Merge key-table frames with FIRST-SEEN-WINS semantics: the
    frames arrive OLDEST FIRST, and a content key present in several
    keeps the ``history_id`` from the oldest frame containing it (the
    :func:`append_history_keys` rule, expressed as a merge so key
    state can be maintained LSM-style). Each frame already holds one
    row per key; the election is a map-side-combinable
    ``min(struct(frame_seq, history_id))`` — no window, no hot key.

    ``deletes`` (a one-column frame of forgotten ``history_id``
    values, :func:`forget_documents_state`) is anti-joined BEFORE the
    election, never after: a content key can legitimately appear in
    two frames with different owners exactly when the older owner was
    forgotten between their folds — electing first and masking second
    would drop the younger, legitimate row along with the forgotten
    winner."""
    if not frames:
        raise ValueError("merge_history_key_frames needs at least one frame")
    u = None
    for seq, f in enumerate(frames):
        f = f.select(F.lit(seq).alias("__seq"), "content_key",
                     "history_id")
        u = f if u is None else u.unionByName(f)
    if deletes is not None:
        u = u.join(F.broadcast(
            deletes.select(F.col(deletes.columns[0])
                           .alias("history_id")).distinct()),
            on="history_id", how="left_anti")
    return (u.groupBy("content_key")
             .agg(F.min(F.struct("__seq", "history_id")).alias("__w"))
             .select("content_key", F.col("__w.history_id")
                     .alias("history_id")))


def append_history_keys_state(spark, state_dir: str, batch_id: int,
                              accepted: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              normalize: bool = True,
                              compact_every: int = 8) -> None:
    """Fold an ACCEPTED crawl batch's keys into a VERSIONED key-table
    state dir — the LSM form of the
    :func:`append_history_keys`+:func:`save_history_keys` daily loop,
    which rewrites the WHOLE key table every day (O(state) writes; a
    1e9-key table is ~100 GB rewritten per crawl). Here batch ``b``
    writes only ITS OWN keys as a delta (O(batch)); every
    ``compact_every``-th commit merges the live frames into a compact;
    :func:`read_history_keys_state` merges at most ``compact_every``
    frames with first-seen-wins resolution
    (:func:`merge_history_key_frames` — older frames win, so the
    merged table is row-identical to the sequential
    ``append_history_keys`` fold). Shares the
    :mod:`caspr_spark.state` commit protocol (``_SUCCESS`` markers,
    replayed batch ids skip, crashed writes rewrite); ``batch_id``
    must be caller-supplied and strictly increasing across crawls
    (e.g. the day number) — that is what makes re-running a day
    idempotent. Prune superseded frames with
    :func:`caspr_spark.state.prune_state`. The daily loop becomes::

        keys = read_history_keys_state(spark, state_dir)
        kept, _ = dedup_against_history(batch, None, history_keys=keys)
        append_history_keys_state(spark, state_dir, day, kept)

    Retention cadence — how ``compact_every`` and ``prune_state``'s
    ``keep_last`` interact: reads merge at most ``compact_every``
    frames (the newest compact plus younger deltas), and pruning keeps
    everything from the ``keep_last``-th-newest COMPACT on — so the
    retained state is bounded by ``keep_last`` full restore points
    plus up to ``keep_last x compact_every`` delta days, regardless of
    how long the loop runs. For a 1e9-key daily crawl, the defaults
    (``compact_every=8``, ``keep_last=2``) mean: O(batch) writes every
    day, one O(state) compaction per ~week, reads merging <= 8 frames,
    and two weekly restore points retained — run ``prune_state`` right
    after each fold (it never touches live or markerless frames).
    """
    from caspr_spark.state import fold_commit, read_deletes_state

    def merge(frames):
        # compaction bakes forgotten ids in (forget_documents_state):
        # the compact simply no longer holds their keys, and pruning
        # the superseded frames erases the bytes
        return merge_history_key_frames(
            frames, deletes=read_deletes_state(spark, state_dir))

    fold_commit(spark, state_dir, batch_id, "delta", compact_every,
                build_history_keys(accepted, id_col, text_col, normalize),
                merge)


def read_history_keys_state(spark, state_dir: str) -> DataFrame:
    """Current key table from a versioned state dir
    (:func:`append_history_keys_state`): newest compact merged with
    every younger delta, first-seen-wins, minus keys owned by
    FORGOTTEN documents (:func:`forget_documents_state` — a forgotten
    doc's keys stop suppressing future docs the moment its tombstone
    commits) — feed straight to
    ``dedup_against_history(..., history_keys=...)``."""
    from caspr_spark.state import read_deletes_state, read_live_frames

    dfs = read_live_frames(spark, state_dir, "key")
    deletes = read_deletes_state(spark, state_dir)
    if len(dfs) == 1 and deletes is None:
        return dfs[0]
    return merge_history_key_frames(dfs, deletes=deletes)


def build_history_signatures(history: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", num_hashes: int = 64,
                             shingle_size: int = 3,
                             hash_family: str = "fast") -> DataFrame:
    """The persistable NEAR-mode state: ``(history_id,
    shingles array<string>, minhash array<bigint>, hash_family)``.

    Re-banding from the stored ``minhash`` is map-side, so a saved
    table lets every future batch dedup against history without ever
    re-shingling it. ``num_hashes``/``shingle_size`` are baked into the
    stored values — reload with the same settings. ``hash_family``
    (``'fast'`` xxhash64 / ``'portable'`` md5-60-bit, see
    :func:`_base_hash_pair`) rides as a constant column, stamped with
    the family and ``num_hashes`` (:func:`_family_col`), so
    :func:`dedup_against_history` and the versioned fold can refuse a
    mismatched batch up front instead of silently matching nothing.
    Shingle arrays are roughly text-sized; at corpus scale the table
    is comparable to the corpus itself but is written ONCE and only the
    candidate-pair rows are ever joined back.
    """
    if hash_family not in ("fast", "portable"):
        raise ValueError(f"hash_family must be 'fast' or 'portable', "
                         f"got {hash_family!r}")
    from caspr_spark.sources import ensure_parallelism

    sh = register_cache(
        ensure_parallelism(history).select(
            F.col(id_col).alias("history_id"),
            _shingles(text_col, shingle_size).alias("__shingles"))
        .persist())
    sigs = _signatures_from_shingles(sh, "history_id", num_hashes,
                                     hash_family=hash_family)
    return (sh.select("history_id", F.col("__shingles").alias("shingles"))
            .join(sigs, on="history_id")
            .withColumn("hash_family",
                        _family_col(hash_family, num_hashes)))


def _family_col(hash_family: str, num_hashes: int):
    """The signature table's constant ``hash_family`` column, stamped
    with the family and the width (:func:`caspr_spark.state.stamp`):
    guards read both from a frame's schema, never its rows."""
    from caspr_spark.state import stamp

    return stamp(F.lit(hash_family), "hash_family",
                 hash_family=hash_family, num_hashes=num_hashes)


def append_history_signatures(signatures: DataFrame, accepted: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              num_hashes: int = 64,
                              shingle_size: int = 3,
                              hash_family: str = "fast") -> DataFrame:
    """Fold an ACCEPTED batch into the near-mode signature state — the
    signature table's daily-loop step, completing the state story for
    near mode. Unlike the key table there is NOTHING to merge: docs
    are unique after dedup, so the fold is a pure row APPEND of the
    batch's signatures (at scale, write the new rows as a dated
    partition instead of rewriting — the table is append-only by
    construction). The batch MUST be signed with the same
    ``num_hashes``/``shingle_size``/``hash_family`` the table was
    built with; the family is verified against the stored
    ``hash_family`` column up front (the same loud guard as
    :func:`dedup_against_history` — mismatched families silently
    match nothing), the other two are the caller's contract as
    documented on :func:`build_history_signatures`."""
    _check_signature_family(signatures, hash_family)
    new = build_history_signatures(accepted, id_col, text_col,
                                   num_hashes, shingle_size, hash_family)
    if "hash_family" not in signatures.columns:
        new = new.drop("hash_family")    # legacy fast-family table
    return signatures.unionByName(new)


def append_history_signatures_state(spark, state_dir: str, batch_id: int,
                                    accepted: DataFrame,
                                    id_col: str = "doc_id",
                                    text_col: str = "text",
                                    num_hashes: int = 64,
                                    shingle_size: int = 3,
                                    hash_family: str = "fast",
                                    compact_every: int = 8,
                                    signatures: DataFrame | None = None
                                    ) -> None:
    """Fold an ACCEPTED crawl batch's signatures into a VERSIONED
    signature-table state dir — the exactly-once form of
    :func:`append_history_signatures`, closing the near-mode half of
    the state story (the key table got this in
    :func:`append_history_keys_state`). The plain append has two
    scale problems this fixes: it rewrites the WHOLE table per crawl
    (O(state) writes — shingle arrays make this table corpus-sized),
    and a replayed crawl day RE-APPENDS its signatures, duplicating
    band keys — every future batch then sees duplicated candidate and
    match rows and pays a doubled band-join fan-out. Here batch ``b``
    writes only its own signatures as a delta (O(batch)); replayed
    batch ids skip via the shared :mod:`caspr_spark.state` commit
    protocol (``_SUCCESS`` markers, out-of-order folds refuse loudly);
    every ``compact_every``-th commit unions the live frames into a
    compact (:func:`caspr_spark.state.compact_merge` — batches hold
    disjoint ids, so the union IS the merge). ``batch_id`` must be
    caller-supplied and strictly increasing across crawls (the day
    number) — that is what makes re-running a day idempotent.

    The ``hash_family`` and ``num_hashes`` are enforced against the
    COMMITTED state: every frame stamps both on its ``hash_family``
    column (:func:`_family_col`), and the commit's schema read of the
    newest frame (:func:`caspr_spark.state.fold_commit`) refuses a
    fold whose family or signature width differs from what the dir
    holds — a mismatched family would poison the table with rows that
    silently share no band keys. ``shingle_size`` stays the caller's
    contract exactly as on :func:`build_history_signatures` (it is not
    recoverable from the stored values). Prune superseded frames with
    :func:`caspr_spark.state.prune_state`. The near-mode daily loop::

        sigs = read_history_signatures_state(spark, state_dir)
        kept, _ = dedup_against_history(batch, None, mode='near',
                                        history_signatures=sigs, ...)
        append_history_signatures_state(spark, state_dir, day, kept, ...)
    """
    from caspr_spark.state import compact_merge, fold_commit

    if hash_family not in ("fast", "portable"):
        raise ValueError(f"hash_family must be 'fast' or 'portable', "
                         f"got {hash_family!r}")
    if signatures is not None:
        # a caller that already built this batch's signatures (the
        # streaming sink computes them once per micro-batch for the
        # internal LSH pass and the history banded join) can hand them in
        # instead of paying a THIRD full shingle+minhash pass here. The
        # frame must be the :func:`build_history_signatures` shape keyed
        # by ``id_col`` and built with the same
        # num_hashes/shingle_size/hash_family (the persisted-sketch
        # contract); the semi-join on ``accepted`` pins the folded rows to
        # exactly the accepted relation — signature values are identical
        # to a re-derivation because the build is deterministic, so the
        # committed state bytes are unchanged (regression-tested).
        _check_signature_family(signatures, hash_family)
        # In-plan width tripwire (zero extra jobs): a frame built with a
        # different num_hashes would commit signatures whose band keys
        # never match future batches — silent under-dedup forever. The
        # commit's stamp check compares the DECLARED width with the
        # committed state (there is none on the first fold), so every
        # folded row asserts its own width at execution; valid rows pass
        # through untouched, so committed bytes are unchanged. Note the
        # row-set contract stays the caller's: an accepted id MISSING
        # from the frame is silently absent from the fold (the semi-join
        # keeps the row set pinned to ``accepted`` without an extra
        # verification job) — pass the FULL batch's signatures, as the
        # streaming sink does.
        wide_ok = F.size("minhash") == num_hashes
        guarded = F.when(wide_ok, F.col("minhash")).otherwise(
            F.raise_error(F.concat(
                F.lit("append_history_signatures_state: signatures= frame "
                      "holds "), F.size("minhash").cast("string"),
                F.lit(f"-hash signatures but this fold declares "
                      f"num_hashes={num_hashes} — mis-widthed state "
                      "would silently never band-match"))
            ).cast("array<bigint>"))
        new_rows = (signatures
                    .join(accepted.select(id_col), on=id_col,
                          how="left_semi")
                    .select(F.col(id_col).alias("history_id"), "shingles",
                            guarded.alias("minhash"),
                            _family_col(hash_family, num_hashes)))
    else:
        new_rows = build_history_signatures(accepted, id_col, text_col,
                                            num_hashes, shingle_size,
                                            hash_family)

    # compaction bakes forgotten ids in (forget_documents_state)
    fold_commit(spark, state_dir, batch_id, "delta", compact_every,
                new_rows, compact_merge(spark, state_dir, "history_id"))


def read_history_signatures_state(spark, state_dir: str) -> DataFrame:
    """Current signature table from a versioned state dir
    (:func:`append_history_signatures_state`): newest compact unioned
    with every younger delta, minus FORGOTTEN documents' rows
    (:func:`forget_documents_state`) — feed straight to
    ``dedup_against_history(..., history_signatures=...)``. The read
    is file-backed (:func:`caspr_spark.state.read_masked_state`) and
    its schema carries the family stamp, so the family guard runs no
    job."""
    from caspr_spark.state import read_masked_state

    return read_masked_state(spark, state_dir, "signature", "history_id")


def forget_documents_state(spark, state_dir: str, batch_id: int,
                           doc_ids: DataFrame, id_col: str = "doc_id",
                           compact_every: int = 8) -> None:
    """FORGET documents from an incremental-dedup state dir (key table
    OR signature table — both tombstone on ``history_id``): the
    lifecycle operation the append-only state story lacked. Without
    it, a withdrawn or poisoned document's keys/signatures suppress
    every future legitimate document with the same content forever;
    after the tombstone commits, :func:`read_history_keys_state` /
    :func:`read_history_signatures_state` mask the forgotten rows, so
    the NEXT batch carrying that content re-admits (historical
    decisions are not revisited — a doc the forgotten one suppressed
    in the past stays suppressed; forgetting re-opens the future, it
    does not rewrite the corpus). Every compaction bakes the current
    tombstone set into the compact, and ``prune_state`` then erases
    the forgotten rows' bytes — the right-to-erasure path, with only
    the forgotten IDS (never content) retained as the audit trail.

    ``doc_ids`` needs only ``id_col`` (anything else is dropped); ids
    are stored under the state tables' ``history_id`` name. Same
    exactly-once protocol on the tombstone stream's OWN batch-id
    sequence: a replayed forget-day skips, out-of-order refuses —
    and the invariant that replayed VECTOR folds skip is untouched
    (separate frontier, separate dir)."""
    from caspr_spark.state import append_deletes_state

    append_deletes_state(spark, state_dir, batch_id,
                         doc_ids.select(F.col(id_col)
                                        .alias("history_id")),
                         compact_every)


def save_history_keys(state: DataFrame, path: str,
                      mode: str = "overwrite") -> None:
    """Write an incremental-dedup state table (key or signature) to
    parquet. One file-format choice, stated: parquet keeps the
    ``array<bigint>``/``array<string>`` columns typed and splittable,
    so a 1e9-key table reloads partition-parallel."""
    state.write.mode(mode).parquet(path)


def load_history_keys(spark, path: str) -> DataFrame:
    """Reload a state table written by :func:`save_history_keys`.
    Returns the DataFrame as stored; feed it to
    ``dedup_against_history(..., history_keys=...)`` (exact) or
    ``(..., history_signatures=...)`` (near)."""
    return spark.read.parquet(path)
