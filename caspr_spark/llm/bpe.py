"""Distributed BPE vocabulary learning + subword tokenization.

The missing piece between the whitespace/regex token counters in
``llm.text`` and a real training pipeline: learn a byte-pair-encoding
merge table from the corpus, then tokenize with it — the Sennrich et
al. 2016 algorithm (arXiv:1508.07909), the same scheme GPT-2's
tokenizer and SentencePiece's BPE mode implement.

Scale shape — the part people get wrong: BPE training does NOT iterate
over the corpus. The classic algorithm operates on the **word-frequency
table**: one distributed word count (a single shuffle, map-side
combinable) collapses a 100 TB corpus into at most ``max_words``
(word, count) rows, and every merge decision is computed from that
table. The driver-side loop over it is exact, fast (seconds for 50k
words x thousands of merges), and identical to what the reference
single-node trainers do — so the only data-sized work is the one count
pass plus the final distributed ``apply`` (an Arrow-batched pandas UDF
with an LRU word cache, since tokenization is word-local).

Capping the table at the top ``max_words`` words is the stated-recall
tradeoff (same discipline as ``heavy_hitters`` / the LSH caps): merges
learned without the long tail differ only in the tail's pair counts,
and the cap is a parameter, not a silent truncation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.workers import shipped

#: end-of-word sentinel (Sennrich's ``</w>``) — lets the tokenizer
#: distinguish "low" as a word from "low" as a prefix of "lower".
EOW = "▁"


def _word_counts(df: DataFrame, text_col: str, lowercase: bool,
                 max_words: int) -> list[tuple[str, int]]:
    toks = F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = df.select(toks.alias("word")).filter(F.col("word") != "")
    if lowercase:
        w = w.select(F.lower(F.col("word")).alias("word"))
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    # deterministic top-N: count desc, word asc (same tie-break rule as
    # the E1 encoder dictionaries)
    rows = (counts.orderBy(F.col("n").desc(), F.col("word").asc())
                  .limit(max_words).collect())
    return [(r["word"], r["n"]) for r in rows]


def fit_bpe(df: DataFrame, text_col: str = "text", num_merges: int = 200,
            max_words: int = 50_000, lowercase: bool = True
            ) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns the ordered merge list (pairs of symbols; apply order IS
    priority order). Deterministic: pair ties break lexicographically,
    word ties in the frequency cap break on the word. One distributed
    job (the word count); the merge loop runs on the counts table
    driver-side, exactly as the classic algorithm specifies.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1, got {max_words}")
    vocab = {tuple(word) + (EOW,): n
             for word, n in _word_counts(df, text_col, lowercase, max_words)}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, n in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        # stop when the best pair occurs once: merging hapax pairs only
        # memorizes the tail
        if best[1] < 2 and merges:
            break
        a, b = best[0]
        merges.append((a, b))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for symbols, n in vocab.items():
            out, i = [], 0
            while i < len(symbols):
                if (i + 1 < len(symbols) and symbols[i] == a
                        and symbols[i + 1] == b):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]
                    ) -> list[str]:
    """Tokenize ONE word with a learned merge table (greedy by merge
    priority — the canonical BPE apply)."""
    symbols = list(word) + [EOW]
    while len(symbols) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i:best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", out_col: str = "bpe_tokens",
              count_col: str = "n_bpe_tokens",
              lowercase: bool = True) -> DataFrame:
    """Tokenize the corpus with a learned merge table.

    Arrow-batched pandas UDF (tokenization is inherently per-word
    Python; the word-level LRU cache means each DISTINCT word in a
    batch is encoded once — crawl text repeats words heavily, so the
    per-row cost is a dict hit). Adds the token array and its length.
    """
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("array<string>")
    @shipped
    def _tok(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return []
            out = []
            for w in text.split():
                if lowercase:
                    w = w.lower()
                toks = cache.get(w)
                if toks is None:
                    toks = bpe_encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out
        return texts.map(enc)

    out = df.withColumn(out_col, _tok(F.col(text_col)))
    return out.withColumn(count_col, F.size(F.col(out_col)).cast("long"))
