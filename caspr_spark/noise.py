"""E11/E12 — sequence noise + minority oversampling, Spark-side.

Reference: caspr/utils/noise.py:6-77 (gaussian noise on continuous,
random category substitution, both p=0.1 — torch-side there, seeded
``rand()``-gated column expressions here) and the SMOTE-NC oversampler
(caspr/utils/preprocess.py:365-385). The reference delegates to
imblearn's ``SMOTENC``; :func:`smote_nc_oversample` implements the same
algorithm — within-class k-NN with the median-σ categorical penalty,
uniform interpolation on continuous features, neighbor majority vote on
categoricals — in numpy inside per-stratum ``applyInPandas``.
``oversample_to_parity`` remains as the interpolation-free variant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caspr_spark.workers import shipped


def add_gaussian_noise(df: DataFrame, cols: list[str], p: float = 0.1,
                       sigma: float = 0.1, seed: int = 42) -> DataFrame:
    """With prob ``p`` per value, add N(0, sigma) noise (E12 continuous)."""
    for i, c in enumerate(cols):
        gate = F.rand(seed + 2 * i) < p
        noise = F.randn(seed + 2 * i + 1) * sigma
        df = df.withColumn(c, F.when(gate, F.col(c) + noise).otherwise(F.col(c)))
    return df


def random_category_substitution(df: DataFrame, cols: list[str],
                                 vocab_sizes: dict[str, int], p: float = 0.1,
                                 seed: int = 42) -> DataFrame:
    """With prob ``p``, replace an encoded category with a random *fitted*
    code (E12 categorical — the reference swaps in a random in-vocab
    category).

    ``vocab_sizes`` follows ``CategoricalEncoding.vocab_sizes()`` —
    fitted codes are ``1..V-1`` with 0 reserved for UNK, so the draw is
    uniform over ``1..V-1`` (never UNK, never out-of-vocabulary).
    """
    for i, c in enumerate(cols):
        v = vocab_sizes[c]
        gate = F.rand(seed + 2 * i) < p
        sub = (F.floor(F.rand(seed + 2 * i + 1) * (v - 1)) + 1) \
            .cast(dict(df.dtypes)[c])
        df = df.withColumn(c, F.when(gate, sub).otherwise(F.col(c)))
    return df


def bounded_time_shuffle(df: DataFrame, tgt_id: list[str],
                         rank_col: str = "rank_asc", shuffle_dist: int = 1,
                         seed: int = 42,
                         out_col: str | None = None) -> DataFrame:
    """E12 time-axis shuffle: permute each entity's sequence so no element
    lands more than ``shuffle_dist`` positions from where it started.

    The reference (caspr/utils/noise.py:58-65) sorts per-sequence keys
    ``position + U(0, shuffle_dist+1)`` on the torch batch; with keys of
    that form the argsort displaces every element by at most
    ``shuffle_dist`` (the bounded-shuffle construction used by denoising
    sequence autoencoders). Here the keys are one seeded column expression
    and the permutation is ONE ``row_number`` window per entity — when the
    input already carries W1's rank the window reuses the existing
    entity-key partitioning, so the op adds no exchange at any scale.

    ``rank_col`` must hold each entity's 1..n sequence positions
    (``get_rank``'s ``rank_asc``). The shuffled position lands in
    ``out_col`` (default: replace ``rank_col``). Ties on the noisy key
    break on the original rank, keeping the permutation deterministic for
    a fixed partitioning.
    """
    if shuffle_dist < 0:
        raise ValueError(f"shuffle_dist must be >= 0, got {shuffle_dist}")
    if rank_col not in df.columns:
        raise ValueError(f"call get_rank first: missing {rank_col!r}")
    if shuffle_dist == 0:
        return df.withColumn(out_col, F.col(rank_col)) if out_col else df
    # materialize the noisy key first: rand() in a window ORDER BY would be
    # re-evaluated non-deterministically between the sort and the rank
    noisy = df.withColumn(
        "__shuf_key", F.col(rank_col) + F.rand(seed) * (shuffle_dist + 1))
    w = Window.partitionBy(*tgt_id).orderBy(F.col("__shuf_key").asc(),
                                            F.col(rank_col).asc())
    return noisy.withColumn(out_col or rank_col,
                            F.row_number().over(w)).drop("__shuf_key")


def oversample_to_parity(df: DataFrame, label_col: str,
                         seed: int = 42) -> DataFrame:
    """Resample every minority class (with replacement) up to the majority
    class size — the SMOTE-NC stand-in (E11)."""
    counts = {r[label_col]: r["n"] for r in
              df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()}
    majority = max(counts.values())
    out = df
    for lbl, n in counts.items():
        if n < majority:
            extra = (df.filter(F.col(label_col) == lbl)
                       .sample(withReplacement=True,
                               fraction=(majority - n) / n, seed=seed))
            out = out.unionByName(extra)
    return out


def _smote_stratum(cont: np.ndarray, cat: np.ndarray, n_new: int, k: int,
                   rng: np.random.Generator):
    """SMOTE-NC synthesis inside one stratum (pure numpy).

    Distance is Euclidean over continuous features plus, per differing
    categorical, the squared median of the per-column continuous stds —
    the SMOTE-NC metric (a one-hot coordinate scaled by σ_med/√2
    contributes σ_med² per mismatched category). Synthetic continuous
    values interpolate toward a random one of the k nearest same-class
    neighbors; categoricals take the majority vote among those neighbors
    (ties break on the smallest value for determinism).
    """
    n = len(cont)
    k = min(k, n - 1)
    if n_new <= 0 or k < 1:
        return (np.empty((0, cont.shape[1])), np.empty((0, cat.shape[1]),
                                                       dtype=cat.dtype))
    sigma_med = np.median(cont.std(axis=0)) if cont.shape[1] else 1.0
    d2 = ((cont[:, None, :] - cont[None, :, :]) ** 2).sum(axis=2)
    if cat.shape[1]:
        d2 = d2 + (cat[:, None, :] != cat[None, :, :]).sum(axis=2) * sigma_med ** 2
    np.fill_diagonal(d2, np.inf)
    nn = np.argsort(d2, axis=1, kind="stable")[:, :k]     # [n, k]

    base = rng.integers(0, n, size=n_new)
    pick = nn[base, rng.integers(0, k, size=n_new)]
    u = rng.uniform(0.0, 1.0, size=(n_new, 1))
    new_cont = cont[base] + u * (cont[pick] - cont[base])

    new_cat = np.empty((n_new, cat.shape[1]), dtype=cat.dtype)
    for j in range(cat.shape[1]):
        neigh = cat[nn[base], j]                          # [n_new, k]
        for i in range(n_new):
            vals, cnts = np.unique(neigh[i], return_counts=True)
            new_cat[i, j] = vals[np.argmax(cnts)]         # ties -> smallest
    return new_cont, new_cat


def smote_nc_oversample(df: DataFrame, label_col: str, cont_cols: list[str],
                        cat_cols: list[str] | None = None, k: int = 5,
                        salt_buckets: int = 1, seed: int = 42) -> DataFrame:
    """SMOTE-NC (caspr/utils/preprocess.py:365-385): oversample every
    minority class to the majority size with synthetic k-NN interpolants.

    Output columns: ``cont_cols + cat_cols + [label_col]`` (synthetic rows
    have no identity, so only features survive — same contract as the
    reference, which feeds ``fit_resample`` features + label only).

    Scale path: ``salt_buckets > 1`` splits each class into random strata
    and synthesizes each stratum's share of the quota independently —
    neighbors are then found within the stratum, which bounds the O(n²)
    distance matrix per task while leaving the interpolation distribution
    statistically unchanged. At 100 TB pick ``salt_buckets`` so a stratum
    (~class_size / buckets rows) fits one task's memory.
    """
    cat_cols = cat_cols or []
    feat = df.select(*[F.col(c).cast("double") for c in cont_cols],
                     *cat_cols, label_col)
    counts = {r[label_col]: r["n"] for r in
              feat.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()}
    majority = max(counts.values())
    quotas = {}
    for lbl, n in counts.items():
        need = majority - n
        if need > 0:
            per, rem = divmod(need, salt_buckets)
            for b in range(salt_buckets):
                quotas[(lbl, b)] = per + (1 if b < rem else 0)
    if not quotas:
        return feat

    minority = feat.filter(F.col(label_col).isin(
        [lbl for lbl, _ in quotas])).withColumn(
        "__salt", F.floor(F.rand(seed) * salt_buckets).cast("int"))
    schema = feat.schema

    @shipped
    def synthesize(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        import zlib
        lbl, bucket = keys
        n_new = quotas.get((lbl, int(bucket)), 0)
        cont = pdf[cont_cols].to_numpy(dtype=np.float64)
        cat = pdf[cat_cols].to_numpy() if cat_cols else np.empty((len(pdf), 0))
        # crc32, not hash(): Python str hashing is salted per process
        rng = np.random.default_rng(
            (seed, int(bucket), zlib.crc32(str(lbl).encode())))
        new_cont, new_cat = _smote_stratum(cont, cat, n_new, k, rng)
        out = {c: new_cont[:, i] for i, c in enumerate(cont_cols)}
        for j, c in enumerate(cat_cols):
            out[c] = new_cat[:, j]
        out[label_col] = np.full(len(new_cont), lbl)
        return pd.DataFrame(out, columns=[*cont_cols, *cat_cols, label_col])

    synthetic = minority.groupBy(label_col, "__salt") \
        .applyInPandas(synthesize, schema=schema)
    return feat.unionByName(synthetic)
