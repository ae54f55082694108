"""Batch scoring — per-entity embeddings via an Arrow-batched pandas UDF.

Reference: ``caspr/utils/spark/score.py:18-78``. The shape is kept:

1. P7 array-pack the wide features into ``cont_features`` /
   ``cat_features`` array columns (score.py:22-23);
2. the model is captured CPU-side in the UDF closure (score.py:33 —
   numpy arrays pickle clean, same reason the reference calls
   ``.cpu()`` first);
3. inside the UDF each Arrow batch is re-tensorized and run through the
   encoder in **nested fixed-size batches** (score.py:42-43's OOM guard —
   kept so peak memory is bounded by ``inner_batch``, not Arrow batch
   size);
4. output is one ``array<float>`` embedding per row (score.py:72-76).

This is the one place a Python UDF is the right tool (model inference);
everything upstream stays JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from caspr_spark.workers import shipped

INNER_BATCH = 16 * 2048  # reference caspr/utils/spark/score.py:18


def pack_for_scoring(df: DataFrame, cont_cols: list[str],
                     cat_cols: list[str]) -> DataFrame:
    """P7 vectorization: flat wide columns -> two array columns.

    Thin wrapper over ``pack_feature_arrays`` that always materializes
    both array columns (the scoring UDF takes two arguments even when one
    group is empty)."""
    from caspr_spark.operators.pivot import pack_feature_arrays
    out = pack_feature_arrays(df, cont_cols, cat_cols)
    if "cont_features" not in out.columns:
        out = out.withColumn("cont_features",
                             F.array().cast("array<double>"))
    if "cat_features" not in out.columns:
        out = out.withColumn("cat_features", F.array().cast("array<bigint>"))
    return out


def score(df: DataFrame, model, seq_len: int, n_seq_cat: int, n_seq_cont: int,
          n_non_seq_cat: int = 0, n_non_seq_cont: int = 0,
          cont_cols: list[str] | None = None, cat_cols: list[str] | None = None,
          inner_batch: int = INNER_BATCH,
          output_col: str = "embeddings") -> DataFrame:
    """Append an ``array<float>`` embedding column computed by ``model.encode``.

    ``cont_cols``/``cat_cols`` order must be the wide layout's: sequential
    columns first (each contributing ``seq_len`` contiguous slots,
    column-major over ranks — the reshape contract of
    caspr/data/load.py:19-25), then profile columns.
    """
    if cont_cols is not None or cat_cols is not None:
        df = pack_for_scoring(df, cont_cols or [], cat_cols or [])

    @pandas_udf("array<float>")
    @shipped
    def calculate_embeddings(cont: pd.Series, cat: pd.Series) -> pd.Series:
        n = len(cont)
        if n == 0:
            return pd.Series([], dtype=object)
        cont_m = np.stack(cont.values).astype(np.float32) if n else None
        cat_m = np.stack(cat.values).astype(np.int64) if n else None
        outs = []
        for start in range(0, n, inner_batch):
            co = cont_m[start:start + inner_batch]
            ca = cat_m[start:start + inner_batch]
            b = len(co)
            seq_cont = co[:, :n_seq_cont * seq_len] \
                .reshape(b, n_seq_cont, seq_len).transpose(0, 2, 1)
            non_seq_cont = co[:, n_seq_cont * seq_len:]
            seq_cat = ca[:, :n_seq_cat * seq_len] \
                .reshape(b, n_seq_cat, seq_len).transpose(0, 2, 1)
            non_seq_cat = ca[:, n_seq_cat * seq_len:]
            emb = model.encode(seq_cat, seq_cont, non_seq_cat, non_seq_cont)
            outs.append(np.asarray(emb, dtype=np.float32))
        flat = np.concatenate(outs, axis=0)
        return pd.Series(list(flat))

    return df.withColumn(output_col,
                         calculate_embeddings(F.col("cont_features"),
                                              F.col("cat_features")))


def score_linear(df: DataFrame, vec_col: str, weights, round_digits: int = 6,
                 prefix: str = "emb_") -> DataFrame:
    """Linear-projection scoring through the same pandas-UDF machinery.

    ``weights`` is ``[out_dim, in_dim]``; output is one double column per
    projection so a SQL oracle (``list_dot_product`` with the same weight
    literals) can verify the UDF path end-to-end.
    """
    W = np.asarray(weights, dtype=np.float64)
    out_dim = W.shape[0]

    @pandas_udf("array<double>")
    @shipped
    def project(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(vec.values).astype(np.float64)
        Y = X @ W.T
        if round_digits is not None:
            Y = np.round(Y, round_digits)
        return pd.Series(list(Y))

    out = df.withColumn("__proj", project(F.col(vec_col)))
    for i in range(out_dim):
        out = out.withColumn(f"{prefix}{i}", F.col("__proj")[i])
    return out.drop("__proj")
