"""Explainability — feature-ablation attributions, Spark-side.

Reference: ``CASPRExplainer`` (caspr/utils/explain/CASPRExplainer.py:25-395)
wraps Captum DeepLift/IntegratedGradients over torch encoders — a
torch-only stack. The capability rebuilt here is *attribution of the
embedding to input features*, computed by ablation: replace one feature
with its corpus mean and measure how far the embedding moves. For a
general encoder that is two scoring passes per feature (``mapInPandas``
fan-out); for the linear encoder it collapses to a closed form —
``importance_j = E|x_j − μ_j| · ‖W[:,j]‖`` — one distributed aggregation,
which also gives the DuckDB oracle for the query surface.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.sources import local_frame


def linear_ablation_importance(df: DataFrame, weights, vec_col: str = "embedding",
                               dims: list[int] | None = None,
                               round_digits: int = 6) -> DataFrame:
    """Per-input-dimension ablation importance of a linear encoder.

    Ablating ``x_j -> μ_j`` shifts the embedding by ``W[:,j](x_j − μ_j)``,
    whose L2 norm is ``|x_j − μ_j|·‖W[:,j]‖`` — so the expected embedding
    displacement needs only ``avg(abs(x_j − μ_j))`` per dimension: two
    aggregation passes total, no rescoring. Output: (dim, importance).
    """
    W = np.asarray(weights, dtype=np.float64)
    dims = dims if dims is not None else list(range(W.shape[1]))
    col_norms = {j: math.sqrt(float((W[:, j] ** 2).sum())) for j in dims}

    mu_row = df.agg(*[F.avg(F.col(vec_col)[j].cast("double")).alias(f"mu_{j}")
                      for j in dims]).collect()[0]
    dev = df.agg(*[
        F.avg(F.abs(F.col(vec_col)[j].cast("double") - F.lit(float(mu_row[f"mu_{j}"]))))
         .alias(f"d_{j}") for j in dims]).collect()[0]

    rows = [(j, round(float(dev[f"d_{j}"]) * col_norms[j], round_digits))
            for j in dims]
    return local_frame(df.sparkSession, rows, "dim int, importance double")


def ablation_importance(df: DataFrame, model, seq_len: int, n_seq_cat: int,
                        n_seq_cont: int, n_non_seq_cat: int = 0,
                        n_non_seq_cont: int = 0,
                        features: list[int] | None = None) -> DataFrame:
    """Generic encoder ablation: rescore with one continuous feature at its
    mean, importance = mean L2 embedding displacement.

    Expects the array-packed layout (``cont_features``/``cat_features``,
    see ``caspr_spark.score``). One extra scoring pass per ablated feature
    — fan the passes out over the cluster; attributions for C features
    cost C+1 scans, the same asymptotics as Captum's ablation explainer.
    """
    from caspr_spark.score import score

    base = score(df, model, seq_len, n_seq_cat, n_seq_cont,
                 n_non_seq_cat, n_non_seq_cont, output_col="__emb_base")
    n_cont = n_seq_cont * seq_len + n_non_seq_cont
    features = features if features is not None else list(range(n_cont))

    mu_row = base.agg(*[F.avg(F.col("cont_features")[j]).alias(f"mu_{j}")
                        for j in features]).collect()[0]

    rows = []
    for j in features:
        mu = float(mu_row[f"mu_{j}"])
        ablated = base.withColumn(
            "cont_features",
            F.transform(F.col("cont_features"),
                        lambda x, i: F.when(i == j, F.lit(mu)).otherwise(x)))
        rescored = score(ablated, model, seq_len, n_seq_cat, n_seq_cont,
                         n_non_seq_cat, n_non_seq_cont, output_col="__emb_abl")
        delta = F.sqrt(F.aggregate(
            F.zip_with("__emb_base", "__emb_abl",
                       lambda a, b: (a.cast("double") - b.cast("double")) ** 2),
            F.lit(0.0), lambda acc, v: acc + v))
        imp = rescored.agg(F.avg(delta)).collect()[0][0]
        rows.append((j, float(imp or 0.0)))
    return local_frame(df.sparkSession, rows,
                       "feature int, importance double")


# --------------------------------------------------------------------------
# attribution presentation helpers (reference caspr/utils/explain/utils.py)
# --------------------------------------------------------------------------


def separate_pos_neg(attribution):
    """Split an attribution frame into (positive-part, negative-part).

    Parity with the reference helper (caspr/utils/explain/utils.py:6-13):
    element-wise ``x*(x>=0)`` and ``x*(x<0)``, so the two parts sum back
    to the original. Works on pandas DataFrames and numpy arrays alike.
    """
    pos = attribution * (attribution >= 0)
    neg = attribution * ~(attribution >= 0)
    return pos, neg


def visualize_layout(explanations, separate_pos_neg_imp: bool = False):
    """Bar-chart geometry for :func:`visualize`, computed without plotting.

    Mirrors the reference's pre-plot arithmetic
    (caspr/utils/explain/utils.py:30-55): mean per-feature positive and
    negative importances, combined into one bar set unless
    ``separate_pos_neg_imp``, plus symmetric/one-sided x limits. Split out
    so the layout is unit-testable in a matplotlib-free container.
    """
    feature_names = list(explanations.columns)
    pos_df, neg_df = separate_pos_neg(explanations)
    importances_pos = np.asarray(pos_df.values, dtype=float)
    importances_neg = np.asarray(neg_df.values, dtype=float)
    if importances_pos.ndim == 2:
        importances_pos = importances_pos.mean(axis=0)
        importances_neg = importances_neg.mean(axis=0)
    xlim_pos = float(np.max(importances_pos) * 1.25)
    xlim_neg = float(np.max(np.abs(importances_neg)) * 1.25)
    if not separate_pos_neg_imp:
        xlim_pos += xlim_neg
        xlim_neg = 0.0
        importances_pos = importances_pos + np.abs(importances_neg)
        importances_neg = None
    else:
        xlim_pos = max(xlim_pos, xlim_neg)
        xlim_neg = -xlim_pos
    return {"feature_names": feature_names, "pos": importances_pos,
            "neg": importances_neg, "xlim": (xlim_neg, xlim_pos)}


def visualize(explanations, separate_pos_neg_imp: bool = False,
              title: str = "Average Feature Importances",
              axis_title: str = "Features", save_fig: str | None = None):
    """Horizontal-bar plot of mean feature attributions.

    Gated on matplotlib (absent from this container — same pattern as the
    Pillow-gated image codec and the onnx-gated export): the layout math
    in :func:`visualize_layout` carries the testable behavior; this
    function is only the plotting shell (reference
    caspr/utils/explain/utils.py:16-73).
    """
    try:
        import matplotlib.pyplot as plt
    except ImportError as exc:  # pragma: no cover - container has no matplotlib
        raise NotImplementedError(
            "visualize requires matplotlib; install it or use "
            "visualize_layout() for the underlying bar data") from exc
    lay = visualize_layout(explanations, separate_pos_neg_imp)
    x_pos = np.arange(len(lay["feature_names"]))
    width = 0.3
    plt.figure(figsize=(10, 10))
    plt.barh(x_pos, lay["pos"], width, align="center")
    if lay["neg"] is not None:
        plt.barh(x_pos + width, lay["neg"], width, align="center")
    plt.yticks(x_pos + width / 2, lay["feature_names"], wrap=True)
    plt.ylabel(axis_title)
    plt.title(title)
    plt.gca().set_xlim(list(lay["xlim"]))
    if save_fig is not None:
        plt.savefig(save_fig)
