"""The CASPR featurization pipeline as an MLlib-style Estimator/Model pair.

``SequenceFeaturizer.fit_transform(train)`` runs the full chain —

1. F1 history-window filter (per-entity prediction-date cutoff)
2. W1 per-entity ranking (deterministic tie-break)
3. E7 date featurization (interval days or epoch seconds)
4. E1 capped frequency label-encoding      [fitted state]
5. E5 min-max / standard scaling           [fitted state]
6. E8/E9 NaN fills (long layout)
7. P1-P3 fixed-length sequences, with the J4 profile (non-sequential +
   label columns) riding the same per-entity aggregate
8. E8/E9 NaN fills (wide layout)

— and returns ``(wide_df, model)``; ``model.transform(val)`` reapplies the
train-fitted encoding + summary so val/test see exactly the train-time
feature space (leakage discipline of ``data_process_all_sp``,
caspr/utils/spark/preprocess.py:615-632). Stage order matches the
reference ``pipeline`` (preprocess.py:542-612).

Scale notes: one grouping-sets aggregate fits stages 4 and 5 on the
calling thread. The featurization core is one shuffle — the W1
``row_number`` window (a partial ``WindowGroupLimit`` keeps at most
``seq_len`` rows per entity before the exchange) feeding one hash
aggregate on the same entity partitioning; ``layout`` only picks the
final projection of that aggregate. Encode joins broadcast (dictionaries
capped at 30k rows); scaling/fills are pure expressions inside
whole-stage codegen. The reference's mid-pipeline ``repartition``
(preprocess.py:594-596) is unnecessary here — broadcast joins never skew
the fact table.

The featurization starts no Python workers: the encode dictionaries are
Arrow local relations (``sources.local_frame``), not parallelized Python
lists, and every expression is native. Each stage (encode, scale, fills,
sequences, layout projection) is one projection, and the per-column and
per-slot expressions are SQL text, so constructing the plan costs about
one py4j round-trip per output column rather than several.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caspr_spark.cache import register_cache
from caspr_spark.roles import ColumnRoles
from caspr_spark.operators.encode import (CategoricalEncoding,
                                          fit_encoding_with_summary,
                                          MAX_CAT_CARDINALITY)
from caspr_spark.operators.fills import fill_nans
from caspr_spark.operators.filters import filter_history_window, filter_last_n
from caspr_spark.operators.pivot import (collect_sequences, quote,
                                         sequences_to_wide)
from caspr_spark.operators.scale import (Summary, fit_summary, load_summary,
                                         normalize_columns, save_summary)


@dataclass
class SequenceFeaturizer:
    """Configuration (the unfitted Estimator). Defaults match the reference
    ``pipeline`` signature (caspr/utils/spark/preprocess.py:542-544)."""

    roles: ColumnRoles
    history_days: int = 365
    seq_len: int = 15
    left_pad: bool = False
    interval: bool = False
    scaling: str = "min_max"
    max_cardinality: int = MAX_CAT_CARDINALITY
    # final projection of the one sequence aggregate: "wide" (reference
    # slot-major {slot}_{col} order) or "array" (column-major)
    layout: str = "wide"

    def fit(self, df: DataFrame) -> "SequenceFeaturizerModel":
        _, model = self.fit_transform(df, _materialize=False)
        return model

    def fit_transform(self, df: DataFrame, _materialize: bool = True):
        """Fit encoding + summary on ``df`` and featurize it in one pass.

        The fit is one aggregate over the pre-rank prefix, so it never
        executes the W1 window; only the final featurization pays for it,
        once.
        """
        r = self.roles
        r.validate(df)
        # Persist the filtered prefix across the fit actions and the
        # featurization (one materialization instead of one scan per fit
        # job). Cache only the columns the fit jobs and the featurization
        # consume: persist() materializes EVERY column of the plan it is
        # handed (the cache is opaque to Catalyst's pruning), so without
        # this projection a payload column the roles never reference — a
        # props/body blob on the event row — is built into the cache and
        # paid for on every fit pass. Pure column pruning: the downstream
        # stages select from exactly this set, so results are unchanged.
        long_df = self._prefix(df)
        long_df = long_df.select(*self._consumed_cols(long_df))
        long_df = register_cache(long_df.persist())

        # A column both encoded and scaled (ColumnRoles allows a date
        # column) is summarized on its codes, after the encoding.
        norm_cols = r.date_cols + r.cont_cols
        encoded = [c for c in norm_cols if c in r.cat_cols]
        encoding, summary = fit_encoding_with_summary(
            long_df, r.cat_cols, [c for c in norm_cols if c not in encoded],
            self.max_cardinality)
        long_df = encoding.apply(long_df, r.cat_cols)
        summary.update(fit_summary(long_df, encoded))
        long_df, _ = normalize_columns(long_df, norm_cols, summary,
                                       self.scaling)

        model = SequenceFeaturizerModel(self, encoding, summary)
        wide = model._finish(self._rank(long_df)) if _materialize else None
        return wide, model

    def _prefix(self, df: DataFrame) -> DataFrame:
        """F1 filter + E7 date featurization (window-free stateless prefix).

        The raw activity timestamp is stashed as ``__rank_ts`` so ranking
        stays ordered by event time even after date columns become
        interval/epoch features."""
        r = self.roles
        df = filter_history_window(df, r.activity_date, r.prediction_date, self.history_days)
        df = df.withColumn("__rank_ts", F.col(r.activity_date))
        for d in r.date_cols:
            if self.interval:
                df = df.withColumn(d, F.datediff(F.col(r.prediction_date), F.col(d)))
            else:
                df = df.withColumn(d, F.unix_timestamp(F.col(d)).cast("double"))
        return df

    def _rank(self, df: DataFrame) -> DataFrame:
        """W1 on the stashed raw timestamp; drops the stash.

        Adds only ``rank_desc`` (``get_rank``'s ordering and tie-break):
        ``collect_sequences`` resolves the padding slots after the
        aggregate, so the ``count() over (partition by entity)`` behind
        ``get_rank``'s ``seq_len``/``rank_asc`` is never needed — one
        window function over the entity partition, which Spark plans
        with a partial ``WindowGroupLimit`` once ``_finish`` filters
        ``rank_desc <= seq_len``.
        """
        r = self.roles
        order = ([F.col("__rank_ts").desc()]
                 + [F.col(c).desc() for c in (r.order_tiebreak or [])])
        w = Window.partitionBy(*[F.col(c) for c in r.tgt_id]).orderBy(*order)
        return df.withColumn("rank_desc", F.row_number().over(w)).drop("__rank_ts")

    def _consumed_cols(self, long_df: DataFrame) -> list[str]:
        """Every column of the post-``_prefix`` long relation that any
        later stage reads: entity key, ranking timestamp + tie-breaks,
        role columns (sequence, categorical, continuous, date), profile
        carries, and the prediction date (consumed by absolute-mode
        fills). Order-preserving dedup against the actual columns."""
        r = self.roles
        wanted = (r.tgt_id + ["__rank_ts"] + list(r.order_tiebreak or [])
                  + r.seq_cols + r.cat_cols + r.cont_cols + r.date_cols
                  + self._profile_cols() + [r.prediction_date])
        present = set(long_df.columns)
        seen: set[str] = set()
        out: list[str] = []
        for c in wanted:
            if c in present and c not in seen:
                seen.add(c)
                out.append(c)
        return out

    def _profile_cols(self) -> list[str]:
        """The non-sequential columns carried through the featurization
        (shared by ``_consumed_cols`` and ``_finish``). Order-preserving
        dedup: ``prediction_date`` may already appear in ``output_cols``
        (without being declared non-sequential), and a duplicate here
        would alias the same aggregate twice — the wide select would
        then raise an ambiguous-column AnalysisException."""
        r = self.roles
        extra = ([r.prediction_date]
                 if not self.interval and r.prediction_date not in r.non_seq_cols
                 else [])
        wanted = r.non_seq_cols + r.output_cols + extra
        seen: set[str] = set()
        out: list[str] = []
        for c in wanted:
            if c not in seen:
                seen.add(c)
                out.append(c)
        return out

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Stages 1-3 complete (transform path, no fitting)."""
        return self._rank(self._prefix(df))


@dataclass
class SequenceFeaturizerModel:
    """Fitted featurizer: reapplies train-time encoding + summary."""

    params: SequenceFeaturizer
    encoding: CategoricalEncoding
    summary: Summary

    def transform(self, df: DataFrame) -> DataFrame:
        p = self.params
        p.roles.validate(df)
        long_df = p._prepare(df)
        long_df = self.encoding.apply(long_df, p.roles.cat_cols)
        long_df, _ = normalize_columns(long_df, p.roles.date_cols + p.roles.cont_cols,
                                       self.summary, p.scaling)
        return self._finish(long_df)

    # -- shared tail (stages 6-9) ------------------------------------------

    def _finish(self, long_df: DataFrame) -> DataFrame:
        p, r = self.params, self.params.roles
        summary_date = {d: self.summary[d] for d in r.date_cols}

        long_df = fill_nans(long_df, r.cat_cols, r.cont_cols, r.date_cols,
                            p.history_days, r.prediction_date, p.interval,
                            summary_date, p.scaling)

        # carry prediction_date through the aggregate when absolute-mode date
        # fills will need it on the wide layout (the reference requires the
        # caller to declare it non-sequential; we carry it implicitly)
        prof_vals = p._profile_cols()
        # the implicitly-carried columns (not declared non-seq/output) are
        # dropped after the wide fills; membership, not a length slice —
        # _profile_cols dedups, so positional slicing would mis-split when
        # prediction_date is also a declared output column
        declared = set(r.non_seq_cols) | set(r.output_cols)
        extra_profile = [c for c in prof_vals if c not in declared]
        # profile columns ride the sequence aggregate itself (max over the
        # single rank-1 row is deterministic): the whole featurization —
        # sequences + profile — is ONE hash aggregate, zero joins, the
        # 100 TB shape. The layouts differ only in how the aggregate is
        # projected into columns.
        prof_aggs = [F.max(F.when(F.col("rank_desc") == 1, F.col(c)))
                     .alias(c) for c in prof_vals]
        feat = collect_sequences(long_df, r.tgt_id, p.seq_len, r.seq_cols,
                                 p.left_pad, extra_aggs=prof_aggs)
        if p.layout == "array":
            wide = sequences_to_wide(feat, r.seq_cols, p.seq_len)
        else:
            # the reference pivot's slot-major order (tgt_id,
            # {slot}_{col}..., profile) and its null-key drop
            wide = feat.na.drop(subset=r.tgt_id).selectExpr(
                *map(quote, r.tgt_id),
                *[f"{quote(c + '_seq')}[{s - 1}] AS {quote(f'{s}_{c}')}"
                  for s in range(1, p.seq_len + 1) for c in r.seq_cols],
                *map(quote, prof_vals))

        cat_w, cont_w, _, _, date_w = r.wide_lists(p.seq_len, p.left_pad)
        present = set(wide.columns)
        wide = fill_nans(wide,
                         [c for c in cat_w if c in present],
                         [c for c in cont_w if c in present],
                         [c for c in date_w if c in present],
                         p.history_days, r.prediction_date, p.interval,
                         {d: self.summary[d] for d in r.date_cols}, p.scaling)
        return wide.drop(*[c for c in extra_profile])

    # -- persistence --------------------------------------------------------

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        cfg = {k: getattr(self.params, k)
               for k in ("history_days", "seq_len", "left_pad", "interval",
                          "scaling", "max_cardinality", "layout")}
        cfg["roles"] = self.params.roles.to_dict()
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump(cfg, f)
        self.encoding.save(os.path.join(path, "encoding.json"))
        save_summary(self.summary, os.path.join(path, "summary.json"))

    @classmethod
    def load(cls, path: str) -> "SequenceFeaturizerModel":
        with open(os.path.join(path, "params.json")) as f:
            cfg = json.load(f)
        roles = ColumnRoles.from_dict(cfg.pop("roles"))
        cfg.pop("cache_fit", None)  # removed field; older params.json carry it
        params = SequenceFeaturizer(roles=roles, **cfg)
        return cls(params,
                   CategoricalEncoding.load(os.path.join(path, "encoding.json")),
                   load_summary(os.path.join(path, "summary.json")))


def data_process_all(train: DataFrame, val: DataFrame, test: DataFrame,
                     featurizer: SequenceFeaturizer):
    """Fit on train; reapply to val/test (X-split leakage discipline).

    Reference: ``data_process_all_sp`` (caspr/utils/spark/preprocess.py:615-632).
    """
    train_wide, model = featurizer.fit_transform(train)
    return train_wide, model.transform(val), model.transform(test), model


def build_sliding_window_trainset(df: DataFrame, featurizer: SequenceFeaturizer,
                                  cutoffs: list, label_window_days: int = 0,
                                  activity_col: str | None = None,
                                  activities: list[str] | None = None):
    """X3: time-based data augmentation — one feature(+label) set per
    cutoff date, unioned with a ``window_id``.

    For each cutoff ``t``: features come from the history window ending at
    ``t`` (the featurizer's F1 filter), labels (optional) are the multi-hot
    of ``activity_col`` over ``(t, t + label_window_days]``. The featurizer
    is fitted once on the latest cutoff and *reapplied* to earlier windows,
    so every window shares one feature space (the train-time encoding
    discipline of data_process_all). Reference: the pandas sliding-window
    builder caspr/utils/preprocess.py:116-169 with window dates from
    ``get_sliding_window_dates`` (caspr/utils/spark/preprocess.py:468-482).

    Returns ``(unioned_wide_df, model)``.
    """
    from datetime import timedelta
    from caspr_spark.operators.labels import build_multi_hot_labels, join_labels

    r = featurizer.roles
    model = None
    out = None
    for i, cut in enumerate(cutoffs):
        part = df.withColumn(r.prediction_date, F.lit(cut))
        if model is None:
            wide, model = featurizer.fit_transform(part)
        else:
            wide = model.transform(part)
        if label_window_days and activity_col:
            labels = build_multi_hot_labels(
                df, r.tgt_id, activity_col, r.activity_date,
                label_start=cut, label_end=cut + timedelta(days=label_window_days),
                activities=activities)
            wide = join_labels(wide, labels, r.tgt_id, how="inner")
        wide = wide.withColumn("window_id", F.lit(i))
        out = wide if out is None else out.unionByName(wide)
    return out, model
