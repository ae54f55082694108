"""Output checks. Each returns a list of problems; empty means correct.

They take plain pandas / Python values so that the tests can feed them
deliberately corrupted outputs without a Spark session.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, floats as 12-significant-digit text, rows
    sorted: the order-insensitive form the repo's oracle gate hashes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].map(lambda v: "null" if pd.isna(v) else f"{v:.12g}")
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        canonical(df).to_csv(index=False).encode()).hexdigest()[:16]


def check_featurize(got: pd.DataFrame, oracle: pd.DataFrame,
                    layout: str) -> list[str]:
    if len(got) != len(oracle):
        return [f"{layout}: {len(got)} rows, oracle {len(oracle)}"]
    if sorted(got.columns) != sorted(oracle.columns):
        return [f"{layout}: columns {sorted(got.columns)} != "
                f"{sorted(oracle.columns)}"]
    hg, ho = value_hash(got), value_hash(oracle)
    return [] if hg == ho else [f"{layout}: hash {hg} != oracle {ho}"]


def check_train(histories: list[list[float]], n_entities: int,
                scored: list[dict], width: int) -> list[str]:
    """``histories``: the loss history of each fit with one seed;
    ``scored``: per scoring pass, ``rows``, ``min_width``, ``max_width``
    and ``nonfinite`` (embeddings holding a NaN or infinity)."""
    problems = []
    for h in histories:
        if not h or not all(math.isfinite(x) for x in h):
            problems.append(f"non-finite or empty loss history {h}")
        elif not h[-1] < h[0]:
            problems.append(f"loss did not decrease: {h[0]} -> {h[-1]}")
    finals = {h[-1] for h in histories if h}
    if len(finals) > 1:
        problems.append(f"final loss differs across fits: {sorted(finals)}")
    for s in scored:
        if s["rows"] != n_entities:
            problems.append(f"scored {s['rows']} rows, {n_entities} entities")
        if s["min_width"] != width or s["max_width"] != width:
            problems.append(f"embedding width {s['min_width']}.."
                            f"{s['max_width']}, want {width}")
        if s["nonfinite"]:
            problems.append(f"{s['nonfinite']} non-finite embeddings")
    return problems


def check_dedup(kept: pd.DataFrame, originals: list[int],
                state_before: list, state_after: list,
                outputs_before: list, outputs_after: list) -> list[str]:
    """``kept``: the corpus (``doc_id``, ``text``) after the ingest;
    ``*_before``/``*_after``: committed state versions and output dirs
    around the replayed fold."""
    problems = []
    key = kept["text"].str.lower().str.split().str.join(" ")
    if key.duplicated().any():
        problems.append(f"{int(key.duplicated().sum())} kept documents "
                        "repeat a content key")
    if len(kept) != len(originals):
        problems.append(f"kept {len(kept)} documents, planted "
                        f"{len(originals)} distinct originals")
    elif sorted(kept["doc_id"].tolist()) != sorted(originals):
        problems.append("kept ids are not the planted originals")
    if state_after != state_before:
        problems.append(f"replay changed state versions {state_before} -> "
                        f"{state_after}")
    if outputs_after != outputs_before:
        problems.append(f"replay changed output dirs {outputs_before} -> "
                        f"{outputs_after}")
    return problems
