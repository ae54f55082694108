"""Multimodal column plumbing — opaque binary payloads + typed metadata.

Design for a 100 TB training-data pipeline: media live as ``binary``
columns (or object-store URIs) beside typed metadata; decode /
feature-extract / frame-sample run as Arrow-batched ``mapInPandas``
stages so each task streams record batches without materializing the
whole partition, and the output schema is declared up front (stable
plans, no inference).

The heavy codecs (Pillow / torchaudio / ffmpeg) are not in this
container, so the *decode kernels* are deterministic stand-ins operating
on the raw bytes (documented per function); the Spark-side plumbing —
schema, batching, UDF signatures, partitioning — is the real article.
Swap ``_decode_*_kernel`` for a real codec and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caspr_spark.workers import shipped

try:  # real codecs, if ever present in the image
    from PIL import Image  # noqa: F401
    HAVE_PIL = True
except Exception:  # pragma: no cover - not installed here
    HAVE_PIL = False


def attach_binary_payload(df: DataFrame, text_col: str = "text",
                          media_type: str = "application/octet-stream") -> DataFrame:
    """Materialize an opaque ``binary`` payload column + typed metadata.

    In production the payload column comes straight from the lakehouse
    (image/audio bytes); here we derive it from ``text_col`` so the
    downstream plumbing runs on real bytes.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return (df.withColumn("payload", payload)
              .withColumn("media_type", F.lit(media_type))
              .withColumn("payload_bytes", F.length(payload).cast("long")))


def decode_image(payload: bytes):  # pragma: no cover - gate for real codec
    """Real image decode — requires Pillow, absent in this container."""
    if not HAVE_PIL:
        raise NotImplementedError("image decode requires Pillow; "
                                  "install it and swap the kernel in")
    raise NotImplementedError


def extract_features(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id", batch_size: int = 1024) -> DataFrame:
    """Per-payload feature extraction via Arrow-batched ``mapInPandas``.

    Stand-in kernel (deterministic, codec-free): byte length, mean and max
    of the first 32 bytes — the shape of "decode then pool" with the codec
    removed. Output schema is declared, so Catalyst plans around it.
    """
    schema = f"{id_col} long, n_bytes long, head_mean double, head_max int"

    @shipped
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start:start + batch_size]
                payloads = chunk[payload_col]
                n = len(chunk)
                lens = np.fromiter((len(b) for b in payloads),
                                   dtype=np.int64, count=n)
                # pool vectorized: zero-pad each head to 32 bytes (C-level
                # bytes ops), pool as one [n, 32] uint8 matrix
                padded = b"".join(b[:32].ljust(32, b"\0") for b in payloads)
                heads = np.frombuffer(padded, dtype=np.uint8).reshape(n, 32)
                head_len = np.minimum(lens, 32)
                head_sum = heads.sum(axis=1, dtype=np.int64)
                yield pd.DataFrame({
                    id_col: chunk[id_col].values,
                    "n_bytes": lens,
                    "head_mean": head_sum / np.maximum(head_len, 1),
                    "head_max": heads.max(axis=1).astype("int32"),
                })

    # NOTE: no forced repartition here — fanning a cheap Python kernel over
    # many partitions costs more in python-worker startup than it saves;
    # callers with heavy codecs repartition explicitly
    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def sample_frames(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "doc_id", stride: int = 16,
                  max_frames: int = 8) -> DataFrame:
    """Frame sampling via ``mapInPandas``: every ``stride``-th byte, up to
    ``max_frames`` per payload → one output row per (payload, frame).

    Stand-in for video frame extraction: position arithmetic, per-record
    fan-out, and the long-format (id, frame_idx, value) output are exactly
    what a real ffmpeg kernel produces; only the pixel math is faked
    (frame value = the sampled byte).
    """
    schema = f"{id_col} long, frame_idx int, frame_byte int"
    span = (max_frames - 1) * stride + 1          # last sampled position + 1

    @shipped
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            # strided bytes slicing is C-level: b[0:span:stride] IS the
            # sampled frame sequence; fan-out via repeat/arange
            sampled = [b[:span:stride] for b in pdf[payload_col]]
            counts = np.fromiter((len(s) for s in sampled),
                                 dtype=np.int64, count=len(sampled))
            total = int(counts.sum())
            offsets = np.repeat(counts.cumsum() - counts, counts)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(np.int64), counts),
                "frame_idx": (np.arange(total) - offsets).astype("int32"),
                "frame_byte": np.frombuffer(b"".join(sampled),
                                            dtype=np.uint8).astype("int32"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)
