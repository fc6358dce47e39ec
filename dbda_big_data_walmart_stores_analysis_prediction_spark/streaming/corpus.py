"""Continuous corpus ingest: streaming document arrival with batch-vs-corpus
dedup on every micro-batch.

The steady-state shape of a training-data pipeline is not one big batch —
it is a stream of crawl deliveries landing against an ever-growing accepted
corpus. Structured Streaming's per-operator state stores cannot hold a
whole corpus's fingerprints, and they don't need to: ``foreachBatch``
bridges each micro-batch into ordinary batch land, where
``dedup_incremental`` already implements the right plan (batch side as the
inverted-index probe; the corpus is only ever read, never reshuffled
against itself).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_corpus_ingest(
    stream: DataFrame,
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: int | None = 10_000,
    checkpoint_dir: str | None = None,
    bloom_prefilter: bool = False,
):
    """Start a stream that appends only novel docs to ``corpus_dir``.

    Every micro-batch is deduped exactly like a daily ingest batch
    (``dedup_incremental``): exact-fingerprint anti-join vs the corpus
    parquet, min-id within the batch, near-dup Jaccard against corpus and
    earlier batch survivors — then the survivors (id, text, fp_exact) are
    APPENDED to ``corpus_dir``, which is also the state: fault tolerance
    comes from the sink's atomic parquet commits plus the source
    checkpoint, no streaming state store grows with the corpus.

    Scale notes: the corpus side is scanned once per micro-batch for
    fingerprints + shingles — at a large corpus, point the scans at
    precomputed fingerprint/shingle tables maintained by the same batch
    (see ``dedup_incremental(corpus_shingles=...)``); the plan shape is
    already bounded by batch-side shingles. Exactly-once: replays of a
    committed batch re-dedup against the corpus that already contains
    their survivors, so re-appends are filtered by the exact stage —
    idempotent by construction. Null-text rows (and ONLY null — empty
    strings hash to a valid fingerprint and replay idempotently, and the
    batch path ``dedup_incremental`` accepts them, so filtering empties
    here would make streaming and batch diverge) are dropped before dedup:
    a null text yields a null fingerprint, and the exact-stage anti-join
    on the fingerprint never matches null keys, so a replayed batch would
    re-append its null-text survivor on every replay.

    Returns the ``StreamingQuery``; callers stop it or await termination.
    """
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        dedup_incremental,
    )

    spark = stream.sparkSession

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if os.path.isdir(corpus_dir) and any(
            f.endswith(".parquet") for f in os.listdir(corpus_dir)
        ):
            corpus = spark.read.parquet(corpus_dir).select(id_col, text_col)
        else:
            corpus = spark.createDataFrame(
                [], f"{id_col} long, {text_col} string"
            )
        survivors = dedup_incremental(
            corpus,
            batch.select(id_col, text_col).where(F.col(text_col).isNotNull()),
            id_col,
            text_col,
            threshold=threshold,
            max_doc_freq=max_doc_freq,
            # optional sketch-accelerated exact stage (operators/sketches):
            # per-batch the bitset rebuilds from the corpus scan, so the
            # local win is nil — the flag exists for deployments that
            # maintain a STANDING bitset alongside corpus_dir (the
            # bit_or-mergeable append path); semantics are identical
            # either way (q91 hash-checks that), so replay idempotency
            # is unchanged.
            bloom_prefilter=bloom_prefilter,
        )
        kept = survivors.join(
            batch.select(id_col, text_col), id_col, "inner"
        ).select(id_col, text_col, F.col("fp_exact"))
        kept.write.mode("append").parquet(corpus_dir)

    writer = stream.writeStream.foreachBatch(_ingest)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
