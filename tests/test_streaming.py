"""Event-time operators, and the stateless operators that run unchanged on
a ``readStream`` frame: each streamed result (readStream → writeStream)
must equal the batch result."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.streaming.events import (
    native_session_windows,
    sessionize,
    streaming_click_purchase_join,
)
from tests.conftest import SF_SMOKE


def _events(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.catalog import (
        load_star_table,
    )

    return load_star_table(spark, SF_SMOKE, "events")


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream inner join: replayed result must equal the
    same join expression run in batch (inner joins emit eagerly; the
    watermark only bounds state)."""
    import tempfile

    events = _events(spark)
    with tempfile.TemporaryDirectory() as d:
        events.coalesce(1).write.parquet(f"{d}/in")
        stream = spark.readStream.schema(events.schema).parquet(f"{d}/in")
        clicks_s = stream.where(F.col("event_type") == "click")
        purchases_s = stream.where(F.col("event_type") == "purchase")
        q = (
            streaming_click_purchase_join(clicks_s, purchases_s)
            .writeStream.format("memory")
            .queryName("attrib_smoke")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.table("attrib_smoke").collect()
        }
    batch = streaming_click_purchase_join(
        events.where(F.col("event_type") == "click"),
        events.where(F.col("event_type") == "purchase"),
    )
    want = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert want, "fixture should contain attributable purchases"
    assert got == want


def test_native_vs_islands_sessionize(spark):
    events = _events(spark)
    native = native_session_windows(events)
    islands = sessionize(events)
    # same session COUNT per user (end-bound semantics differ, grouping not)
    n = {r["user_id"]: r["cnt"] for r in native.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    i = {r["user_id"]: r["cnt"] for r in islands.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert n == i


def test_dedup_events_tie_keeps_one_real_record(spark):
    """Two records sharing (key, ts) must survive as ONE of the actual
    input records — per-column min_by would stitch user_id from one tied
    record and value from the other into a row that never existed."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.streaming.events import (
        dedup_events,
    )

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 9, "click", 5.0),
            (1, "2024-01-01 00:00:00", 2, "view", 7.0),
            (1, "2024-01-01 00:00:01", 1, "aaaa", 1.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dedup_events(ev).collect()
    assert len(out) == 1
    r = out[0]
    # survivor = lexicographic-min record among the ts ties: (2, view, 7.0)
    assert (r["user_id"], r["event_type"], r["value"]) == (2, "view", 7.0)


def test_streaming_dedup_matches_batch(spark):
    """A doubled fixture (every record delivered twice, as a retried
    stream delivery would be) dedups back to exactly the original rows."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.streaming.events import (
        dedup_events,
    )

    ev = _events(spark).limit(200).localCheckpoint()
    got = dedup_events(ev.unionAll(ev))
    assert got.count() == ev.count()
    assert got.exceptAll(ev).count() == 0 and ev.exceptAll(got).count() == 0


def test_streaming_tokenize_matches_batch(spark, tmp_path):
    """The encode half of the tokenizer family over a document STREAM:
    a saved artifact (both families) applied via encode_with_artifact to
    a replayed parquet stream must produce exactly the batch encoding —
    the encoders are stateless broadcast-model projections, so lifting
    them to Structured Streaming must be a no-op semantically."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        train_bpe,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.unigram import (
        train_unigram,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        encode_with_artifact,
        load_tokenizer_artifact,
        save_tokenizer_artifact,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower"),
            (2, "newest widest lower low"),
            (3, "the lowest of the low"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "in"))

    for family, train in (
        ("bpe", lambda d: train_bpe(d, n_merges=3, min_pair_count=1)),
        ("uni", lambda d: train_unigram(d, vocab_size=6, max_piece_len=3)),
        ("wp", lambda d: train_wordpiece(d, n_merges=3, min_pair_count=1)),
    ):
        save_tokenizer_artifact(train(docs), str(tmp_path / family))
        model = load_tokenizer_artifact(spark, str(tmp_path / family))
        batch = sorted(
            tuple(r) for r in encode_with_artifact(docs, model).collect()
        )
        stream = spark.readStream.schema(docs.schema).parquet(
            str(tmp_path / "in")
        )
        q = (
            encode_with_artifact(stream, model)
            .writeStream.format("memory")
            .queryName(f"tok_{family}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{family}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = sorted(
            tuple(r) for r in spark.table(f"tok_{family}").collect()
        )
        assert streamed == batch, family


def test_streaming_objectives_match_batch(spark, tmp_path):
    """Training-objective rewrites over a document STREAM must equal the
    batch result. fim_transform is a stateless projection, so it lifts to
    Structured Streaming directly; span_corruption carries a per-doc
    window (unsupported on streaming frames), but it is a pure function
    of each doc alone, so the foreachBatch lift is batch-INVARIANT: the
    union of per-microbatch outputs equals the one-shot batch output.
    Replayed with maxFilesPerTrigger=1 to force multiple microbatches."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.objectives import (
        fim_transform,
        span_corruption,
    )

    docs = spark.createDataFrame(
        [
            (i, f"tok{i} " * (5 + i % 7) + "tail words here")
            for i in range(40)
        ]
        + [(99, None)],
        "doc_id long, text string",
    )
    # several input files -> several microbatches
    docs.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "in"))
    stored = spark.read.parquet(str(tmp_path / "in"))

    batch_fim = sorted(tuple(r) for r in fim_transform(stored).collect())
    batch_span = sorted(tuple(r) for r in span_corruption(stored).collect())

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )

    q1 = (
        fim_transform(stream)
        .writeStream.format("memory")
        .queryName("fim_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fim"))
        .trigger(availableNow=True)
        .start()
    )

    out_dir = str(tmp_path / "span_out")

    def _apply_span(bdf, _bid):
        span_corruption(bdf).write.mode("append").parquet(out_dir)

    q2 = (
        stream.writeStream.foreachBatch(_apply_span)
        .option("checkpointLocation", str(tmp_path / "ckpt_span"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    got_fim = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM fim_stream").collect()
    )
    got_span = sorted(
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    )
    assert got_fim == batch_fim
    assert got_span == batch_span


def test_streaming_random_projection_matches_batch(spark, tmp_path):
    """random_projection's production Arrow path over an embedding
    STREAM: a stateless broadcast-coefficient projection (no shuffle,
    no aggregation), so lifting it to Structured Streaming must be a
    semantic no-op — the continuous re-embed/re-project path of a
    corpus refresh."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.similarity import (
        random_projection,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "emb"))
    batch = sorted(
        tuple(r) for r in random_projection(emb, 4, 64, salt="st").collect()
    )
    stream = spark.readStream.schema(emb.schema).parquet(
        str(tmp_path / "emb")
    )
    q = (
        random_projection(stream, 4, 64, salt="st")
        .writeStream.format("memory")
        .queryName("proj_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_proj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        tuple(r) for r in spark.table("proj_stream").collect()
    )
    assert streamed == batch


