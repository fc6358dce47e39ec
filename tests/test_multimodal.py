"""Multimodal plumbing tests (operators/multimodal.py): schema contracts,
deterministic byte-level features, frame-sample shapes — the Spark-side
batch plumbing around opaque media bytes."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    attach_blob,
    extract_features,
    frame_sample_plan,
)


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, "abcd" * 100), (2, "A\x00" * 10), (3, "")],
        "doc_id long, text string",
    )
    return attach_blob(df, "doc_id", "text", media_type="text/plain")


def test_attach_blob_schema(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "payload",
        "media_type",
        "n_bytes",
    ]
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[1]["n_bytes"] == 400
    assert rows[3]["n_bytes"] == 0


def test_extract_features_deterministic(media):
    feats = extract_features(media, n_bins=16)
    assert feats.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in feats.collect()}
    # "abcd"*100: 4 symbols, 100 each; a/b/c/d all in bin 6 (97*16//256..)
    # entropy over BINS: a,b,c,d -> bins 6,6,6,6 => single bin, entropy 0
    assert rows[1]["byte_entropy"] == 0.0
    assert sum(rows[1]["byte_histogram"]) == pytest.approx(1.0)
    # empty payload: zero entropy, zero histogram
    assert rows[3]["byte_entropy"] == 0.0
    assert sum(rows[3]["byte_histogram"]) == 0.0
    # 'A' (bin 4) and NUL (bin 0) at 50/50 -> 1 bit over the 16 bins
    assert rows[2]["byte_entropy"] == pytest.approx(
        -2 * 0.5 * math.log2(0.5), abs=1e-6
    )


def test_extract_features_null_payload(spark):
    """A NULL payload is an unknown blob, not an empty one: n_bytes stays
    NULL (= the SQL oracle's length(NULL)), entropy scores 0.0 — the
    divergence the q39 oracle would catch if fixtures gained null docs."""
    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    feats = extract_features(attach_blob(df, "doc_id", "text"))
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] is None
    assert rows[1]["byte_entropy"] == 0.0
    assert rows[2]["n_bytes"] == 0
    assert rows[2]["byte_entropy"] == 0.0


def test_frame_sample_counts(media):
    out = frame_sample_plan(media, every_n_bytes=64, max_frames=8)
    rows = {r["media_id"]: r for r in out.collect()}
    # 400 bytes / 64 -> 7 frames (6 full + 1 partial); empty payload -> 0
    assert rows[1]["n_frames"] == 7
    assert rows[3]["n_frames"] == 0


def test_binary_blob_features_use_full_byte_range(spark):
    """q163's point: the md5-derived payload is GENUINE binary — its
    histogram mass must land in high bins (>= 8) that no ASCII text
    payload can reach (ASCII <= 0x7f => bins 0-7 only), and entropy on
    64 near-uniform bytes must approach log2(16)."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.multimodal import (
        attach_blob,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    t = F.col("text")
    hx = F.concat(
        F.md5(t),
        F.md5(F.concat(t, F.lit("1"))),
        F.md5(F.concat(t, F.lit("2"))),
        F.md5(F.concat(t, F.lit("3"))),
    )
    media = attach_blob(
        docs.select("doc_id", F.unhex(hx).alias("blob")),
        "doc_id",
        "blob",
        media_type="application/octet-stream",
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    for mid in (1, 2):
        r = rows[mid]
        assert r["n_bytes"] == 64
        hi_mass = sum(r["byte_histogram"][8:])
        assert hi_mass > 0.2, r["byte_histogram"]  # ASCII would be 0.0
        assert r["byte_entropy"] > 3.0  # near-uniform over 16 bins
    assert rows[3]["n_bytes"] is None and rows[3]["byte_entropy"] == 0.0
