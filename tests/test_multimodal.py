"""Multimodal plumbing: payload attach, feature extraction, resize,
frame sampling -- the Spark-side shape is real even though codecs are
deterministic fakes (not installed in this container)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.catalog import read_table
from s3_parquet_to_postgres_spark.operators import multimodal as M

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def payloads(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    return M.attach_binary_payload(docs, "text", mime="text/plain")


def test_payload_metadata(spark, payloads):
    row = payloads.select("payload", "content_sha256", "n_bytes", "mime").first()
    assert row["n_bytes"] == len(row["payload"])
    assert len(row["content_sha256"]) == 64
    assert row["mime"] == "text/plain"


def test_extract_features_shape(spark, payloads):
    out = M.extract_features(payloads)
    assert out.columns == ["doc_id", "content_sha256", "n_bytes", "features"]
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == 4 for r in rows)
    # Deterministic: same payload -> same features.
    again = {r["doc_id"]: r["features"] for r in M.extract_features(payloads).collect()}
    assert all(again[r["doc_id"]] == r["features"] for r in rows)


def strict_decode_stub(payload: bytes) -> list[float]:
    """The real integration point; codecs are not installed here."""
    raise NotImplementedError(
        "media decode requires PIL/librosa/av, not available in this "
        "environment -- inject fake_decode or a real codec"
    )


def test_strict_stub_raises(spark, payloads):
    out = M.extract_features(payloads, decode_fn=strict_decode_stub)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        out.collect()


def test_resize_images_fixed_size(spark, payloads):
    out = M.resize_images(payloads, width=16, height=4).collect()
    assert len(out) == 50
    assert all(len(r["resized"]) == 64 for r in out)
    assert all(r["width"] == 16 and r["height"] == 4 for r in out)


def test_sample_frames_fanout(spark, payloads):
    frames = M.sample_frames(payloads, every_n_bytes=100, max_frames=3)
    pdf = frames.toPandas()
    assert set(pdf.columns) == {"doc_id", "frame_no", "frame"}
    per_doc = pdf.groupby("doc_id")["frame_no"].count()
    assert (per_doc <= 3).all() and (per_doc >= 1).all()
    # Frames are slices of the payload in order.
    assert (pdf["frame_no"] >= 0).all()
