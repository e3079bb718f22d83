"""Multimodal columns: image/audio/video as opaque binary payloads with
typed metadata, plus the Arrow-batched decode/feature plumbing.

Design: a modality column is ``BinaryType`` payload + a metadata struct
(content sha256, byte length, declared mime). Content addressing uses
``sha2`` so dedup and caching compose with the dedup operators. The
decode / feature-extraction step runs as ``mapInPandas`` (Arrow batches
in, Arrow batches out) -- the only sane shape for per-item Python work
at scale. The actual codecs (PIL/librosa/av) are NOT in this container,
so ``decode_fn`` is pluggable: the default deterministic fake derives
"features" from the payload bytes, and a real codec is injected in
its place. The Spark-side plumbing -- schema, batching,
partitioning -- is real and tested.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .pairs import bucket_pairs

# Ship function bodies by value (workers may not have this package on
# PYTHONPATH when the driver embeds us from an arbitrary cwd).
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def attach_binary_payload(
    df: DataFrame, source_col: str, mime: str = "application/octet-stream"
) -> DataFrame:
    """Wrap a column's bytes as a modality payload with metadata.
    (With real media, the payload arrives as parquet BinaryType
    already; here text bytes stand in so the plumbing is testable.)"""
    payload = F.encode(F.col(source_col), "UTF-8")
    return df.withColumns(
        {
            "payload": payload,
            "content_sha256": F.sha2(payload, 256),
            "n_bytes": F.octet_length(payload).cast("long"),
            "mime": F.lit(mime),
        }
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content_sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a media decoder: 4 features derived
    from payload bytes. Replace with PIL/librosa decode in production."""
    if not payload:
        return [0.0, 0.0, 0.0, 0.0]
    n = len(payload)
    return [
        float(n),
        float(payload[0]),
        float(payload[-1]),
        float(sum(payload[:: max(1, n // 16)]) % 997),
    ]


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content_sha256", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized", BinaryType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Arrow-batched image resize plumbing. The real codec (PIL) is not
    installed here, so the default ``resize_fn`` is a deterministic
    fake (truncate/pad payload to width*height bytes); swap in
    ``lambda b, w, h: PIL_resize(b, w, h)`` in production. One output
    row per input row -- mapInPandas, no shuffle."""

    def default_resize(payload: bytes, w: int, h: int) -> bytes:
        need = w * h
        return (payload * (need // max(len(payload), 1) + 1))[:need]

    fn = resize_fn or default_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "content_sha256": pdf["content_sha256"].values,
                    "width": width,
                    "height": height,
                    # NULL payload (e.g. NULL source text) stays
                    # NULL -- codecs cannot resize missing bytes.
                    "resized": [fn(bytes(p), width, height)
                                if p is not None else None
                                for p in pdf["payload"]],
                }
            )

    return df.select("doc_id", "payload", "content_sha256").mapInPandas(
        run, schema=RESIZE_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 256,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: one input row
    fans out to <= max_frames rows (mapInPandas generator shape). The
    deterministic fake treats every ``every_n_bytes`` slice as a
    "frame"; a real build decodes with av/ffmpeg. Output is exploded
    (doc_id, frame_no, frame) -- the shape downstream feature
    extraction expects."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # no bytes, no frames
                raw = bytes(payload)
                for i in range(min(max_frames, max(len(raw), 1) // every_n_bytes + 1)):
                    ids.append(doc_id)
                    nos.append(i)
                    frames.append(raw[i * every_n_bytes:(i + 1) * every_n_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_no": nos, "frame": frames})

    return df.select("doc_id", "payload").mapInPandas(run, schema=FRAME_SCHEMA)


def extract_features(
    df: DataFrame,
    decode_fn: Callable[[bytes], list[float]] = fake_decode,
    batch_limit: int = 1024,
) -> DataFrame:
    """Arrow-batched feature extraction over payload bytes.

    ``mapInPandas`` keeps transfer vectorized; decode_fn runs per item
    inside the batch. Input needs columns doc_id/payload/
    content_sha256/n_bytes (from attach_binary_payload).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                yield pd.DataFrame(
                    {
                        "doc_id": chunk["doc_id"].values,
                        "content_sha256": chunk["content_sha256"].values,
                        "n_bytes": chunk["n_bytes"].values,
                        # NULL payload -> NULL features.
                        "features": [
                            decode_fn(bytes(p)) if p is not None else None
                            for p in chunk["payload"]
                        ],
                    }
                )

    cols = ["doc_id", "payload", "content_sha256", "n_bytes"]
    return df.select(*cols).mapInPandas(run, schema=FEATURE_SCHEMA)


def payload_phash16(
    df: DataFrame, payload_col: str = "payload", out_col: str = "phash16"
) -> DataFrame:
    """16-bit blockwise-mean perceptual hash of a binary payload: the
    bytes split into 16 contiguous blocks (integer-division bounds
    ``[b*n//16, (b+1)*n//16)``) and bit b is set iff block b's mean
    byte value reaches the payload's global mean. The compare is the
    exact integer cross product (``blocksum * n >= total * blocklen``),
    so no division or float ever runs and the hash is bit-identical
    cross-engine (the DuckDB oracle replays the same int64 math in
    SQL). Small in-block edits leave most block means (hence most
    bits) intact -- the pHash blocking idea with the DCT swapped for
    plain block means, which is what stays replayable without a codec.

    Implementation is an Arrow-batched pandas UDF over numpy int64
    cumulative sums -- O(n) per payload, vectorized within each row.
    An earlier all-JVM-expression variant (hex + per-byte substring
    inside nested higher-order functions) looked shuffle-free but ran
    ~37x slower: Spark evaluates higher-order lambdas interpreted
    (never whole-stage codegen), and projection collapse inlined the
    per-byte array once per block. Binary decode is exactly what the
    Pandas-UDF lane is for at 100 TB -- same lane as
    ``extract_features``/``decode_frames``.

    Payloads shorter than 16 bytes have no meaningful blocks, so the
    hash is NULL for them -- the guard lives HERE, not at call sites,
    so direct use of the operator is safe too.

    Scale shape: one narrow Arrow map over the payload column; the
    per-row byte array is transient batch state, never shuffled.
    """

    @pandas_udf("long")
    def _phash16(payloads: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        bounds_cache: dict[int, "np.ndarray"] = {}
        for p in payloads:
            if p is None:
                out.append(None)
                continue
            n = len(p)
            if n < 16:
                out.append(None)
                continue
            arr = np.frombuffer(bytes(p), dtype=np.uint8)
            cs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(arr, out=cs[1:])
            bounds = bounds_cache.get(n)
            if bounds is None:
                bounds = (np.arange(17, dtype=np.int64) * n) // 16
                bounds_cache[n] = bounds
            bsums = cs[bounds[1:]] - cs[bounds[:-1]]
            blens = np.diff(bounds)
            tot = int(cs[n])
            bits = (bsums * n) >= (tot * blens)
            out.append(int(np.dot(bits, 1 << np.arange(16, dtype=np.int64))))
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, _phash16(F.col(payload_col)))


def phash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 2,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Perceptual near-dup pairs over binary payloads.

    Candidate generation runs on DISTINCT HASH VALUES, not documents:
    a 16-bit hash has <= 65536 distinct values however large the
    corpus, and every doc pair's hamming distance is a function of
    the two hashes alone. Blocking documents directly would be
    quadratic in the (typically heavily clustered) per-bucket doc
    counts -- measured 37x slower at sf0.1. Stages:

    1. hash every payload (one narrow corpus map);
    2. group docs by hash -> (hash, ids, cnt); clusters larger than
       ``max_bucket_size`` docs are dropped whole (boilerplate-storm
       guard, same discipline as simhash_near_pairs);
    3. block the distinct hashes on THREE segments of the hash
       (6+5+5 bits -- pigeonhole: a pair differing in <= 2 bits can
       touch at most 2 segments, so it MUST share one; two halves
       would only guarantee hamming <= 1), cap hash-buckets at
       ``max_bucket_size`` distinct hashes, and emit hash pairs with
       exact ``bit_count(xor) <= max_hamming``;
    4. expand hash pairs to doc pairs through the membership table
       (output-bounded join), plus the within-cluster hamming-0
       pairs.

    A doc pair can arise from exactly one hash pair (each doc has one
    hash), so no final dedup shuffle is needed. Recall is exact for
    ``max_hamming <= 2`` given no bucket overflow (pinned by a
    brute-force differential in test_session6_props.py); larger radii
    would need h+1 segments."""
    if max_hamming > 2:
        raise ValueError(
            "phash_near_pairs blocks on 3 segments: exact recall only "
            f"for max_hamming <= 2, got {max_hamming}"
        )
    h = payload_phash16(df, payload_col).select(
        F.col(id_col).alias("id"), "phash16"
    ).filter(F.col("phash16").isNotNull())
    # Materialize once: the membership table feeds FOUR consumers
    # (same-hash pairs, hash nodes, and both sides of the expansion
    # join); left lazy each would replay the payload-hash corpus scan
    # -- the expensive pass. Bounded at <= 65536 rows (16-bit hash).
    groups = (
        h.groupBy("phash16")
        .agg(F.collect_list("id").alias("ids"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") <= max_bucket_size)
        .localCheckpoint(eager=True)
    )
    same = (
        groups.filter(F.col("cnt") >= 2)
        .select(bucket_pairs("ids", score={"hamming": "0L"}))
        .select("p.id_a", "p.id_b", "p.hamming")
    )
    if max_hamming == 0:
        return same
    nodes = groups.select("phash16")
    segs = nodes.select(
        "phash16",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("seg_no"),
                    (F.col("phash16") % 64).alias("seg"),
                ),
                F.struct(
                    F.lit(1).alias("seg_no"),
                    F.expr("(phash16 DIV 64) % 32").alias("seg"),
                ),
                F.struct(
                    F.lit(2).alias("seg_no"),
                    F.expr("phash16 DIV 2048").alias("seg"),
                ),
            )
        ).alias("c"),
    ).select("phash16", F.col("c.seg_no"), F.col("c.seg"))
    buckets = (
        segs.groupBy("seg_no", "seg")
        .agg(F.collect_list("phash16").alias("hs"))
        .filter((F.size("hs") >= 2) & (F.size("hs") <= max_bucket_size))
    )
    hash_pairs = (
        buckets.select(bucket_pairs(
            "hs", names=("ha", "hb"),
            score={"hamming": "CAST(bit_count(x ^ y) AS BIGINT)"},
        ))
        .select("p.ha", "p.hb", "p.hamming")
        .filter(
            (F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming)
        )
        .dropDuplicates(["ha", "hb"])
    )
    ga = groups.select(
        F.col("phash16").alias("ha"), F.col("ids").alias("ids_a")
    )
    gb = groups.select(
        F.col("phash16").alias("hb"), F.col("ids").alias("ids_b")
    )
    cross = (
        hash_pairs.join(ga, "ha")
        .join(gb, "hb")
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids_a, a ->"
                    " transform(ids_b, b ->"
                    " named_struct('id_a', least(a, b),"
                    " 'id_b', greatest(a, b)))))"
                )
            ).alias("p"),
            "hamming",
        )
        .select("p.id_a", "p.id_b", "hamming")
    )
    return same.unionByName(cross)
