"""Incremental MinHash-LSH dedup index: dedup the DELTA, not the
corpus.

At 100 TB nobody re-runs near-dup detection over the whole corpus per
ingest; the production pattern is a persisted signature index that new
documents join against. Each ingest batch:

1. sketches ONLY the new docs (minhash signatures + band hashes --
   the expensive corpus scan is proportional to the delta);
2. finds candidates as (new x index) via a band-hash EQUI-JOIN
   against the stored band table, plus (new x new) via the grouped
   in-batch bucketing of ``minhash_lsh_pairs``;
3. appends the new band rows to the index (32 longs + bands keys per
   doc -- the index holds sketches, never text).

Union of pairs across any batch split equals the single-shot
full-corpus LSH pairs (pinned by test): a pair sharing a band bucket
is found when its LATER member arrives.

Scale posture: the index is partitioned parquet keyed by
(band, band_hash); the candidate join is an equi-join whose shuffle
carries signatures (num_hashes longs/doc), never documents. Hot
buckets are dropped with the same ``max_bucket_size`` declared
semantics as the batch operator (bucket size measured over the
index + delta, so caps converge to the full-corpus behavior as the
index grows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import banded_signatures, jaccard_est_sql, minhash_signatures
from .pairs import bucket_pairs


@dataclass(frozen=True)
class LshIndexConfig:
    num_hashes: int = 32
    bands: int = 8
    n: int = 3
    hash_family: str = "xxhash64"
    max_bucket_size: int = 1024


class LshIndex:
    """Persisted band-table index under ``index_dir``. ``ingest``
    returns the batch's candidate pairs (vs the index AND within the
    batch) and appends the batch's sketches to the index."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 config: LshIndexConfig | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.cfg = config or LshIndexConfig()

    def _existing(self) -> DataFrame | None:
        if not os.path.isdir(self.index_dir):
            return None
        return self.spark.read.parquet(self.index_dir)

    def ingest(self, new_docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
        c = self.cfg
        sig = minhash_signatures(
            new_docs, id_col, text_col, c.num_hashes, c.n, c.hash_family
        )
        banded_new = banded_signatures(
            sig, c.num_hashes, c.bands, c.hash_family
        )
        existing = self._existing()

        # Bucket-size guard over index + delta so incremental caps
        # converge to the batch operator's behavior.
        all_rows = (
            banded_new if existing is None
            else banded_new.unionByName(existing)
        )
        sizes = all_rows.groupBy("band", "band_hash").agg(
            F.count("*").alias("__bn")
        )
        ok_buckets = sizes.filter(
            (F.col("__bn") >= 2) & (F.col("__bn") <= c.max_bucket_size)
        ).select("band", "band_hash")

        pairs = None
        if existing is not None:
            old = existing.select(
                F.col("id").alias("id_o"),
                F.col("sig").alias("sig_o"),
                "band",
                "band_hash",
            )
            nw = banded_new.join(ok_buckets, ["band", "band_hash"],
                                 "left_semi")
            cross = nw.join(old, ["band", "band_hash"]).filter(
                F.col("id") != F.col("id_o")
            )
            pairs = cross.select(
                F.least("id", "id_o").alias("id_a"),
                F.greatest("id", "id_o").alias("id_b"),
                F.expr(jaccard_est_sql("sig", "sig_o", c.num_hashes))
                .alias("jaccard_est"),
            )

        nw2 = banded_new.join(ok_buckets, ["band", "band_hash"], "left_semi")
        in_batch_buckets = (
            nw2.groupBy("band", "band_hash")
            .agg(F.collect_list(F.struct("id", "sig")).alias("ms"))
            .filter(F.size("ms") >= 2)
        )
        est = jaccard_est_sql("x.sig", "y.sig", c.num_hashes)
        in_batch = (
            in_batch_buckets.select(
                bucket_pairs("ms", "id", score={"jaccard_est": est}))
            .select("p.id_a", "p.id_b", "p.jaccard_est")
        )
        pairs = in_batch if pairs is None else pairs.unionByName(in_batch)
        result = pairs.dropDuplicates(["id_a", "id_b"])

        # Materialize pairs BEFORE mutating the index so the returned
        # plan cannot observe its own batch through the appended files
        # (localCheckpoint cuts the lineage without a driver collect).
        result = result.localCheckpoint(eager=True)
        banded_new.write.mode("append").parquet(self.index_dir)
        return result


class ExactDedupIndex:
    """Persisted exact-dedup registry: (content sha256 -> keeper id),
    first-ingested-wins. Each ``ingest`` annotates the batch --
    is_duplicate + the keeper the content resolves to (an earlier
    ingest's keeper, or the batch's min-id row for content first seen
    now) -- and appends the newly-seen hashes. The E1 companion to
    ``LshIndex``: at 100 TB the registry holds 32-byte keys + ids,
    never text, and the lookup is one broadcast-able equi-join on the
    hash. With batches arriving in id order the keeper equals the
    global-min-id keeper of a full-corpus dedup (pinned by test);
    out-of-order arrival keeps the production semantic of
    first-ingested-wins.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir

    def _existing(self) -> DataFrame | None:
        if not os.path.isdir(self.index_dir):
            return None
        return self.spark.read.parquet(self.index_dir)

    def ingest(self, docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
        hashed = docs.select(
            F.col(id_col).alias("id"),
            F.sha2(F.col(text_col), 256).alias("content_hash"),
        )
        batch_keeper = hashed.groupBy("content_hash").agg(
            F.min("id").alias("batch_keeper")
        )
        existing = self._existing()
        if existing is not None:
            prior = existing.select(
                "content_hash", F.col("keeper").alias("prior_keeper")
            )
            resolved = batch_keeper.join(prior, "content_hash", "left")
        else:
            resolved = batch_keeper.withColumn(
                "prior_keeper", F.lit(None).cast("long")
            )
        resolved = resolved.select(
            "content_hash",
            F.coalesce("prior_keeper", "batch_keeper").alias("keeper"),
            F.col("prior_keeper").isNotNull().alias("seen_before"),
        )
        out = (
            hashed.join(resolved, "content_hash")
            .select(
                "id",
                "content_hash",
                "keeper",
                (F.col("id") != F.col("keeper")).alias("is_duplicate"),
            )
            .localCheckpoint(eager=True)
        )
        new_hashes = resolved.filter(~F.col("seen_before")).select(
            "content_hash", "keeper"
        )
        new_hashes.write.mode("append").parquet(self.index_dir)
        return out
