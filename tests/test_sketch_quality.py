"""Quality checks for the approximate operators -- the promises the
rows-only catalog entries make (LSH/IVF recall vs exact top-k, MinHash
estimate vs exact Jaccard, SimHash vs exact Jaccard ordering)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.catalog import read_table
from s3_parquet_to_postgres_spark.operators import dedup as D
from s3_parquet_to_postgres_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents")


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    return hits / total


def test_lsh_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(S.cosine_topk(emb, queries, k=10))
    # Bucket width must track corpus size: 4 planes = 16 buckets over
    # 500 vectors (~30 candidates/table); the production defaults
    # (8 planes) suit 100x larger lists.
    approx = _topk_sets(S.lsh_topk(emb, queries, k=10, n_planes=4, n_tables=8))
    r = _recall(approx, exact)
    assert r >= 0.4, f"LSH recall collapsed: {r}"


def test_ivf_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(S.cosine_topk(emb, queries, k=10))
    approx = _topk_sets(S.ivf_topk(emb, queries, k=10))
    r = _recall(approx, exact)
    assert r >= 0.4, f"IVF recall collapsed: {r}"


def test_minhash_estimates_jaccard(spark, docs):
    # Exact Jaccard on candidate pairs vs the MinHash estimate:
    # mean absolute error must be within the 1/sqrt(num_hashes) regime.
    exact = D.ngram_jaccard_pairs(docs, threshold=0.0).select(
        "id_a", "id_b", "jaccard"
    )
    est = D.minhash_lsh_pairs(docs, num_hashes=64, bands=16)
    joined = est.join(exact, ["id_a", "id_b"])
    rows = joined.select(
        F.abs(F.col("jaccard_est") - F.col("jaccard")).alias("err")
    ).collect()
    assert rows, "no overlapping candidate pairs to compare"
    mae = sum(r["err"] for r in rows) / len(rows)
    assert mae <= 0.2, f"MinHash estimate error too high: {mae}"


def test_simhash_orders_like_jaccard(spark, docs):
    # Pairs at small hamming distance should have higher exact Jaccard
    # than pairs at large hamming distance (rank-consistency smoke).
    pairs = D.simhash_near_pairs(docs, max_hamming=40)
    exact = D.ngram_jaccard_pairs(docs, threshold=0.0)
    j = pairs.join(exact, ["id_a", "id_b"])
    close = j.filter(F.col("hamming") <= 10).agg(F.avg("jaccard")).first()[0]
    far = j.filter(F.col("hamming") >= 30).agg(F.avg("jaccard")).first()[0]
    if close is not None and far is not None:
        assert close > far, (close, far)


def test_jaccard_strategies_agree(spark, docs):
    # Prefix filtering and the inverted-index count are both EXACT:
    # identical pair sets and values at the same threshold.
    kw = dict(n=3, threshold=0.35)
    inv = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(docs, strategy="inverted", **kw).collect()
    }
    pre = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(docs, strategy="prefix", **kw).collect()
    }
    assert inv == pre
    assert len(inv) > 0


def test_exact_dedup_survivor_is_min(spark, docs):
    d = docs.withColumn("key", F.sha2(F.substring("text", 1, 40), 256))
    out = D.exact_dedup(d, ["key"], "doc_id")
    # Survivor per key == global min doc_id per key.
    expected = d.groupBy("key").agg(F.min("doc_id").alias("doc_id"))
    assert out.select("key", "doc_id").exceptAll(expected).count() == 0
    assert out.count() == expected.count()


def test_shingles_and_minhash_survive_short_texts(spark):
    """sequence(1, 0) is descending in Spark; docs shorter than the
    shingle width must yield empty shingle sets, not a slice() error."""
    from s3_parquet_to_postgres_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"),
         (4, "one two three four five six")],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(docs).collect()  # must not throw
    assert isinstance(pairs, list)
    sizes = {r["doc_id"]: r["n"] for r in docs.select(
        "doc_id", D.shingles("text", 3).alias("sh")
    ).selectExpr("doc_id", "size(sh) AS n").collect()}
    assert sizes[1] == 0 and sizes[2] == 0 and sizes[3] == 0 and sizes[4] == 4


def test_winnow_fingerprints_detect_partial_overlap(spark):
    """Docs sharing a long passage share fingerprints; unrelated docs
    share none -- the winnowing guarantee (any shared run of
    k+w-1 tokens yields at least one shared fingerprint)."""
    from pyspark.sql import functions as F

    from s3_parquet_to_postgres_spark.operators.textstats import (
        winnow_fingerprints,
    )

    passage = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, f"intro words here {passage} closing remarks"),
         (2, f"totally different opening {passage} other ending text"),
         (3, "unrelated content about spark catalyst optimizer plans only")],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs)
    shared = (
        fp.alias("a").join(fp.alias("b"),
                           (F.col("a.fingerprint") == F.col("b.fingerprint"))
                           & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy("a.doc_id", "b.doc_id").count().collect()
    )
    pairs = {(r[0], r[1]) for r in shared}
    assert (1, 2) in pairs, "shared passage must produce shared fingerprints"
    assert all(p in {(1, 2)} for p in pairs), f"unexpected overlaps: {pairs}"


def test_jaccard_shingle_df_cap_bounds_fanout(spark):
    """max_shingle_df is declared semantics in both strategies: a
    boilerplate shingle shared by every doc is excluded from sizes and
    intersections, so pairs related ONLY through boilerplate vanish
    and the inverted join's per-shingle fan-out is bounded."""
    boiler = "copyright footer text"
    docs = spark.createDataFrame(
        [(i, f"unique words {i} alpha{i} beta{i} gamma{i} {boiler}")
         for i in range(1, 9)]
        + [(100, f"shared rare passage one two three {boiler}"),
           (101, f"shared rare passage one two three {boiler}")],
        "doc_id long, text string",
    )
    kw = dict(n=3, threshold=0.1, max_shingle_df=3)
    inv = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(docs, strategy="inverted", **kw)
        .collect()
    }
    pre = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(docs, strategy="prefix", **kw)
        .collect()
    }
    assert inv == pre, "strategies must stay result-identical with cap"
    assert (100, 101) in inv, "genuinely similar pair must survive"
    assert all(p == (100, 101) for p in inv), (
        f"boilerplate-only pairs must be pruned: {sorted(inv)}"
    )


def test_cosine_blocked_drops_oversize_blocks(spark):
    """max_block_size caps the in-block quadratic pairing: a hot block
    produces no pairs (same declared semantics as the LSH bucket cap),
    small blocks are unaffected."""
    rows = [(i, 0, [1.0, 0.0]) for i in range(10)]  # hot block: 10 > cap 4
    rows += [(100 + i, 1, [0.0, 1.0]) for i in range(3)]  # small block
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = S.cosine_near_pairs_blocked(
        emb, threshold=0.0, max_block_size=4
    ).collect()
    blocks = {r["block"] for r in out}
    assert blocks == {1}, f"hot block must be dropped: {sorted(blocks)}"
    assert len(out) == 3  # C(3,2) = 3 pairs in the small block


def test_kmeans_refine_is_deterministic_and_tightens(spark, emb):
    # Lloyd refinement must (a) be partition-order independent,
    # (b) not lose IVF recall vs the raw hash-sample seeds, and
    # (c) strictly change the seeds (it actually iterates).
    from s3_parquet_to_postgres_spark.operators.similarity import (
        as_double,
        kmeans_refine_centroids,
    )

    seeds = (
        emb.select(
            F.col("vec_id").alias("centroid_id"),
            as_double("embedding").alias("cent_vec"),
        )
        .withColumn("__h", F.xxhash64(F.col("centroid_id").cast("string")))
        .orderBy("__h")
        .limit(8)
        .drop("__h")
    )
    r1 = kmeans_refine_centroids(emb, seeds, iters=2).collect()
    r2 = kmeans_refine_centroids(emb.repartition(7), seeds, iters=2).collect()
    to_map = lambda rows: {
        r["centroid_id"]: [round(x, 9) for x in r["cent_vec"]] for r in rows
    }
    assert to_map(r1) == to_map(r2)  # deterministic
    assert len(r1) == 8
    seeds_map = to_map(seeds.collect())
    assert to_map(r1) != seeds_map  # moved off the raw samples


def test_ivf_refined_recall_not_worse(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(S.cosine_topk(emb, queries, k=10))
    raw = _recall(_topk_sets(S.ivf_topk(emb, queries, k=10)), exact)
    ref = _recall(
        _topk_sets(S.ivf_topk(emb, queries, k=10, refine_iters=2)), exact
    )
    # k-means-tightened cells should not hurt recall at equal n_probe.
    assert ref >= raw - 0.1, (ref, raw)


def test_kmeans_refine_empty_cluster_keeps_seed(spark):
    # Two far clusters + one seed placed so no vector picks it: the
    # orphan centroid must survive unchanged (Lloyd fallback).
    from s3_parquet_to_postgres_spark.operators.similarity import (
        kmeans_refine_centroids,
    )

    corpus = spark.createDataFrame(
        [(i, [10.0, 0.0]) for i in range(5)]
        + [(i + 5, [0.0, 10.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-5.0, -5.0])],
        "centroid_id long, cent_vec array<double>",
    )
    out = {
        r["centroid_id"]: r["cent_vec"]
        for r in kmeans_refine_centroids(corpus, seeds, iters=1).collect()
    }
    assert out[2] == [-5.0, -5.0]  # empty cluster kept its seed
    assert out[0] == [10.0, 0.0] and out[1] == [0.0, 10.0]


def test_adversarial_mega_duplicate_corpus_stays_bounded(spark):
    """A corpus that is ONE document repeated far past every cap -- the
    boilerplate pathology the cap parameters exist for. Every capped
    candidate generator must (a) complete without the quadratic pair
    explosion and (b) apply its declared cap semantics: the mega-group
    exceeds max_bucket_size / max_shingle_df, so it contributes NO
    candidate pairs (it is exact-dedup's job, not near-dup's). Exact
    dedup must still collapse it to the min-id survivor."""
    n = 2000  # >> bucket cap 1024 and df cap 100
    text = "the same boilerplate paragraph repeated in every document"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    lsh = D.minhash_lsh_pairs(df, max_bucket_size=1024)
    assert lsh.count() == 0  # bucket of 2000 > cap -> dropped
    jac = D.ngram_jaccard_pairs(df, threshold=0.5, strategy="inverted",
                                max_shingle_df=100)
    assert jac.count() == 0  # every shingle has df 2000 > 100
    cont = D.containment_pairs(df, threshold=0.5, max_shingle_df=100)
    assert cont.count() == 0
    kept = D.exact_dedup(df, ["text"], "doc_id")
    assert [r["doc_id"] for r in kept.collect()] == [0]
