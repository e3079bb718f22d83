"""Extension capability catalog (SURVEY.md §2.6 + event-time windows):
dedup family, embedding similarity, text analysis, multimodal columns,
as-of join, sessionization. Spark side uses the operators/ modules;
oracle SQL replays the same deterministic semantics in DuckDB where
SQL can express them (LSH internals intentionally have no oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, dsum, sql_dround, sql_dsum
from ..functions.epoch import epoch_us, ntz_from_epoch_us
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import textstats as T
from ..operators.asof import asof_join
from ..operators.pairs import bucket_pairs
from .base import QuerySpec, t

# --------------------------------------------------------------------------
# Dedup (E1/E2)
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("copies"),
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS copies
FROM documents GROUP BY sha256(text)
"""


def dedup_keep_first_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic survivor selection on a coarse content key (40-char
    # prefix -- the synthetic corpus has real collisions there), via the
    # exact_dedup operator (window rank, one shuffle).
    d = t(spark, sf_dir, "documents").withColumn(
        "content_key", F.sha2(F.substring("text", 1, 40), 256)
    )
    return D.exact_dedup(d, ["content_key"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars", "content_key"
    )


DEDUP_KEEP_FIRST_SQL = """
SELECT doc_id, lang, source, n_chars, content_key
FROM (SELECT *, sha256(substring(text, 1, 40)) AS content_key FROM documents)
QUALIFY row_number() OVER (PARTITION BY content_key ORDER BY doc_id ASC) = 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_shingle_df=100 is declared semantics (mirrored by the
    # oracle): Jaccard over non-boilerplate shingles, which bounds
    # the inverted index's per-shingle fan-out at any corpus size.
    return D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), n=3, threshold=0.1,
        max_shingle_df=100,
    )


DEDUP_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
), sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(
           [array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]
         )) AS shingle
  FROM toks
), sh AS (
  SELECT doc_id, shingle FROM sh0
  WHERE shingle IN (SELECT shingle FROM sh0
                    GROUP BY shingle HAVING count(*) <= 100)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       i / (sa.n_sh + sb.n_sh - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.n_sh + sb.n_sh - i) >= 0.1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Banded MinHash LSH candidates under the PORTABLE hash family
    # (md5-derived shingle hashes, md5 band buckets): every stage --
    # shingling, the 32 universal-hash permutations, banding,
    # bucketing, the in-bucket pair expansion, the signature-overlap
    # estimate -- is replayed bit-exactly by the DuckDB oracle, so
    # this probabilistic operator gets a value-exact correctness row.
    # Production corpora use the default xxhash64 family (same plan,
    # one JVM hash instead of md5+hex-parse).
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"),
                               num_hashes=32, bands=8,
                               hash_family="portable")


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 8,
                        max_bucket: int = 1024) -> str:
    rows = num_hashes // bands
    params = D._hash_params(num_hashes)
    a_list = ", ".join(str(a) for a, _ in params)
    b_list = ", ".join(str(b) for _, b in params)
    eq = ", ".join(
        f"a.sig[{j + 1}] = b.sig[{j + 1}]" for j in range(num_hashes)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           [array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]
         )) AS shingle
  FROM toks
), h AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT)
           % 2147483647 AS h
  FROM sh
), hi AS (
  SELECT doc_id, r.i AS i,
         min((h * ([{a_list}])[r.i + 1] + ([{b_list}])[r.i + 1])
             % 2147483647) AS m
  FROM h CROSS JOIN range({num_hashes}) r(i)
  GROUP BY doc_id, r.i
), sig AS (
  SELECT doc_id, list(m ORDER BY i) AS sig FROM hi GROUP BY doc_id
), banded AS (
  SELECT doc_id, sig, rb.b AS band,
         md5(array_to_string(sig[rb.b*{rows}+1 : rb.b*{rows}+{rows}], ','))
           AS band_hash
  FROM sig CROSS JOIN range({bands}) rb(b)
), bsz AS (
  SELECT band, band_hash, count(*) AS c
  FROM banded GROUP BY band, band_hash
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter([{eq}], x -> x)) / {num_hashes} AS jaccard_est
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
JOIN bsz ON bsz.band = a.band AND bsz.band_hash = a.band_hash
WHERE bsz.c <= {max_bucket}
"""


DEDUP_MINHASH_LSH_SQL = _minhash_oracle_sql()


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=3: the pigeonhole bound 4 chunks make LOSSLESS
    # (chunks - 1); the synthetic corpus is template-generated, so
    # bag-of-distinct-words SimHash signatures cluster tightly (at
    # hamming<=16 ~11% of ALL pairs match -- measured at sf0.1). The
    # tight radius keeps candidate volume proportional to true
    # near-dups, which is what survives at 100 TB. Portable hash
    # family + 48-bit signatures (4 pigeonhole chunks of 12 bits):
    # the whole pipeline is replayed bit-exactly by the oracle.
    return D.simhash_near_pairs(t(spark, sf_dir, "documents"),
                                max_hamming=3, bits=48,
                                hash_family="portable")


DEDUP_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(text), '\\s+')) AS tks
  FROM documents
), tok AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(t.tk), 1, 15) AS BIGINT) AS h
  FROM toks, unnest(tks) AS t(tk)
), votes AS (
  SELECT doc_id, r.i AS i,
         sum(CASE WHEN (h >> r.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok CROSS JOIN range(48) r(i)
  GROUP BY doc_id, r.i
), sig AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                  ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM votes GROUP BY doc_id
), chunks AS (
  SELECT doc_id, simhash, rc.cn AS chunk_no,
         (simhash >> (rc.cn * 12)) & 4095 AS chunk
  FROM sig CROSS JOIN range(4) rc(cn)
), bsz AS (
  SELECT chunk_no, chunk, count(*) AS c
  FROM chunks GROUP BY chunk_no, chunk
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk_no = b.chunk_no AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
JOIN bsz ON bsz.chunk_no = a.chunk_no AND bsz.chunk = a.chunk
WHERE bsz.c <= 1024
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairwise matches -> transitive duplicate GROUPS via iterative
    # hash-min label propagation (operators/components.py). Oracle:
    # the same edges closed with a recursive CTE.
    from ..operators.components import dedup_groups

    pairs = D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), n=3, threshold=0.1,
        max_shingle_df=100,
    ).select("id_a", "id_b")
    return dedup_groups(pairs)


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
),
comp AS (
  SELECT n.s AS id, least(n.s, min(r.d)) AS comp
  FROM (SELECT DISTINCT s FROM e) n
  LEFT JOIN reach r ON r.s = n.s
  GROUP BY n.s
)
SELECT comp AS component, CAST(count(*) AS BIGINT) AS group_size,
       min(id) AS keeper_id
FROM comp GROUP BY comp
"""


def dedup_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full corpus-cleaning composition: near-dup edges ->
    # transitive groups -> drop every non-canonical member. What a
    # training-data pipeline actually ships.
    from ..operators.components import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.1,
                                  max_shingle_df=100).select(
        "id_a", "id_b"
    )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("comp")).select("id")
    return (
        docs.join(losers, docs.doc_id == losers.id, "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


DEDUP_CORPUS_PIPELINE_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
),
comp AS (
  SELECT n.s AS id, least(n.s, min(r.d)) AS comp
  FROM (SELECT DISTINCT s FROM e) n
  LEFT JOIN reach r ON r.s = n.s
  GROUP BY n.s
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_near_pairs_blocked(
        t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_dround('list_cosine_similarity(a.v, b.v)', 4)} AS cosine_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.3
  AND a.label IN (SELECT label FROM embeddings
                  GROUP BY label HAVING count(*) <= 1024)
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.semantic_dedup(t(spark, sf_dir, "embeddings"))


# Replays semantic_dedup end-to-end: md5 hash-sampled centroids,
# argmax assignment (sim desc, centroid_id asc = Spark's strict-> fold
# over the centroid_id-sorted array), in-cluster near pairs with the
# oversize-cluster guard, greedy-by-id removal.
DEDUP_SEMANTIC_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT vec_id AS centroid_id, v AS cent_vec FROM e
  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                AS BIGINT) ASC, vec_id ASC
  LIMIT 16
), assigned AS (
  SELECT vec_id, v, centroid_id AS cluster_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cent_vec) DESC,
                        c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cent c) WHERE rn = 1
), ok AS (
  SELECT cluster_id FROM assigned
  GROUP BY cluster_id HAVING count(*) <= 1024
), removed AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.3
    AND a.cluster_id IN (SELECT cluster_id FROM ok)
)
SELECT CAST(a.cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS size,
       CAST(count(r.vec_id) AS BIGINT) AS n_removed,
       CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
GROUP BY a.cluster_id
"""


# --------------------------------------------------------------------------
# Similarity search (E3)
# --------------------------------------------------------------------------

def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, e.filter(F.col("vec_id") < 5), k=10)


SIMILARITY_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(qv, e.v) AS sim
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, {sql_dround('sim', 4)} AS cosine_sim,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims)
WHERE rnk <= 10
"""


def similarity_topk_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors returning the neighbor's RAW
    embedding vector (`array<float>`) alongside the ids — the
    fetch-the-vector shape an embeddings pipeline needs (retrieve
    neighbors, then feed their vectors to a downstream stage without
    a second lookup join at the caller).

    Array-typed output: proven end-to-end by tools/drive_entry.py and
    tests/test_oracle_parity.py (both canonicalize arrays
    recursively). Round 7 rotated it INTO the FLAGSHIP driver window
    to test the external path: the driver's canonicalizer crashed
    (`TypeError: unhashable type: 'numpy.ndarray'` inside its pandas
    sort — driver code, not engine code; CORRECTNESS_r07.json), so
    the entry is documented driver-blocked and sits outside the
    window again. External full-content proof is carried by
    `similarity_topk_vectors_exploded` (every element as a scalar
    (pos, val) row) and the ranking by `similarity_topk_vectors_flat`
    (both driver-green). The vector is a pass-through of the stored
    column — bitwise equal on both engines — so the in-repo hash
    compares real array contents, not re-derived floats.

    Scale shape: same broadcast-queries/scan-corpus plan as
    similarity_topk_cosine; the join back to fetch vectors keys on
    (query_id, neighbor_id) against the k·|Q| result — broadcast-able
    at any corpus size since |Q| is bounded.
    """
    e = t(spark, sf_dir, "embeddings")
    topk = S.cosine_topk(e, e.filter(F.col("vec_id") < 3), k=3)
    return (
        topk.select("query_id", "neighbor_id", "rank")
        .join(
            e.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("embedding").alias("neighbor_vec")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", "rank", "neighbor_vec")
    )


SIMILARITY_TOPK_VECTORS_SQL = """
WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(qv, e.v) AS sim, e.embedding
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
       embedding AS neighbor_vec
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims)
WHERE rnk <= 3
"""


def similarity_topk_vectors_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar companion to `similarity_topk_vectors`: the SAME top-3
    ranking and vector fetch, projected to scalar columns — vector
    dimension plus its first and last elements (pass-through float
    values widened to double, no float arithmetic) — so the ranking
    and the fetch-join are provable by a driver whose canonicalizer
    cannot hash `array<float>` cells. The raw-array entry stays in
    the catalog (in-repo harnesses canonicalize arrays recursively);
    this entry makes the same plan externally checkable either way.
    """
    topk = similarity_topk_vectors(spark, sf_dir)
    return topk.select(
        "query_id", "neighbor_id", "rank",
        F.size("neighbor_vec").cast("long").alias("vec_dim"),
        F.element_at("neighbor_vec", 1).cast("double").alias("vec_first"),
        F.element_at("neighbor_vec", -1).cast("double").alias("vec_last"),
    )


SIMILARITY_TOPK_VECTORS_FLAT_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(qv, e.v) AS sim, e.v AS nv
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
       CAST(len(nv) AS BIGINT) AS vec_dim,
       nv[1] AS vec_first, nv[len(nv)] AS vec_last
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims)
WHERE rnk <= 3
"""


def similarity_topk_vectors_exploded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-content scalar companion to `similarity_topk_vectors`:
    the SAME top-3 ranking and raw-vector fetch, with the fetched
    `array<float>` exploded to one (pos, val) row per element —
    `posexplode` on the Spark side, zipped `generate_subscripts` /
    `unnest` on the DuckDB side. Every element reaches the external
    driver as a plain DOUBLE cell (float32→double widening is exact,
    no float arithmetic, no string formatting), so the driver's
    value-hash commits to the COMPLETE vector contents — the external
    proof the raw-array entry cannot get because the driver's
    canonicalizer cannot hash ndarray cells (CORRECTNESS_r07.json).
    Output is k·|Q|·dim rows (3·3·64 here) — bounded by the query
    set, independent of corpus size, so the explode adds no scale
    risk over the parent plan.
    """
    topk = similarity_topk_vectors(spark, sf_dir)
    return topk.select(
        "query_id", "neighbor_id", "rank",
        F.posexplode("neighbor_vec"),
    ).select(
        "query_id", "neighbor_id", "rank",
        F.col("pos").cast("long").alias("pos"),
        F.col("col").cast("double").alias("val"),
    )


SIMILARITY_TOPK_VECTORS_EXPLODED_SQL = """
WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(qv, e.v) AS sim, e.embedding AS nv
  FROM q JOIN e ON e.vec_id <> q.query_id
),
topk AS (
  SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, nv
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM sims)
  WHERE rnk <= 3
)
SELECT query_id, neighbor_id, rank,
       CAST(generate_subscripts(nv, 1) - 1 AS BIGINT) AS pos,
       CAST(unnest(nv) AS DOUBLE) AS val
FROM topk
"""


def _ann_verified(
    spark: SparkSession, sf_dir: str, approx: DataFrame, k: int,
    min_recall: float,
) -> DataFrame:
    """Driver-checkable ANN harness: pair the approximate result with
    the exact brute force (computed in the same Spark job) and emit,
    per query, the exact top-1 neighbor (value-exact in the oracle)
    plus the recall assertion as a boolean the oracle predicts TRUE.
    The LSH/IVF internals stay seeded-deterministic, so a recall
    regression deterministically flips the boolean and fails the
    driver's value-hash. The production operator is the ANN itself;
    this entry is its verification harness (the exact pass doubles
    the scan, which is the price of checking an approximation)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.cosine_topk(e, q, k=k)
    hits = (
        approx.join(exact.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    top1 = exact.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("exact_top1_id"),
        F.col("cosine_sim").alias("exact_top1_sim"),
    )
    need = int(min_recall * k)
    return (
        top1.join(hits, "query_id", "left")
        .select(
            "query_id", "exact_top1_id", "exact_top1_sim",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= need)
            .alias("recall_ok"),
        )
    )


ANN_VERIFIED_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(qv, e.v) AS sim
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id AS exact_top1_id,
       {sql_dround('sim', 4)} AS exact_top1_sim,
       TRUE AS recall_ok
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims)
WHERE rnk = 1
"""


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Random-hyperplane LSH, multi-table probe. 4 planes = 16 buckets
    # per table fits this corpus (bucket width must track corpus size;
    # measured per-query recall@10 >= 0.4 at sf0.001/0.01/0.1, bound
    # declared at 0.3 for margin).
    e = t(spark, sf_dir, "embeddings")
    approx = S.lsh_topk(e, e.filter(F.col("vec_id") < 5), k=10,
                        n_planes=4, n_tables=8)
    return _ann_verified(spark, sf_dir, approx, k=10, min_recall=0.3)


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse quantizer, 16 lists / probe 8 (measured per-query
    # recall@10 >= 0.4 across SFs; bound 0.3).
    e = t(spark, sf_dir, "embeddings")
    approx = S.ivf_topk(e, e.filter(F.col("vec_id") < 5), k=10, n_probe=8)
    return _ann_verified(spark, sf_dir, approx, k=10, min_recall=0.3)


def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.pq_topk(e, e.filter(F.col("vec_id") < 5), k=10)


def _pq_oracle_sql(m: int = 16, n_codes: int = 16, dim: int = 64) -> str:
    # Replays pq_topk end-to-end: md5 hash-sampled per-subspace
    # codebooks, argmin encoding (d asc, code asc = Spark's strict-<
    # fold over the hash-ordered samples), ADC distance summed across
    # subspaces. (a-b)*(a-b) spelled out -- pow() is not guaranteed
    # bit-equal to multiplication.
    sub = dim // m
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY h ASC, vec_id ASC) AS code, v
  FROM (SELECT vec_id, v,
          CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS h
        FROM e)
  ORDER BY h ASC, vec_id ASC LIMIT {n_codes}
), subs AS (
  SELECT unnest(range(0, {m})) AS j
), enc_d AS (
  SELECT c.vec_id, s.j, k.code,
         list_sum(list_transform(range(1, {sub + 1}),
           i -> (c.v[s.j * {sub} + i] - k.v[s.j * {sub} + i])
              * (c.v[s.j * {sub} + i] - k.v[s.j * {sub} + i]))) AS d
  FROM e c CROSS JOIN subs s CROSS JOIN cents k
), enc AS (
  SELECT vec_id AS neighbor_id, j, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
            ORDER BY d ASC, code ASC) AS rn FROM enc_d)
  WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
), dists AS (
  SELECT q.query_id, enc.neighbor_id,
         list_sum(list_transform(range(1, {sub + 1}),
           i -> (q.qv[enc.j * {sub} + i] - k.v[enc.j * {sub} + i])
              * (q.qv[enc.j * {sub} + i] - k.v[enc.j * {sub} + i]))) AS dj
  FROM q CROSS JOIN enc JOIN cents k ON k.code = enc.code
  WHERE enc.neighbor_id <> q.query_id
), adc AS (
  SELECT query_id, neighbor_id, sum(dj) AS adc
  FROM dists GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(floor(adc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
         AS adc_dist,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc ASC, neighbor_id ASC) AS rnk FROM adc)
WHERE rnk <= 10
"""


SIMILARITY_ANN_PQ_SQL = _pq_oracle_sql()


def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.knn_classify(
        e.filter(F.col("vec_id") >= 20), e.filter(F.col("vec_id") < 20), k=10
    )


ML_KNN_CLASSIFY_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, label, v FROM e WHERE vec_id >= 20),
sims AS (
  SELECT query_id, neighbor_id, label,
         list_cosine_similarity(qv, c.v) AS sim
  FROM q JOIN c ON c.neighbor_id <> q.query_id
), topk AS (
  SELECT query_id, label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims) WHERE rn <= 10
), votes AS (
  SELECT query_id, label, count(*) AS votes
  FROM topk GROUP BY query_id, label
)
SELECT query_id, CAST(label AS BIGINT) AS pred_label,
       CAST(votes AS BIGINT) AS votes
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY votes DESC, label ASC) AS rv
      FROM votes)
WHERE rv = 1
"""


def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative ML over the embedding column (MLlib KMeans, fixed
    # seed). Lloyd's algorithm is not SQL-expressible, so the
    # driver-checked output is the verification summary: exact corpus
    # count, the declared k, the (deterministic, seeded) number of
    # non-empty clusters, and the clustering-beats-one-cluster SSE
    # assertion as an oracle-predicted boolean. Per-cluster detail
    # stays in tests/test_kmeans.py.
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings are unclusterable (MLlib's array_to_vector UDF
    # throws on them): exclude up front, like every ANN entry.
    e = t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    ).withColumn(
        "features",
        array_to_vector(F.transform("embedding", lambda x: x.cast("double"))),
    )
    if e.isEmpty():
        # MLlib KMeans.fit throws on zero rows; an empty corpus has a
        # well-defined degenerate summary instead (no vectors, no
        # non-empty clusters, SSE comparison undefined -> NULL).
        return spark.createDataFrame(
            [(0, 10, 0, None)],
            "n_vectors long, k long, clusters_nonempty long, "
            "sse_improved_ok boolean",
        )
    model = KMeans(k=10, seed=42, maxIter=20).fit(e)
    sse_k = model.summary.trainingCost
    # Single-cluster SSE baseline (MLlib requires k >= 2): sum of
    # squared distances to the global mean, E[|x|^2] - |E[x]|^2 per
    # dimension. Two tiny aggregates; the 64 per-dim moments are the
    # only values collected.
    dim_stats = (
        e.select(F.posexplode(S.as_double("embedding")).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x") * F.col("x")).alias("sx2"),
             F.avg("x").alias("mx"),
             F.count("*").alias("n"))
    )
    sse_1 = sum(
        r["sx2"] - r["n"] * r["mx"] * r["mx"] for r in dim_stats.collect()
    )
    pred = model.transform(e)
    return pred.agg(
        F.count("*").alias("n_vectors"),
        F.lit(10).cast("long").alias("k"),
        F.countDistinct("prediction").cast("long")
        .alias("clusters_nonempty"),
        # Near-random unit vectors leave k-means little to compress
        # (measured ratio 0.91-0.95 across SFs); the invariant worth
        # pinning is "clustering strictly beats the single-centroid
        # baseline", which any broken/degenerate fit violates.
        F.lit(bool(sse_k < sse_1)).alias("sse_improved_ok"),
    )


ML_KMEANS_SQL = """
SELECT count(embedding) AS n_vectors,
       CAST(10 AS BIGINT) AS k,
       CAST(10 AS BIGINT) AS clusters_nonempty,
       TRUE AS sse_improved_ok
FROM embeddings
"""


# --------------------------------------------------------------------------
# Text analysis (E5)
# --------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_counts(t(spark, sf_dir, "documents")).select(
        "doc_id", "ws_tokens", "word_tokens", "bpe_tokens", "chars"
    )


_BPE_SQL_RE = T.BPE_REGEX.replace("'", "''")
TEXT_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS word_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_SQL_RE}')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS chars
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_scores(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio", "stopword_ratio"
    )


TEXT_QUALITY_SQL = """
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  length(regexp_replace(text, '\\s+', '', 'g'))
        / greatest(len(toks), 1) AS mean_token_len,
  length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        / greatest(length(text), 1) AS punct_ratio,
  len(list_filter(toks,
            tk -> list_contains(['the','a','of','and','is','to','in'],
                                lower(tk))))
        / greatest(len(toks), 1) AS stopword_ratio
FROM (SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents)
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.repetition_signals(t(spark, sf_dir, "documents"))


def _repetition_oracle_sql(ns: tuple[int, ...] = (2, 3, 5)) -> str:
    # Same SEMANTICS as repetition_signals (the Spark side is a
    # zero-shuffle narrow fold; SQL states it relationally): grams per
    # (doc, n), count, per-(doc,n) top-1 window with the cnt-desc
    # gram-ASC tiebreak, per-doc pivot, LEFT JOIN back to documents so
    # every document keeps a row (zeros where no n-grams exist).
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, chars, {n} AS n,
         unnest(list_transform(range(1, len(w) - {n} + 2),
                i -> array_to_string(w[i:i + {n} - 1], ' '))) AS gram
  FROM toks WHERE len(w) >= {n}"""
        for n in ns
    )
    metric_cols = []
    for n in ns:
        metric_cols.append(
            f"CAST(coalesce(max(CASE WHEN n = {n} THEN top_cnt END), 0)"
            f" AS BIGINT) AS top{n}_count"
        )
        metric_cols.append(
            "coalesce("
            + sql_dround(
                f"max(CASE WHEN n = {n} THEN"
                f" CAST(top_cnt * length(top_gram) AS DOUBLE) / chars END)",
                6,
            )
            + f", 0.0) AS top{n}_char_frac"
        )
        metric_cols.append(
            "coalesce("
            + sql_dround(
                f"max(CASE WHEN n = {n} THEN"
                f" CAST(total - nd AS DOUBLE) / total END)",
                6,
            )
            + f", 0.0) AS dup{n}_frac"
        )
    metrics = ",\n         ".join(metric_cols)
    outer = ",\n       ".join(
        col
        for n in ns
        for col in (
            f"CAST(coalesce(m.top{n}_count, 0) AS BIGINT) AS top{n}_count",
            f"coalesce(m.top{n}_char_frac, 0.0) AS top{n}_char_frac",
            f"coalesce(m.dup{n}_frac, 0.0) AS dup{n}_frac",
        )
    )
    return f"""
WITH toks AS (
  SELECT doc_id, greatest(length(text), 1) AS chars,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), g AS (
{branches}
), c AS (
  SELECT doc_id, n, gram, count(*) AS cnt, max(chars) AS chars
  FROM g GROUP BY doc_id, n, gram
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, gram ASC) AS rn
  FROM c
), p AS (
  SELECT doc_id, n, max(chars) AS chars, sum(cnt) AS total,
         count(*) AS nd,
         max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt,
         max(CASE WHEN rn = 1 THEN gram END) AS top_gram
  FROM r GROUP BY doc_id, n
), m AS (
  SELECT doc_id,
         {metrics}
  FROM p GROUP BY doc_id
)
SELECT t.doc_id,
       {outer}
FROM toks t LEFT JOIN m ON t.doc_id = m.doc_id
"""


TEXT_REPETITION_SQL = _repetition_oracle_sql()


def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.unigram_lm_scores(t(spark, sf_dir, "documents"))


# Mirrors unigram_lm_scores: (doc, term) counts, windowed corpus term
# frequency, scaled-BIGINT quantized logprobs summed exactly.
_CLEAN_TOKS_SQL = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
    " tk -> tk != '')"
)
TEXT_UNIGRAM_LM_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({_CLEAN_TOKS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), tot AS (
  SELECT CAST(sum(len({_CLEAN_TOKS_SQL})) AS DOUBLE) AS total
  FROM documents
), scored AS (
  SELECT doc_id, tf,
         sum(tf) OVER (PARTITION BY term) AS ctf
  FROM tf
), lp AS (
  SELECT doc_id, tf,
         CAST(floor(tf * ln(CAST(ctf AS DOUBLE) / total) * 1000000.0
                    + 0.5) AS BIGINT) AS lpq
  FROM scored, tot
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       {sql_dround('sum(lpq) / 1000000.0 / sum(tf)', 6)} AS avg_logprob,
       {sql_dround('exp(-(sum(lpq) / 1000000.0 / sum(tf)))', 4)} AS ppl
FROM lp GROUP BY doc_id
"""


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bigram_lm_scores(t(spark, sf_dir, "documents"))


def _bigram_lm_oracle_sql(lam: float = 0.7) -> str:
    # repr()'d float literals so both engines parse identical doubles
    # (1 - 0.7 is NOT 0.3 in binary).
    l1, l2 = repr(lam), repr(1.0 - lam)
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, {_CLEAN_TOKS_SQL} AS w FROM documents
), b AS (
  SELECT doc, unnest(list_transform(range(1, len(w)),
           i -> {{'w1': w[i], 'w2': w[i + 1]}})) AS s
  FROM toks WHERE len(w) >= 2
), tf AS (
  SELECT doc, s.w1 AS w1, s.w2 AS w2, count(*) AS tf
  FROM b GROUP BY 1, 2, 3
), cb AS (
  SELECT *, sum(tf) OVER (PARTITION BY w1, w2) AS cb FROM tf
), uc AS (
  SELECT term, count(*) AS c1
  FROM (SELECT unnest(w) AS term FROM toks) GROUP BY term
), tot AS (
  SELECT CAST(sum(len(w)) AS DOUBLE) AS total FROM toks
), lp AS (
  SELECT doc, tf,
         CAST(floor(tf * ln({l1} * CAST(cb AS DOUBLE)
                              / CAST(a.c1 AS DOUBLE)
                            + {l2} * CAST(bb.c1 AS DOUBLE) / total)
                    * 1000000.0 + 0.5) AS BIGINT) AS lpq
  FROM cb
  JOIN uc a ON cb.w1 = a.term
  JOIN uc bb ON cb.w2 = bb.term
  CROSS JOIN tot
)
SELECT doc AS doc_id,
       CAST(sum(tf) AS BIGINT) AS n_bigrams,
       {sql_dround('sum(lpq) / 1000000.0 / sum(tf)', 6)} AS avg_logprob,
       {sql_dround('exp(-(sum(lpq) / 1000000.0 / sum(tf)))', 4)} AS ppl
FROM lp GROUP BY doc
"""


TEXT_BIGRAM_LM_SQL = _bigram_lm_oracle_sql()


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.pmi_collocations(t(spark, sf_dir, "documents"))


TEXT_COLLOCATIONS_SQL = f"""
WITH toks AS (
  SELECT {_CLEAN_TOKS_SQL} AS w FROM documents
), tot AS (
  SELECT CAST(sum(len(w)) AS DOUBLE) AS nu,
         CAST(sum(greatest(len(w) - 1, 0)) AS DOUBLE) AS nb
  FROM toks
), uni AS (
  SELECT unnest(w) AS term FROM toks
), uc AS (
  SELECT term, count(*) AS c1 FROM uni GROUP BY term
), b0 AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> {{'w1': w[i], 'w2': w[i + 1]}})) AS s
  FROM toks WHERE len(w) >= 2
), bi AS (
  SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS cb
  FROM b0 GROUP BY 1, 2 HAVING count(*) >= 5
), scored AS (
  SELECT w1 || ' ' || w2 AS bigram,
         CAST(cb AS BIGINT) AS occurrences,
         CAST(l.c1 AS BIGINT) AS left_count,
         CAST(r.c1 AS BIGINT) AS right_count,
         {sql_dround(
             'ln(CAST(cb AS DOUBLE) * nu * nu'
             ' / (nb * CAST(l.c1 AS DOUBLE) * CAST(r.c1 AS DOUBLE)))', 6)}
           AS pmi
  FROM bi
  JOIN uc l ON bi.w1 = l.term
  JOIN uc r ON bi.w2 = r.term
  CROSS JOIN tot
), sel AS (
  SELECT * FROM scored ORDER BY pmi DESC, bigram ASC LIMIT 25
)
SELECT bigram, occurrences, left_count, right_count, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, bigram ASC)
            AS BIGINT) AS rnk
FROM sel
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "lang_pred", "lang_score"
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, tk -> list_contains([{lst}], tk)))"


TEXT_LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql(T.LANG_MARKERS['de'])} AS s_de,
         {_lang_score_sql(T.LANG_MARKERS['en'])} AS s_en,
         {_lang_score_sql(T.LANG_MARKERS['es'])} AS s_es,
         {_lang_score_sql(T.LANG_MARKERS['fr'])} AS s_fr,
         {_lang_score_sql(T.LANG_MARKERS['zh'])} AS s_zh
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents)
)
SELECT doc_id, lang,
       CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
            WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
            ELSE 'zh' END AS lang_pred,
       CAST(best AS BIGINT) AS lang_score
FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM scored)
"""


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reproducible train/val/test split by content-independent hash:
    # the split of a document never changes as the corpus grows or
    # repartitions (md5 of the stable id, first two hex chars ->
    # 256 buckets). The portable primitive behind held-out sets in
    # every training pipeline; rand()-based sampling can't give this.
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < F.lit("1a"), "test")       # ~10% (0x1a/256)
        .when(bucket < F.lit("33"), "validation")  # next ~10%
        .otherwise("train")
    )
    return d.withColumn("split", split).groupBy("split").agg(
        F.count("*").alias("docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


SAMPLE_SPLIT_SQL = """
SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
            THEN 'test'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
            THEN 'validation'
            ELSE 'train' END AS split,
       count(*) AS docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""


def curation_signals(d: DataFrame) -> DataFrame:
    """The NARROW per-doc stage of the curation funnel: one Project
    computing every signal (token count, the five marker-language
    scores as a single struct-fold, the PII-scrubbed sha256 content
    key). No shuffle, no state.

    The signals come back ungated: the pipeline gates AFTER its dedup
    window, because a filter this early gets predicate-pushed below
    the Project, duplicating every non-cheap signal expression into
    the scan (measured 14 split() evaluations per row vs 2).

    Signals: token count, the five marker-language scores, the
    Gopher-style duplicate-2-gram fraction (repetition gate), and the
    PII-scrubbed sha256 content key. Tokenization and the 2-gram
    array are MATERIALIZED into their own Projects first, so each
    evaluates once however many signals reference them."""
    pre = d.select(
        "doc_id",
        "text",
        T.ws_tokens(F.lower(F.col("text"))).alias("__toks"),
    )
    toks = F.col("__toks")
    n2 = F.size(toks) - 1
    g2 = F.transform(
        F.when(n2 >= 1, F.sequence(F.lit(1), n2)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    pre = pre.withColumn("__g2", g2)
    dup2 = F.when(
        F.size("__g2") >= 1,
        (F.size("__g2") - F.size(F.array_distinct("__g2"))).cast("double")
        / F.size("__g2"),
    ).otherwise(F.lit(0.0))

    # All 5 language scores in ONE traversal of the token array (a
    # struct-of-counters fold): separate F.filter expressions would
    # each embed their own copy of the tokenization, and Catalyst's
    # filter pushdown then duplicates every copy again below the
    # projection -- measured 14 split() evaluations per row vs ~4
    # here (1.5s -> 0.9s for the whole query at sf0.1).
    arrs = {
        k: F.array(*[F.lit(m) for m in ms])
        for k, ms in sorted(T.LANG_MARKERS.items())
    }
    zero = F.struct(*[F.lit(0).alias(f"s_{k}") for k in arrs])

    def step(acc, x):
        return F.struct(*[
            (acc.getField(f"s_{k}")
             + F.array_contains(arrs[k], x).cast("int")).alias(f"s_{k}")
            for k in arrs
        ])

    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), T.EMAIL_REGEX, "<EMAIL>"),
        T.URL_REGEX, "<URL>",
    )
    scored = pre.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(toks, zero, step).alias("__sc"),
        F.sha2(scrubbed, 256).alias("content_key"),
        dup2.alias("dup2_frac"),
    )
    cols = {k: F.col("__sc").getField(f"s_{k}") for k in arrs}
    best = F.greatest(*cols.values())
    pred = F.lit(None).cast("string")
    for lang in sorted(cols, reverse=True):
        pred = F.when(cols[lang] == best, F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id",
        "n_tokens",
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_score"),
        "content_key",
        "dup2_frac",
    )


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training curation funnel: the narrow signal stage
    (``curation_signals``, one corpus scan), exact dedup keeping the
    smallest doc_id per scrubbed content hash (the one corpus-sized
    shuffle, carrying a 64-char hash + id + two small columns per
    doc), THEN the gates, the content-stable md5 split, and the final
    per-(split, predicted-lang) accounting.

    Gating after the window is value-identical (every gate input is a
    pure function of the text, and equal content_key implies equal
    scrubbed text, token count, and language scores) but keeps the
    gate predicates off the scan: filtered early they predicate-push
    below the signal Project and re-evaluate every signal expression
    per row (14 split() evaluations vs 2; ~2x the whole query). At
    100 TB the narrow stage scales linearly and everything after the
    dedup shuffle is tiny."""
    sig = curation_signals(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("content_key").orderBy(F.col("doc_id").asc())
    kept = (
        sig.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("lang_score") >= 1)
            & (F.col("dup2_frac") <= 0.08)
        )
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < F.lit("1a"), "test")
        .when(bucket < F.lit("33"), "validation")
        .otherwise("train")
    )
    return (
        kept.withColumn("split", split)
        .groupBy("split", "lang_pred")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


CORPUS_CURATION_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS toks,
         regexp_replace(
           regexp_replace(text, '{T.EMAIL_REGEX}', '<EMAIL>', 'g'),
           '{T.URL_REGEX}', '<URL>', 'g') AS scrubbed
  FROM documents
), grams AS (
  SELECT *, list_transform(range(1, len(toks)),
              i -> array_to_string(toks[i:i + 1], ' ')) AS g2
  FROM base
), scored AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {_lang_score_sql(T.LANG_MARKERS['de'])} AS s_de,
         {_lang_score_sql(T.LANG_MARKERS['en'])} AS s_en,
         {_lang_score_sql(T.LANG_MARKERS['es'])} AS s_es,
         {_lang_score_sql(T.LANG_MARKERS['fr'])} AS s_fr,
         {_lang_score_sql(T.LANG_MARKERS['zh'])} AS s_zh,
         sha256(scrubbed) AS content_key,
         CASE WHEN len(g2) >= 1
              THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                   / len(g2)
              ELSE 0.0 END AS dup2_frac
  FROM grams
), labeled AS (
  SELECT doc_id, n_tokens, content_key, best, dup2_frac,
         CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
              WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
              ELSE 'zh' END AS lang_pred
  FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best
        FROM scored)
), deduped AS (
  -- dedup BEFORE the gates (value-identical: gate inputs are pure
  -- functions of the text, and equal content_key => equal text
  -- signals), mirroring the Spark plan's pushdown-free ordering.
  SELECT * FROM labeled
  QUALIFY row_number() OVER (PARTITION BY content_key
                             ORDER BY doc_id) = 1
)
SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
            THEN 'test'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
            THEN 'validation'
            ELSE 'train' END AS split,
       lang_pred,
       count(*) AS docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
WHERE n_tokens >= 20 AND best >= 1 AND dup2_frac <= 0.08
GROUP BY 1, 2
"""



def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_top_terms(t(spark, sf_dir, "documents"), top_n=3)


TEXT_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id AS doc,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc, term, count(*) AS tf FROM terms GROUP BY doc, term
), dfreq AS (
  SELECT term, count(DISTINCT doc) AS df FROM terms GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc, tf.term, tf, df,
         tf * ln(n_docs / df) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc AS doc_id, term,
       CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS doc_freq,
       {sql_dround('score', 6)} AS tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (
        PARTITION BY doc ORDER BY score DESC, term ASC) AS rnk
      FROM scored)
WHERE rnk <= 3
"""


def dedup_passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Copied-passage pairs via shared winnowing fingerprints; the
    # hot-fingerprint cap (boilerplate guard) is declared semantics,
    # so the oracle reproduces it exactly.
    return T.passage_overlap_pairs(t(spark, sf_dir, "documents"))


DEDUP_PASSAGE_PAIRS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, r.i, array_to_string(tk[r.i:r.i+2], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i) r
),
hashes AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h,
         count(*) OVER (PARTITION BY doc_id) AS n_g
  FROM grams
),
wins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hashes
  QUALIFY i <= n_g - 3
),
fps AS (SELECT DISTINCT doc_id, fp FROM wins),
rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100
),
slim AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*) AS shared_fps
FROM slim a JOIN slim b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling-hash winnowing fingerprints (k=3 token grams, window 4);
    # md5-prefix hashes keep both engines bit-identical.
    return T.winnow_fingerprints(t(spark, sf_dir, "documents"))


TEXT_WINNOW_FINGERPRINTS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, r.i, array_to_string(tk[r.i:r.i+2], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i) r
),
hashes AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h,
         count(*) OVER (PARTITION BY doc_id) AS n_g
  FROM grams
),
wins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hashes
  QUALIFY i <= n_g - 3
)
SELECT DISTINCT doc_id, fp AS fingerprint FROM wins
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PageRank centrality over the winnowing passage-overlap graph:
    # which documents sit at the center of the copied-passage web
    # (template/boilerplate hubs -- prime removal candidates). Pairs
    # are symmetrized into a directed edge list; the operator
    # checkpoints it once so the corpus is NOT re-scanned per
    # iteration.
    from ..operators.components import pagerank, symmetrize

    pairs = T.passage_overlap_pairs(t(spark, sf_dir, "documents"))
    edges = symmetrize(pairs)
    return pagerank(edges).select(F.col("id").alias("doc_id"), "pagerank")


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual near-dup pairs over BINARY payloads (E4's missing
    # near-dup rung: multimodal_dedup is exact-sha only): 16-bit
    # blockwise-mean hash computed with pure JVM expressions (the
    # pHash blocking idea, DCT swapped for block means so it stays
    # codec-free and replayable), THREE hash segments (6+5+5 bits;
    # pigeonhole guarantees exact recall at hamming <= 2) bucketed
    # GROUPED not self-joined, exact bit_count hamming refine.
    # Payloads below 16 bytes have no meaningful blocks and hash to
    # NULL by declared semantics. The oracle recomputes the hash from
    # hex byte slices and verifies pairs with a plain bucket join over
    # the same three segments.
    d = t(spark, sf_dir, "documents")
    p = M.attach_binary_payload(d, "text").filter(F.col("n_bytes") >= 16)
    return M.phash_near_pairs(p, max_hamming=2)


MULTIMODAL_PHASH_PAIRS_SQL = """
WITH pay AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 16
), by AS (
  SELECT doc_id, n,
         [CAST('0x' || substring(hx, 2 * i - 1, 2) AS BIGINT)
          FOR i IN range(1, CAST(n AS INT) + 1)] AS bs
  FROM pay
), tot AS (
  SELECT doc_id, n, bs, list_sum(bs) AS total FROM by
), h AS (
  SELECT doc_id,
         list_sum([
           CASE WHEN coalesce(list_sum(
                  bs[CAST(b * n // 16 AS INT) + 1
                     : CAST((b + 1) * n // 16 AS INT)]), 0) * n
                >= total * ((b + 1) * n // 16 - b * n // 16)
                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
           FOR b IN range(0, 16)]) AS phash16
  FROM tot
), g AS (
  -- doc clusters per distinct hash; oversize clusters dropped whole
  -- (operator's max_bucket_size=1024 boilerplate-storm guard)
  SELECT phash16 FROM h GROUP BY 1 HAVING count(*) <= 1024
), mem AS (
  SELECT h.doc_id, h.phash16 FROM h JOIN g USING (phash16)
), same AS (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b,
         CAST(0 AS BIGINT) AS hamming
  FROM mem a JOIN mem b
    ON a.phash16 = b.phash16 AND a.doc_id < b.doc_id
), segs AS (
  -- blocking runs on DISTINCT hashes, as in the operator
  SELECT phash16, 0 AS seg_no, phash16 % 64 AS seg FROM g
  UNION ALL
  SELECT phash16, 1, (phash16 // 64) % 32 FROM g
  UNION ALL
  SELECT phash16, 2, phash16 // 2048 FROM g
), ok AS (
  SELECT seg_no, seg FROM segs GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND 1024
), kept AS (
  SELECT s.* FROM segs s JOIN ok USING (seg_no, seg)
), hp AS (
  SELECT DISTINCT a.phash16 AS ha, b.phash16 AS hb,
         CAST(bit_count(xor(a.phash16, b.phash16)) AS BIGINT) AS hamming
  FROM kept a JOIN kept b
    ON a.seg_no = b.seg_no AND a.seg = b.seg
   AND a.phash16 < b.phash16
  WHERE bit_count(xor(a.phash16, b.phash16)) BETWEEN 1 AND 2
), cross_p AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b,
         hp.hamming
  FROM hp
  JOIN mem ma ON ma.phash16 = hp.ha
  JOIN mem mb ON mb.phash16 = hp.hb
)
SELECT id_a, id_b, hamming FROM same
UNION ALL
SELECT id_a, id_b, hamming FROM cross_p
"""


def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-source BFS (min-hop distance) over the passage-overlap
    # graph: how far does copied boilerplate spread from the seed
    # docs (doc_id % 10 == 0)? Three frontier-expansion rounds, each
    # ONE edge equi-join + min-hop aggregate -- the Pregel shape
    # without per-vertex state; depth is bounded (3), so the DIST
    # lineage stays flat. The edge list IS checkpointed: it feeds the
    # seed scan plus one join per round, and each consumer otherwise
    # re-derives the whole winnowing pipeline (the pre-checkpoint
    # executed plan showed 30 corpus scans). The oracle unrolls the
    # same three rounds.
    from ..operators.components import symmetrize

    pairs = T.passage_overlap_pairs(t(spark, sf_dir, "documents"))
    edges = symmetrize(pairs).localCheckpoint(eager=False)
    dist = (
        edges.select("src")
        .distinct()
        .filter(F.col("src") % 10 == 0)
        .select(F.col("src").alias("id"), F.lit(0).alias("hops"))
    )
    for _ in range(3):
        step = dist.join(edges, dist["id"] == edges["src"]).select(
            F.col("dst").alias("id"), (F.col("hops") + 1).alias("hops")
        )
        dist = (
            dist.unionAll(step)
            .groupBy("id")
            .agg(F.min("hops").alias("hops"))
        )
    return dist.select(
        F.col("id").alias("doc_id"), F.col("hops").cast("long").alias("hops")
    )


GRAPH_SHORTEST_HOPS_SQL = (
    f"WITH pairs AS ({DEDUP_PASSAGE_PAIRS_SQL}), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs), "
    "d0 AS (SELECT DISTINCT src AS id, 0 AS hops FROM e "
    "WHERE src % 10 = 0), "
    + ", ".join(
        f"d{k + 1} AS (SELECT id, min(hops) AS hops FROM ("
        f"SELECT id, hops FROM d{k} UNION ALL "
        f"SELECT e.dst AS id, d{k}.hops + 1 AS hops "
        f"FROM d{k} JOIN e ON d{k}.id = e.src) GROUP BY id)"
        for k in range(3)
    )
    + " SELECT id AS doc_id, CAST(hops AS BIGINT) AS hops FROM d3"
)


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Community detection by synchronous majority-vote label
    # propagation (Raghavan et al. 2007) over the passage-overlap
    # graph -- the community answer beside dedup_components'
    # connectivity answer (min-propagation finds components; majority
    # vote splits them into densely-linked groups). 3 synchronous
    # rounds: each node adopts its neighbors' most frequent label,
    # ties to the SMALLEST label, picked by a row_number over the
    # (node, label) vote counts -- fully deterministic, no random
    # order (the published async tie-coin is replaced by the
    # deterministic tiebreak, stated semantics). Each round is one
    # edge equi-join + one vote aggregate sharing the dst
    # partitioning; the oracle replays all rounds.
    from ..operators.components import symmetrize

    pairs = T.passage_overlap_pairs(t(spark, sf_dir, "documents"))
    # Checkpointed for the same reason as graph_shortest_hops: one
    # consumer per round plus the seed scan would otherwise re-derive
    # the winnowing pipeline each time.
    edges = symmetrize(pairs).localCheckpoint(eager=False)
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("label")
    )
    for _ in range(3):
        votes = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("dst").orderBy(
            F.desc("n"), F.asc("label")
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("dst").alias("id"), "label")
        )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").cast("long").alias("community"),
    )


def _lpa_sql() -> str:
    prev = "l0"
    ctes = [
        f"pairs AS ({DEDUP_PASSAGE_PAIRS_SQL})",
        "e AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs)",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)",
    ]
    for k in range(3):
        ctes.append(
            f"v{k} AS (SELECT e.dst, {prev}.label, count(*) AS n"
            f" FROM e JOIN {prev} ON e.src = {prev}.id"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{k + 1} AS (SELECT dst AS id, label FROM ("
            f"SELECT dst, label, row_number() OVER ("
            "PARTITION BY dst ORDER BY n DESC, label ASC) AS rk"
            f" FROM v{k}) WHERE rk = 1)"
        )
        prev = f"l{k + 1}"
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT id AS doc_id, CAST(label AS BIGINT) AS community"
        f" FROM {prev}"
    )


GRAPH_LABEL_PROPAGATION_SQL = _lpa_sql()


def event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Longest consecutive-day activity streak per user -- the classic
    # gaps-and-islands shape: distinct active days, island id =
    # epoch_day - row_number (constant within a consecutive run),
    # then two hash aggregates. ONE user-partitioned window, no
    # self-join, no calendar explode; every count is an exact BIGINT.
    # Ties (two streaks of max length) break to the earliest start.
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    epoch_day = F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01")))
    isl = days.withColumn("grp", epoch_day - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.min("day").alias("start")
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start").asc()
    )
    best = streaks.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") == 1
    )
    return best.select(
        "user_id",
        F.col("len").cast("long").alias("longest_streak"),
        F.date_format("start", "yyyy-MM-dd").alias("streak_start"),
    )


EVENT_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), isl AS (
  SELECT user_id, day,
         (day - DATE '1970-01-01')
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, count(*) AS len, min(day) AS start
  FROM isl GROUP BY 1, 2
), best AS (
  SELECT user_id, len, start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start ASC) AS rk
  FROM streaks
)
SELECT user_id, CAST(len AS BIGINT) AS longest_streak,
       strftime(start, '%Y-%m-%d') AS streak_start
FROM best WHERE rk = 1
"""


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entity resolution by the Sorted Neighborhood Method (Hernandez
    # & Stolfo 1995): sort records on a key, compare each record only
    # to its w nearest neighbors. The scalable variant partitions by
    # a blocking prefix first (all-but-last-2 chars of the name, so
    # blocks are bounded by the key alphabet) and sorts WITHIN blocks
    # -- one hash shuffle, never a global sort -- then the w=2
    # neighborhood is two lead() columns over that window and the
    # candidate pairs refine on levenshtein <= 1. No pair survives
    # outside its block, so the candidate count is O(w * n), not n^2.
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    c = c.withColumn(
        "blk", F.expr("substr(c_name, 1, length(c_name) - 2)")
    )
    w = Window.partitionBy("blk").orderBy("c_name", "c_custkey")
    led = c.select(
        "c_custkey",
        "c_name",
        F.lead("c_name", 1).over(w).alias("n1"),
        F.lead("c_custkey", 1).over(w).alias("k1"),
        F.lead("c_name", 2).over(w).alias("n2"),
        F.lead("c_custkey", 2).over(w).alias("k2"),
    )
    pairs = led.select(
        F.col("c_custkey").alias("a_custkey"),
        F.col("c_name").alias("a_name"),
        F.col("k1").alias("b_custkey"),
        F.col("n1").alias("b_name"),
    ).unionAll(
        led.select(
            F.col("c_custkey").alias("a_custkey"),
            F.col("c_name").alias("a_name"),
            F.col("k2").alias("b_custkey"),
            F.col("n2").alias("b_name"),
        )
    )
    return pairs.filter(
        F.col("b_custkey").isNotNull()
        & (F.levenshtein("a_name", "b_name") <= 1)
    ).select(
        "a_custkey",
        "b_custkey",
        "a_name",
        "b_name",
        F.levenshtein("a_name", "b_name").cast("long").alias("dist"),
    )


DEDUP_SORTED_NEIGHBORHOOD_SQL = """
WITH led AS (
  SELECT c_custkey, c_name,
         lead(c_name, 1) OVER w AS n1, lead(c_custkey, 1) OVER w AS k1,
         lead(c_name, 2) OVER w AS n2, lead(c_custkey, 2) OVER w AS k2
  FROM customer
  WINDOW w AS (PARTITION BY substr(c_name, 1, length(c_name) - 2)
               ORDER BY c_name, c_custkey)
), pairs AS (
  SELECT c_custkey AS a_custkey, c_name AS a_name,
         k1 AS b_custkey, n1 AS b_name FROM led
  UNION ALL
  SELECT c_custkey AS a_custkey, c_name AS a_name,
         k2 AS b_custkey, n2 AS b_name FROM led
)
SELECT a_custkey, b_custkey, a_name, b_name,
       CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
FROM pairs
WHERE b_custkey IS NOT NULL AND levenshtein(a_name, b_name) <= 1
"""


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    iters: int = 10,
    id_alias: str = "doc_id",
) -> str:
    """Replays pagerank()'s power iteration as chained CTEs over any
    symmetric (src, dst) edge query; float literals are repr()'d so
    both engines parse the identical double (1 - 0.85 is NOT 0.15 in
    binary). Shared by graph_pagerank (passage-overlap edges) and
    text_textrank (token co-occurrence edges)."""
    base, d = repr(1.0 - damping), repr(damping)
    ctes = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "v AS (SELECT DISTINCT src AS id FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v)",
        "r0 AS (SELECT id, 1.0 / n AS r FROM v, nn)",
    ]
    for k in range(iters):
        ctes.append(
            f"c{k} AS (SELECT e.dst AS id, sum(r{k}.r / d.outdeg) AS s"
            f" FROM r{k} JOIN edges e ON r{k}.id = e.src"
            f" JOIN deg d ON d.src = r{k}.id GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS (SELECT v.id,"
            f" {base} / nn.n + {d} * coalesce(c{k}.s, 0.0) AS r"
            f" FROM v CROSS JOIN nn LEFT JOIN c{k} ON c{k}.id = v.id)"
        )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\n"
        f"SELECT id AS {id_alias}, {sql_dround('r', 6)} AS pagerank"
        f" FROM r{iters}"
    )


_PASSAGE_EDGES_SQL = (
    f"WITH pairs AS ({DEDUP_PASSAGE_PAIRS_SQL})"
    " SELECT id_a AS src, id_b AS dst FROM pairs"
    " UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs"
)

GRAPH_PAGERANK_SQL = pagerank_oracle_sql(_PASSAGE_EDGES_SQL)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle participation counts over the passage-overlap graph --
    # tightly-knit boilerplate cliques light up here before
    # components ever merge them.
    from ..operators.components import triangle_counts

    pairs = T.passage_overlap_pairs(t(spark, sf_dir, "documents"))
    return triangle_counts(
        pairs.select("id_a", "id_b")
    ).select(F.col("id").alias("doc_id"), "n_triangles")


# Canonical pairs have id_a < id_b, so the triple join enumerates each
# triangle exactly once with x < y < z; every corner gets one credit.
GRAPH_TRIANGLES_SQL = f"""
WITH e AS ({DEDUP_PASSAGE_PAIRS_SQL}),
t AS (
  SELECT a.id_a AS x, a.id_b AS y, b.id_b AS z
  FROM e a
  JOIN e b ON a.id_b = b.id_a
  JOIN e c ON c.id_a = a.id_a AND c.id_b = b.id_b
), corners AS (
  SELECT unnest([x, y, z]) AS id FROM t
)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY id
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.pii_scrub(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_emails", "n_urls", "scrubbed_sha256"
    )


TEXT_PII_SCRUB_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.EMAIL_REGEX}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{T.URL_REGEX}')) AS BIGINT)
         AS n_urls,
       sha256(regexp_replace(
         regexp_replace(text, '{T.EMAIL_REGEX}', '<EMAIL>', 'g'),
         '{T.URL_REGEX}', '<URL>', 'g')) AS scrubbed_sha256
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       sha256(trim(regexp_replace(
         regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# Multimodal columns (E4)
# --------------------------------------------------------------------------

def multimodal_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return M.attach_binary_payload(d, "text", mime="text/plain").select(
        "doc_id", "content_sha256", "n_bytes", "mime"
    )


MULTIMODAL_PAYLOAD_SQL = """
SELECT doc_id,
       sha256(text) AS content_sha256,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'text/plain' AS mime
FROM documents
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched decode plumbing (mapInPandas) with the
    # deterministic fake codec (real codecs not installed). The
    # feature array is flattened to scalar columns for the driver
    # comparison -- array-typed outputs crash its canonicalizer --
    # and the fake decoder's byte math is replayed exactly in the
    # DuckDB oracle (hex-string byte slicing), making the whole
    # Python-UDF round trip value-exact end to end.
    d = t(spark, sf_dir, "documents")
    payloads = M.attach_binary_payload(d, "text")
    feats = M.extract_features(payloads)
    return feats.select(
        "doc_id",
        "content_sha256",
        "n_bytes",
        F.size("features").cast("long").alias("n_features"),
        F.col("features")[0].alias("f_len"),
        F.col("features")[1].alias("f_first_byte"),
        F.col("features")[2].alias("f_last_byte"),
        F.col("features")[3].alias("f_stride_sum"),
    )


MULTIMODAL_FEATURES_SQL = """
WITH h AS (
  SELECT doc_id,
         sha256(text) AS content_sha256,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT doc_id, content_sha256, n_bytes,
       CAST(4 AS BIGINT) AS n_features,
       n_bytes::DOUBLE AS f_len,
       CASE WHEN n_bytes = 0 THEN 0.0 ELSE
         CAST('0x' || substring(hx, 1, 2) AS INT)::DOUBLE END AS f_first_byte,
       CASE WHEN n_bytes = 0 THEN 0.0 ELSE
         CAST('0x' || substring(hx, 2 * n_bytes - 1, 2) AS INT)::DOUBLE
       END AS f_last_byte,
       CASE WHEN n_bytes = 0 THEN 0.0 ELSE
         (list_sum([CAST('0x' || substring(hx, 2 * i - 1, 2) AS INT)
                    FOR i IN range(1, n_bytes + 1,
                                   greatest(1, n_bytes // 16))])
          % 997)::DOUBLE
       END AS f_stride_sum
FROM h
"""


# --------------------------------------------------------------------------
# Event-time operators over `events` (as-of, windows, sessionization)
# --------------------------------------------------------------------------

def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame-sampling plumbing (mapInPandas generator fan-out: one
    # payload row -> <= max_frames frame rows), driver-visible via
    # per-frame byte counts + hashes. The deterministic fake "codec"
    # slices every 256 bytes; the oracle replays the slicing with
    # string substrings (the test corpus is pure ASCII, so byte and
    # character offsets coincide -- asserted by the n_bytes oracle
    # column; the Spark side operates on real bytes regardless).
    d = t(spark, sf_dir, "documents")
    payloads = M.attach_binary_payload(d, "text")
    frames = M.sample_frames(payloads)
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame").cast("long").alias("frame_bytes"),
        F.sha2("frame", 256).alias("frame_sha256"),
    )


MULTIMODAL_FRAMES_SQL = """
WITH d AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents
), f AS (
  SELECT doc_id,
         unnest(range(0, least(8, greatest(n, 1) // 256 + 1))) AS frame_no,
         text, n
  FROM d
)
SELECT doc_id,
       CAST(frame_no AS BIGINT) AS frame_no,
       CAST(length(substring(text, CAST(frame_no * 256 + 1 AS INT), 256))
            AS BIGINT) AS frame_bytes,
       sha256(substring(text, CAST(frame_no * 256 + 1 AS INT), 256))
         AS frame_sha256
FROM f
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Resize plumbing (one mapInPandas row per input, fixed-size
    # output payload). The deterministic fake tiles the payload to
    # width*height bytes; the oracle replays it with repeat+substring
    # (ASCII corpus: byte == char offsets, asserted via n_bytes).
    d = t(spark, sf_dir, "documents")
    payloads = M.attach_binary_payload(d, "text")
    out = M.resize_images(payloads, width=64, height=64)
    return out.select(
        "doc_id",
        "content_sha256",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("resized").cast("long").alias("n_bytes"),
        F.sha2("resized", 256).alias("resized_sha256"),
    )


MULTIMODAL_RESIZE_SQL = """
SELECT doc_id,
       sha256(text) AS content_sha256,
       CAST(64 AS BIGINT) AS width,
       CAST(64 AS BIGINT) AS height,
       CAST(length(substring(repeat(text,
              CAST(4096 // greatest(length(text), 1) + 1 AS INT)),
            1, 4096)) AS BIGINT) AS n_bytes,
       sha256(substring(repeat(text,
              CAST(4096 // greatest(length(text), 1) + 1 AS INT)),
            1, 4096)) AS resized_sha256
FROM documents
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # For every error event: the user's most recent click at/before it.
    e = t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        errors, clicks, on="user_id", left_time="ts", right_time="ts",
        right_payload=["click_event_id", "click_value"],
        right_order="click_event_id",
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        "click_event_id",
        "click_value",
    )


ASOF_JOIN_EVENTS_SQL = """
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type, value FROM events),
errors AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'error'),
clicks AS (SELECT user_id, ts, event_id AS click_event_id,
                  value AS click_value FROM ev WHERE event_type = 'click')
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
       c.click_event_id,
       c.click_value AS click_value
FROM errors e
ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
"""


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # For every error event: the user's NEXT click at/after it -- the
    # forward direction of the same one-shuffle carry pattern
    # (mirrored frame + `first`), oracled against DuckDB's native
    # forward ASOF JOIN.
    e = t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        errors, clicks, on="user_id", left_time="ts", right_time="ts",
        right_payload=["click_event_id", "click_value"],
        right_order="click_event_id", direction="forward",
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        "click_event_id",
        "click_value",
    )


ASOF_JOIN_FORWARD_SQL = """
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type, value FROM events),
errors AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'error'),
clicks AS (SELECT user_id, ts, event_id AS click_event_id,
                  value AS click_value FROM ev WHERE event_type = 'click')
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
       c.click_event_id,
       c.click_value AS click_value
FROM errors e
ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.ts
"""


def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nearest-direction as-of: closer of the backward/forward match,
    # ties to backward. Oracled as two chained native DuckDB ASOF
    # joins + a closeness CASE. (user_id, ts) is unique in events, so
    # no tie-among-equals ambiguity between engines.
    e = t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        errors, clicks, on="user_id", left_time="ts", right_time="ts",
        right_payload=["click_event_id", "click_value"],
        right_order="click_event_id", direction="nearest",
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("error_ts"),
        "click_event_id",
        "click_value",
    )


ASOF_JOIN_NEAREST_SQL = """
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type, value FROM events),
errors AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'error'),
clicks AS (SELECT user_id, ts, event_id AS click_event_id,
                  value AS click_value FROM ev WHERE event_type = 'click')
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
       CASE WHEN cb.ts IS NOT NULL
                 AND (cf.ts IS NULL OR e.ts - cb.ts <= cf.ts - e.ts)
            THEN cb.click_event_id ELSE cf.click_event_id
       END AS click_event_id,
       CASE WHEN cb.ts IS NOT NULL
                 AND (cf.ts IS NULL OR e.ts - cb.ts <= cf.ts - e.ts)
            THEN cb.click_value ELSE cf.click_value
       END AS click_value
FROM errors e
ASOF LEFT JOIN clicks cb ON e.user_id = cb.user_id AND e.ts >= cb.ts
ASOF LEFT JOIN clicks cf ON e.user_id = cf.user_id AND e.ts <= cf.ts
"""


SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def table_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join-key skew diagnostics -- the planning input for salting /
    # AQE skew-join decisions: per candidate key, distinct count, the
    # heaviest key and its row share, and the max/avg skew ratio.
    # ONE scan: the three key columns are melted into (key_name,
    # key_value) rows by a 3-way explode, then two aggregations
    # (key-level counts -> key_name-level stats) and a window top-1
    # that reuses the second aggregation's partitioning.
    li = t(spark, sf_dir, "lineitem")
    melted = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key_name"),
                        F.col(k).cast("long").alias("key_value"),
                    )
                    for k in SKEW_KEYS
                ]
            )
        ).alias("kv")
    ).select("kv.key_name", "kv.key_value")
    counts = melted.groupBy("key_name", "key_value").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("key_name").orderBy(
        F.col("cnt").desc(), F.col("key_value").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .groupBy("key_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("max_rows_per_key"),
            F.max(F.when(F.col("__rn") == 1, F.col("key_value"))).alias(
                "top_key"
            ),
        )
        .select(
            "key_name",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.col("max_rows_per_key").cast("long").alias("max_rows_per_key"),
            F.col("top_key").cast("long").alias("top_key"),
            dround(
                F.col("max_rows_per_key").cast("double")
                * F.col("n_distinct")
                / F.col("n_rows"),
                6,
            ).alias("skew_ratio"),
        )
    )


TABLE_SKEW_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{k}' AS key_name,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(cnt) AS BIGINT) AS max_rows_per_key,
       CAST(max(CASE WHEN rn = 1 THEN key_value END) AS BIGINT) AS top_key,
       {sql_dround(
           'CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt)', 6)}
         AS skew_ratio
FROM (SELECT key_value, cnt,
             row_number() OVER (ORDER BY cnt DESC, key_value ASC) AS rn
      FROM (SELECT CAST({k} AS BIGINT) AS key_value, count(*) AS cnt
            FROM lineitem GROUP BY 1))"""
    for k in SKEW_KEYS
)


def event_lookback_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Attribution over a sliding time RANGE frame: for every purchase,
    # the click count and first/last click time within the preceding
    # hour -- ONE range-frame window over the user partition (epoch
    # MICROSECONDS as the exact-integer order key: second-truncated
    # unix_timestamp would disagree with the oracle's interval
    # arithmetic at the frame boundary), no self-join, no explosion.
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    us = epoch_us(e, "ts")
    click_us = F.when(F.col("event_type") == "click", us)
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    scored = e.withColumns(
        {
            "__n_clicks": F.count(click_us).over(w),
            "__first_us": F.min(click_us).over(w),
            "__last_us": F.max(click_us).over(w),
        }
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return scored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.col("__n_clicks").cast("long").alias("n_clicks_1h"),
        F.date_format(
            ntz_from_epoch_us(F.col("__first_us")), fmt
        ).alias("first_click_ts"),
        F.date_format(
            ntz_from_epoch_us(F.col("__last_us")), fmt
        ).alias("last_click_ts"),
    )


EVENT_LOOKBACK_ATTRIBUTION_SQL = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE event_type IN ('click', 'purchase')
), scored AS (
  SELECT *,
    count(CASE WHEN event_type = 'click' THEN us END) OVER w AS n_clicks,
    min(CASE WHEN event_type = 'click' THEN us END) OVER w AS first_us,
    max(CASE WHEN event_type = 'click' THEN us END) OVER w AS last_us
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       CAST(n_clicks AS BIGINT) AS n_clicks_1h,
       strftime(make_timestamp(first_us), '%Y-%m-%d %H:%M:%S.%f')
         AS first_click_ts,
       strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S.%f')
         AS last_click_ts
FROM scored WHERE event_type = 'purchase'
"""


def event_lookback_attribution_chunked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same 1-hour-lookback attribution as
    `event_lookback_attribution`, with the trailing RANGE frame
    computed by the ghost-row chunk-and-stitch operator
    (`operators/chunked_window.chunked_range_agg`, 1-hour buckets =
    the frame span): each row is shipped to its own bucket and as
    read-only context to the next, the range window runs locally per
    (user, bucket), and only own rows survive — every task bounded
    by ~2 hours of one user's events instead of all of them. Frame
    membership is the identical microsecond range predicate, so
    count/min/max come out bit-equal; the readout projection is the
    VERBATIM plain logic and the entry shares the plain oracle SQL.
    Closes the trailing-RANGE-frame class of the PLANS.md hot-key
    table (cost: 2x shuffled rows, no summary re-derivation).
    """
    from ..operators.chunked_window import chunked_range_agg

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    us = epoch_us(e, "ts")
    click_us = F.when(F.col("event_type") == "click", us)
    scored = chunked_range_agg(
        e, ["user_id"], "ts",
        {
            "__n_clicks": F.count(click_us),
            "__first_us": F.min(click_us),
            "__last_us": F.max(click_us),
        },
        range_sec=3600.0,
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return scored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.col("__n_clicks").cast("long").alias("n_clicks_1h"),
        F.date_format(
            ntz_from_epoch_us(F.col("__first_us")), fmt
        ).alias("first_click_ts"),
        F.date_format(
            ntz_from_epoch_us(F.col("__last_us")), fmt
        ).alias("last_click_ts"),
    )


def event_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-series resampling to hourly OHLC bars: open/close via
    # min_by/max_by on the (ts, event_id) composite order key (unique,
    # so fully deterministic), high/low/volume as plain aggregates --
    # ONE hash aggregation, no window, no self-join. The financial
    # downsample shape every time-series engine ships.
    e = t(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(bar.alias("__bar"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("total_value"),
        )
        .select(
            F.date_format("__bar", "yyyy-MM-dd HH:00").alias("bar_ts"),
            "open", "high", "low", "close",
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


EVENT_OHLC_BARS_SQL = f"""
WITH x AS (
  SELECT date_trunc('hour', ts) AS b, ts, event_id, value FROM events
), o AS (
  SELECT b, value AS open FROM (
    SELECT *, row_number() OVER (PARTITION BY b
        ORDER BY ts ASC, event_id ASC) AS rn FROM x) WHERE rn = 1
), c AS (
  SELECT b, value AS close FROM (
    SELECT *, row_number() OVER (PARTITION BY b
        ORDER BY ts DESC, event_id DESC) AS rn FROM x) WHERE rn = 1
), agg AS (
  SELECT b, max(value) AS high, min(value) AS low,
         count(*) AS n_events, {sql_dsum('value', 4)} AS total_value
  FROM x GROUP BY b
)
SELECT strftime(agg.b, '%Y-%m-%d %H:00') AS bar_ts,
       o.open, agg.high, agg.low, c.close,
       CAST(agg.n_events AS BIGINT) AS n_events, agg.total_value
FROM agg JOIN o ON agg.b = o.b JOIN c ON agg.b = c.b
"""


def event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-filled per-user daily series with forward-fill: generate
    # each user's full day spine (sequence + explode from a one-row
    # per-user span -- no calendar table join), left join the daily
    # aggregates, carry the last seen total forward over the gap days
    # (last ignorenulls over the user partition). The
    # resample+interpolate shape; two scans of the fact (span + daily
    # aggregate) and one id-shuffle for the spine join.
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = e.groupBy(
        F.col("user_id"), day.alias("day")
    ).agg(F.count("*").alias("n"), dsum("value", 4).alias("total"))
    span = e.groupBy("user_id").agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(F.col("total"), F.lit(0.0)).alias("total_value"),
        F.last("total", ignorenulls=True).over(w).alias("carried_value"),
    )


EVENT_GAPFILL_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n, {sql_dsum('value', 4)} AS total
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
), j AS (
  SELECT s.user_id, s.day, d.n, d.total
  FROM spine s LEFT JOIN daily d
    ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       coalesce(total, 0.0) AS total_value,
       last_value(total IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS carried_value
FROM j
"""


def event_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-filled per-user daily series with LINEAR interpolation
    # (event_gapfill's sibling: lerp between the bracketing
    # observations instead of carrying the last one forward). Both
    # carries travel as (day, value) STRUCTS under one
    # last/first(ignorenulls) each -- the struct is non-null exactly
    # when the observation row is, so day and value can never come
    # from different rows -- and both window directions share the
    # single user_id shuffle. The lerp itself is per-row IEEE double
    # arithmetic on exact DECIMAL-summed inputs (base.py rules), so
    # no rounding is needed. Interior gap days always have both
    # brackets (the spine spans first..last observed day).
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = e.groupBy(F.col("user_id"), day.alias("day")).agg(
        dsum("value", 4).alias("total")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    obs = F.when(
        F.col("total").isNotNull(),
        F.struct(F.col("day").alias("d"), F.col("total").alias("v")),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    j = j.withColumn(
        "prev", F.last(obs, ignorenulls=True).over(wb)
    ).withColumn("nxt", F.first(obs, ignorenulls=True).over(wf))
    frac = F.datediff(F.col("day"), F.col("prev.d")).cast(
        "double"
    ) / F.datediff(F.col("nxt.d"), F.col("prev.d")).cast("double")
    interp = F.when(F.col("total").isNotNull(), F.col("total")).otherwise(
        F.col("prev.v") + (F.col("nxt.v") - F.col("prev.v")) * frac
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("total").alias("observed"),
        interp.alias("interp_value"),
    )


EVENT_GAPFILL_INTERP_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value', 4)} AS total
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
), j AS (
  SELECT s.user_id, s.day, d.total
  FROM spine s LEFT JOIN daily d
    ON s.user_id = d.user_id AND s.day = d.day
), c AS (
  SELECT user_id, day, total,
         last_value(CASE WHEN total IS NOT NULL THEN day END
                    IGNORE NULLS) OVER wb AS pd,
         last_value(CASE WHEN total IS NOT NULL THEN total END
                    IGNORE NULLS) OVER wb AS pv,
         first_value(CASE WHEN total IS NOT NULL THEN day END
                     IGNORE NULLS) OVER wf AS nd,
         first_value(CASE WHEN total IS NOT NULL THEN total END
                     IGNORE NULLS) OVER wf AS nv
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, total AS observed,
       CASE WHEN total IS NOT NULL THEN total
            ELSE pv + (nv - pv)
                 * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END AS interp_value
FROM c
"""


def event_gapfill_interp_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same gap-filled linear interpolation as
    `event_gapfill_interp`, with BOTH carries computed through the
    chunk-and-stitch boundary-carry operator
    (`operators/chunked_window.chunked_last_carry`): each user's day
    spine is split into 32-day buckets, the (day, value) struct
    carries run per (user, bucket) — every task bounded by one
    bucket's rows — and bucket boundaries stitch through the
    one-row-per-bucket summary. Output and oracle are IDENTICAL to
    the plain entry, so the driver's value-hash proves the chunked
    lag/carry class bit-equal to the single-task window at catalog
    level. Opt-in plan shape for a pathologically hot key (bot /
    null user) whose day span exceeds what one task should sort;
    costs the same summary-branch re-derivation documented in
    chunked_window.py (recompute beats checkpointing a corpus-sized
    spine).
    """
    from ..operators.chunked_window import chunked_last_carry

    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = e.groupBy(F.col("user_id"), day.alias("day")).agg(
        dsum("value", 4).alias("total")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    obs = F.when(
        F.col("total").isNotNull(),
        F.struct(F.col("day").alias("d"), F.col("total").alias("v")),
    )
    width = 32 * 86400.0  # 32-day buckets over the day spine
    j = chunked_last_carry(
        j, ["user_id"], "day", obs, out="prev",
        bucket_width_sec=width, forward=True,
    )
    j = chunked_last_carry(
        j, ["user_id"], "day", obs, out="nxt",
        bucket_width_sec=width, forward=False,
    )
    frac = F.datediff(F.col("day"), F.col("prev.d")).cast(
        "double"
    ) / F.datediff(F.col("nxt.d"), F.col("prev.d")).cast("double")
    interp = F.when(F.col("total").isNotNull(), F.col("total")).otherwise(
        F.col("prev.v") + (F.col("nxt.v") - F.col("prev.v")) * frac
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("total").alias("observed"),
        interp.alias("interp_value"),
    )


def event_streaks_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same longest-consecutive-day streaks as `event_streaks`,
    with the per-user row_number computed as a chunk-and-stitch
    cumulative sum (`operators/chunked_window.chunked_cumsum` over a
    constant 1 — row_number IS cumsum(1) on the distinct-day table)
    in 16-day buckets, and the final longest-streak pick as a pure
    hash AGGREGATE (max_by over a (len, -epoch_day) ordering struct)
    instead of a ranking window — so NO stage puts a whole hot key
    through one task. Output and oracle are IDENTICAL to the plain
    entry (driver value-hash proves bit-equality at catalog level).
    """
    from ..operators.chunked_window import chunked_cumsum

    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    rn = chunked_cumsum(
        days, ["user_id"], "day", F.lit(1).cast("long"), out="rn",
        bucket_width_sec=16 * 86400.0,
    )
    epoch_day = F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01")))
    isl = rn.withColumn("grp", epoch_day - F.col("rn"))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.min("day").alias("start")
    )
    # Longest streak, ties to earliest start: max over the ordering
    # struct (len, -epoch(start)) -- partial-aggregatable map-side,
    # so even a key with millions of islands never sorts in one task.
    best = streaks.groupBy("user_id").agg(
        F.max_by(
            F.struct(F.col("len"), F.col("start")),
            F.struct(
                F.col("len"),
                (F.lit(0) - F.datediff(
                    F.col("start"), F.to_date(F.lit("1970-01-01"))
                )).alias("neg_epoch"),
            ),
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.len").cast("long").alias("longest_streak"),
        F.date_format("b.start", "yyyy-MM-dd").alias("streak_start"),
    )


def event_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("events"),
             dsum("value", 4).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "events", "total_value",
        )
    )


EVENT_WINDOW_TUMBLING_SQL = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS events,
       {sql_dsum('value', 4)} AS total_value
FROM events
GROUP BY 1, 2
"""


def event_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "events",
        )
    )


EVENT_WINDOW_SLIDING_SQL = """
WITH b AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP),
                     INTERVAL '30 minutes') AS ws FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS events
FROM b GROUP BY ws
"""


def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session windows (30 min inactivity gap): one groupBy on
    # (F.session_window, user_id).
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            "n_events",
        )
    )


EVENT_SESSIONIZE_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


def event_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-minute-gap sessions as `event_sessionize`, computed
    through the chunk-and-stitch operator
    (`operators/chunked_window.sessionize_chunked`): each user's
    timeline is split into 6-hour buckets, sessionized per
    (user, bucket) — every task bounded by one bucket's rows — and
    stitched via a window over the one-row-per-bucket summary. Output
    and oracle are IDENTICAL to the plain entry, so the driver's
    value-hash proves the chunked path bit-equal to the single-task
    window at the catalog level (not just in unit tests). This is the
    opt-in plan shape for a pathologically hot key (bot / null user)
    whose row count exceeds what one task can sort.
    """
    from ..operators.chunked_window import sessionize_chunked

    e = t(spark, sf_dir, "events").select("user_id", "ts")
    sess = sessionize_chunked(
        e, ["user_id"], "ts", gap_sec=30 * 60.0,
        bucket_width_sec=6 * 3600.0, out="session_id",
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            "n_events",
        )
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Market-basket association mining over orders: support /
    # confidence / lift for part pairs co-occurring in an order
    # (Agrawal & Srikant 1994's A-priori counts for itemsets of size
    # 2). Baskets are GROUPED and paired in-array (the bucket pattern
    # again -- a self-join on l_orderkey would re-scan lineitem per
    # side); pair fan-out is quadratic in basket size, which TPC-H
    # bounds at 7 lineitems, and a real deployment caps with the same
    # oversize guard as the dedup buckets. Part supports join back
    # onto the (vocabulary-sized) pair table, AQE picking broadcast.
    # The distinct basket-item table feeds THREE consumers (baskets,
    # part supports, order total): materialize it once -- each
    # consumer otherwise repeats the fact scan AND the distinct
    # shuffle. The checkpoint is one disk copy of data the distinct
    # already shuffled once.
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
        .localCheckpoint(eager=False)
    )
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = (
        baskets.select(bucket_pairs("parts", names=("pa", "pb")))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("pair_orders"))
        .filter(F.col("pair_orders") >= 3)
    )
    # Part-vocabulary-sized, consumed by both join sides.
    sup = li.groupBy("l_partkey").agg(
        F.count("*").alias("part_orders")
    ).localCheckpoint(eager=False)
    sa = sup.select(F.col("l_partkey").alias("pa"),
                    F.col("part_orders").alias("orders_a"))
    sb = sup.select(F.col("l_partkey").alias("pb"),
                    F.col("part_orders").alias("orders_b"))
    tot = li.agg(F.count_distinct("l_orderkey").cast("double").alias("__n"))
    lift = (
        F.col("pair_orders").cast("double") * F.col("__n")
        / (F.col("orders_a").cast("double") * F.col("orders_b").cast("double"))
    )
    scored = (
        pairs.join(sa, "pa").join(sb, "pb").crossJoin(F.broadcast(tot))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pair_orders").cast("long").alias("pair_orders"),
            (F.col("pair_orders").cast("double") / F.col("orders_a")).alias(
                "confidence"
            ),
            dround(lift, 6).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(25)


BASKET_PART_PAIRS_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
baskets AS (
  SELECT l_orderkey, list_sort(list(l_partkey)) AS parts
  FROM lp GROUP BY l_orderkey HAVING count(*) >= 2
), p0 AS (
  SELECT unnest(flatten(list_transform(parts, x ->
           list_transform(list_filter(parts, y -> y > x),
                          y -> {'pa': x, 'pb': y})))) AS s
  FROM baskets
), pairs AS (
  SELECT s.pa AS pa, s.pb AS pb, count(*) AS pair_orders
  FROM p0 GROUP BY 1, 2 HAVING count(*) >= 3
), sup AS (
  SELECT l_partkey, count(*) AS part_orders FROM lp GROUP BY l_partkey
), tot AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM lp
)
SELECT pa AS part_a, pb AS part_b,
       CAST(pair_orders AS BIGINT) AS pair_orders,
       CAST(pair_orders AS DOUBLE) / a.part_orders AS confidence,
       CAST(floor(CAST(pair_orders AS DOUBLE) * n
                  / (CAST(a.part_orders AS DOUBLE)
                     * CAST(b.part_orders AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS lift
FROM pairs
JOIN sup a ON pairs.pa = a.l_partkey
JOIN sup b ON pairs.pb = b.l_partkey
CROSS JOIN tot
ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT 25
"""


def event_enrich_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fact-to-dimension enrichment: events joined to the customer
    # dimension (user_id -> c_custkey) and rolled up per (market
    # segment, event type). The dim is explicitly broadcast -- the
    # fact side never shuffles for the join.
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = e.join(F.broadcast(c), e["user_id"] == c["c_custkey"], "inner")
    return (
        joined.groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            dsum("value", 4).alias("total_value"),
        )
    )


EVENT_ENRICH_CUSTOMER_SQL = f"""
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       {sql_dsum('e.value', 4)} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered conversion funnel view -> click -> purchase: each stage
    # counts users whose earliest qualifying event strictly follows
    # the previous stage's. Three window mins over ONE user_id
    # partitioning (single shuffle; same sort reused), then a global
    # roll-up -- the scalable shape for per-entity ordered-sequence
    # analytics (no self-joins over the event log).
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("viewed"),
        F.count("t_click").alias("clicked"),
        F.count("t_purchase").alias("purchased"),
    )


EVENT_FUNNEL_SQL = """
WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
            FROM events),
v AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM ev GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM ev e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM ev e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v WHERE t_view IS NOT NULL) AS viewed,
       (SELECT count(*) FROM c) AS clicked,
       (SELECT count(*) FROM p) AS purchased
"""


def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a bounded conversion window: each stage
    counts only if its earliest qualifying event lands within 24h of
    the previous stage (the product-analytics funnel definition --
    unbounded funnels overcount by crediting conversions weeks
    later). Same single-shuffle shape as event_funnel: three
    conditional window mins over ONE user_id partitioning, then a
    global roll-up; conversion rates are exact scaled integers.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    day = F.expr("INTERVAL 24 HOURS")
    staged = (
        e.withColumn(
            "t_view",
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + day),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + day),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_view").alias("viewed"),
        F.count("t_click").alias("clicked_24h"),
        F.count("t_purchase").alias("purchased_24h"),
    )
    # Zero-denominator stages (empty corpus, or a funnel nobody
    # entered) yield NULL rates instead of tripping ANSI /0 -- the
    # global agg always emits its one row, so the division runs even
    # with no events.
    rate = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.floor(
            F.col(num) * F.lit(1_000_000.0) / F.col(den) + F.lit(0.5)
        ).cast("long"),
    )
    return counts.select(
        F.col("viewed").cast("long").alias("viewed"),
        F.col("clicked_24h").cast("long").alias("clicked_24h"),
        F.col("purchased_24h").cast("long").alias("purchased_24h"),
        rate("clicked_24h", "viewed").alias("click_rate_q6"),
        rate("purchased_24h", "clicked_24h").alias("purchase_rate_q6"),
    )


EVENT_FUNNEL_WINDOWED_SQL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
), s2 AS (
  SELECT *,
         min(CASE WHEN event_type = 'click' AND ts > t_view
                   AND ts <= t_view + INTERVAL '24 hours' THEN ts END)
           OVER (PARTITION BY user_id) AS t_click
  FROM s1
), s3 AS (
  SELECT *,
         min(CASE WHEN event_type = 'purchase' AND ts > t_click
                   AND ts <= t_click + INTERVAL '24 hours' THEN ts END)
           OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
), pu AS (
  SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
         min(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id
), c AS (
  SELECT count(t_view) AS viewed,
         count(t_click) AS clicked_24h,
         count(t_purchase) AS purchased_24h
  FROM pu
)
SELECT CAST(viewed AS BIGINT) AS viewed,
       CAST(clicked_24h AS BIGINT) AS clicked_24h,
       CAST(purchased_24h AS BIGINT) AS purchased_24h,
       CAST(floor(clicked_24h * 1000000.0 / viewed + 0.5) AS BIGINT)
         AS click_rate_q6,
       CAST(floor(purchased_24h * 1000000.0 / clicked_24h + 0.5) AS BIGINT)
         AS purchase_rate_q6
FROM c
"""


def event_user_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-user outlier detection: z-score every event value against
    # its user's own distribution, report each user's most anomalous
    # event. ONE shuffle: mean/std/count are windows over the user
    # partition, and the top-1 row_number reuses the SAME partitioning
    # (no join-back, no second scan of the event log -- the naive
    # stats-table + broadcast-join-back formulation scans twice).
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    scored = e.withColumns(
        {
            "__n": F.count("*").over(wu),
            "__mean": F.avg("value").over(wu),
            "__std": F.stddev_samp("value").over(wu),
        }
    ).withColumn(
        "__z", (F.col("value") - F.col("__mean")) / F.col("__std")
    )
    rn = Window.partitionBy("user_id").orderBy(
        F.col("__z").desc(), F.col("event_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(rn))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("__n").cast("long").alias("n_events"),
            dround("__mean", 6).alias("mean_value"),
            dround("__std", 6).alias("std_value"),
            F.col("event_id").alias("top_event_id"),
            dround("__z", 4).alias("top_z"),
        )
    )


EVENT_USER_ANOMALY_SQL = f"""
WITH scored AS (
  SELECT user_id, event_id, value,
         count(*) OVER (PARTITION BY user_id) AS n,
         avg(value) OVER (PARTITION BY user_id) AS mean,
         stddev_samp(value) OVER (PARTITION BY user_id) AS std
  FROM events
), z AS (
  SELECT *, (value - mean) / std AS zv FROM scored
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       {sql_dround('mean', 6)} AS mean_value,
       {sql_dround('std', 6)} AS std_value,
       event_id AS top_event_id,
       {sql_dround('zv', 4)} AS top_z
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY zv DESC, event_id ASC) AS rn FROM z)
WHERE rn = 1
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weekly cohort retention: users grouped by first-active week,
    # counted in each later week they return. Reduce to distinct
    # (user, week) BEFORE the per-user window -- partial aggregation
    # shrinks the event log map-side, so the window sort runs over
    # user-weeks (bounded) rather than raw events (unbounded).
    e = t(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
        )
        .distinct()
        .withColumn(
            "cohort", F.min("week").over(Window.partitionBy("user_id"))
        )
    )
    return uw.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        (F.datediff(F.col("week"), F.col("cohort")) / 7)
        .cast("long")
        .alias("weeks_since"),
    ).agg(F.count("*").alias("active_users"))


COHORT_RETENTION_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), coh AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort
  FROM uw
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort, week) / 7 AS BIGINT) AS weeks_since,
       count(*) AS active_users
FROM coh GROUP BY 1, 2
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event
    # sequences: lag() within user (ties broken by event_id for
    # determinism), then one global (src, dst) count. The pair table
    # is tiny (|event_type|^2) regardless of log size, so the share
    # window after the groupBy is effectively free.
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("dst"),
    ).withColumn("src", F.lag("dst").over(w))
    pairs = (
        seq.filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("transitions"))
    )
    total = F.sum("transitions").over(Window.partitionBy("src"))
    return pairs.withColumn("share", dround(F.col("transitions") / total, 6))


EVENT_TRANSITIONS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src
  FROM events
), pairs AS (
  SELECT src, dst, count(*) AS transitions
  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, transitions,
       {sql_dround(
           'transitions / CAST(sum(transitions) OVER (PARTITION BY src)'
           ' AS DOUBLE)', 6)} AS share
FROM pairs
"""


def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern over the per-user stream --
    the MATCH_RECOGNIZE shape Spark SQL lacks: find every ``signup``
    followed by an ``error`` within the next 3 events of that user,
    with NO ``purchase`` between them (onboarding-failure detection).

    Bounded-lookahead patterns like this compile to lead() columns
    over ONE (user_id, ts) window pass -- a single shuffle, no
    self-join of the log, output one row per match. Patterns with
    unbounded lookahead do not compile to this shape.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_type", 3).over(w).alias("t3"),
        F.lead("event_id", 1).over(w).alias("id1"),
        F.lead("event_id", 2).over(w).alias("id2"),
        F.lead("event_id", 3).over(w).alias("id3"),
    ).filter(F.col("event_type") == "signup")
    np1 = F.col("t1") != "purchase"
    np2 = np1 & (F.col("t2") != "purchase")
    matched = s.select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.when(F.col("t1") == "error", F.col("id1"))
        .when(np1 & (F.col("t2") == "error"), F.col("id2"))
        .when(np2 & (F.col("t3") == "error"), F.col("id3"))
        .alias("error_event_id"),
        F.when(F.col("t1") == "error", F.lit(1))
        .when(np1 & (F.col("t2") == "error"), F.lit(2))
        .when(np2 & (F.col("t3") == "error"), F.lit(3))
        .cast("long").alias("steps_to_error"),
    )
    return matched.filter(F.col("error_event_id").isNotNull())


EVENT_PATTERN_MATCH_SQL = """
WITH s AS (
  SELECT user_id, event_id, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(event_type, 3) OVER w AS t3,
         lead(event_id, 1) OVER w AS id1,
         lead(event_id, 2) OVER w AS id2,
         lead(event_id, 3) OVER w AS id3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       event_id AS signup_event_id,
       CASE WHEN t1 = 'error' THEN id1
            WHEN t1 != 'purchase' AND t2 = 'error' THEN id2
            WHEN t1 != 'purchase' AND t2 != 'purchase' AND t3 = 'error'
              THEN id3
       END AS error_event_id,
       CAST(CASE WHEN t1 = 'error' THEN 1
                 WHEN t1 != 'purchase' AND t2 = 'error' THEN 2
                 WHEN t1 != 'purchase' AND t2 != 'purchase'
                      AND t3 = 'error' THEN 3
            END AS BIGINT) AS steps_to_error
FROM s
WHERE event_type = 'signup'
  AND (CASE WHEN t1 = 'error' THEN id1
            WHEN t1 != 'purchase' AND t2 = 'error' THEN id2
            WHEN t1 != 'purchase' AND t2 != 'purchase' AND t3 = 'error'
              THEN id3
       END) IS NOT NULL
"""


def event_transitions_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Markov transition matrix as `event_transitions`, with
    the per-user lag(event_type) computed by the chunk-and-stitch
    lag operator (`operators/chunked_window.chunked_lag`): each
    user's timeline splits into 1-day buckets, lag is local within a
    bucket, and each bucket's first row takes the previous non-empty
    bucket's last value carried verbatim through the
    one-row-per-bucket summary. Value copying only, then the VERBATIM
    shared pair-count/share aggregate — output and oracle are
    IDENTICAL to the plain entry, so the driver's value-hash proves
    the lag-chain chunked class bit-equal to the single-task window
    at catalog level. Opt-in plan shape for a pathologically hot key
    (a bot / null user owning a billion events) whose row count
    exceeds what one task should sort (PLANS.md hot-key table); costs
    the documented summary-branch re-derivation (chunked_window.py
    cost model).
    """
    from ..operators.chunked_window import chunked_lag

    e = t(spark, sf_dir, "events")
    seq = chunked_lag(
        e.select("user_id", "ts", "event_id",
                 F.col("event_type").alias("dst")),
        ["user_id"], "ts", "dst", out="src",
        bucket_width_sec=86400.0, tiebreak_cols=["event_id"],
    )
    pairs = (
        seq.filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("transitions"))
    )
    total = F.sum("transitions").over(Window.partitionBy("src"))
    return pairs.withColumn("share", dround(F.col("transitions") / total, 6))


def event_pattern_match_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same compiled CEP pattern as `event_pattern_match`
    (signup → error within 3 events, no purchase between), with the
    lead chain assembled by the chunk-and-stitch bounded-frame
    operator under REVERSED sort keys (PLANS.md hot-key table: lead =
    lag mirrored). The timeline is re-keyed by
    (timestamp_micros(-epoch_us(ts)), -event_id) — a strictly
    order-reversing, value-preserving transform in any session time
    zone (functions/epoch.py) — so
    `chunked_frame_list` over ROWS 3 PRECEDING..CURRENT in the
    reversed order collects exactly [t+3?, t+2?, t+1?, current] in
    one bounded-task pass: lead(j) is the struct at 0-based index
    size-1-j (F.get returns NULL out of range, matching lead's
    missing-row NULL). Rows ride as non-null structs so positions
    survive the frame assembly; the match predicate is then the
    VERBATIM plain logic, and the entry shares the plain oracle SQL —
    the driver's value-hash proves the lead-chain chunked class
    bit-equal at catalog level. Opt-in for the hot-key case; costs
    the documented summary-branch re-derivation.
    """
    from ..operators.chunked_window import chunked_frame_list

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.timestamp_micros(-epoch_us(ev, "ts")).alias("__rev_ts"),
        (-F.col("event_id")).alias("__rev_id"),
    )
    framed = chunked_frame_list(
        e, ["user_id"], "__rev_ts",
        F.struct(F.col("event_type").alias("et"),
                 F.col("event_id").alias("eid")),
        out="__ahead", frame_rows=4, bucket_width_sec=86400.0,
        tiebreak_cols=["__rev_id"],
    )
    sz = F.size("__ahead")
    lead = lambda j, fld: F.get("__ahead", sz - 1 - j)[fld]  # noqa: E731
    s = framed.select(
        "user_id", "event_id", "event_type",
        lead(1, "et").alias("t1"), lead(2, "et").alias("t2"),
        lead(3, "et").alias("t3"),
        lead(1, "eid").alias("id1"), lead(2, "eid").alias("id2"),
        lead(3, "eid").alias("id3"),
    ).filter(F.col("event_type") == "signup")
    np1 = F.col("t1") != "purchase"
    np2 = np1 & (F.col("t2") != "purchase")
    matched = s.select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.when(F.col("t1") == "error", F.col("id1"))
        .when(np1 & (F.col("t2") == "error"), F.col("id2"))
        .when(np2 & (F.col("t3") == "error"), F.col("id3"))
        .alias("error_event_id"),
        F.when(F.col("t1") == "error", F.lit(1))
        .when(np1 & (F.col("t2") == "error"), F.lit(2))
        .when(np2 & (F.col("t3") == "error"), F.lit(3))
        .cast("long").alias("steps_to_error"),
    )
    return matched.filter(F.col("error_event_id").isNotNull())


def event_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step navigation paths (the clickstream path-mining
    readout behind funnel design): per-user event trigrams from TWO
    lags over ONE (user_id, ts) window pass — no self-join of the log
    against itself, which is the naive k-gram path query's scale
    killer. The path table the aggregate shuffles is bounded by
    |event_type|^3, not by log size; top-k carries a total order
    (count desc, path asc).
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "ts", "event_id",
                 F.col("event_type").alias("e3"))
        .withColumn("e2", F.lag("e3", 1).over(w))
        .withColumn("e1", F.lag("e3", 2).over(w))
        .filter(F.col("e1").isNotNull())
    )
    paths = seq.select(
        "user_id", F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_walks"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_walks"), "path")
        .limit(15)
    )


EVENT_TOP_PATHS_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS e1,
         lag(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT user_id, e1 || ' > ' || e2 || ' > ' || e3 AS path
  FROM seq WHERE e1 IS NOT NULL
)
SELECT path, count(*) AS n_walks, count(DISTINCT user_id) AS n_users
FROM paths GROUP BY path
ORDER BY n_walks DESC, path LIMIT 15
"""


def event_top_paths_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top 3-step paths as `event_top_paths`, with the
    per-user lag CHAIN (lag 1 and lag 2 of event_type) assembled in
    ONE chunk-and-stitch pass: `chunked_frame_list` over ROWS 2
    PRECEDING..CURRENT in the plain ascending order yields
    [t-2?, t-1?, current]; lag(j) is the element at 0-based index
    size-1-j (F.get returns NULL out of range, matching lag's
    missing-row NULL). Rows ride as non-null structs — exactly as
    `event_pattern_match_chunked` does — so a NULL event_type keeps
    its positional frame slot and lags as NULL like the plain
    window, instead of shifting later positions (chunked_frame_list
    drops bare NULL elements after assembly; generated data has no
    NULL event_types, but the plain entry tolerates them, so the
    twin must too). Trigram concat + bounded path aggregate are
    then the VERBATIM plain logic, and the entry shares the plain
    oracle SQL — with `event_pattern_match_chunked` (the lead/
    forward-looking mirror) this closes both directions of the
    lag-k-chain class at catalog level. Opt-in for the hot-key case;
    costs the documented summary-branch re-derivation.
    """
    from ..operators.chunked_window import chunked_frame_list

    framed = chunked_frame_list(
        t(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("e3"),
        ),
        ["user_id"], "ts",
        F.struct(F.col("e3").alias("et")), out="__gram",
        frame_rows=3, bucket_width_sec=86400.0,
        tiebreak_cols=["event_id"],
    )
    sz = F.size("__gram")
    seq = framed.select(
        "user_id",
        F.get("__gram", sz - 3)["et"].alias("e1"),
        F.get("__gram", sz - 2)["et"].alias("e2"),
        "e3",
    ).filter(F.col("e1").isNotNull())
    paths = seq.select(
        "user_id", F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_walks"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_walks"), "path")
        .limit(15)
    )


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-width histogram of events.value: bucket arithmetic stays
    # JVM-side (floor/least, no UDF), one hash aggregate, output
    # bounded by the bucket count. Top bucket clamped so out-of-range
    # values at larger scale factors land in the last bin instead of
    # growing the output.
    e = t(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / F.lit(50.0)), F.lit(9)
    ).cast("long")
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("events"),
        F.min("value").alias("lo_seen"),
        F.max("value").alias("hi_seen"),
    ).withColumn("bucket_lo", (F.col("bucket") * 50).cast("double"))


VALUE_HISTOGRAM_SQL = """
SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
       count(*) AS events,
       min(value) AS lo_seen,
       max(value) AS hi_seen,
       CAST(least(CAST(floor(value / 50.0) AS BIGINT), 9) * 50
            AS DOUBLE) AS bucket_lo
FROM events GROUP BY 1
"""


def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assemble documents into fixed-token-budget
    training sequences (the concat-and-chunk packing every
    pretraining pipeline runs before tokenizer sharding).

    Deterministic greedy fill in doc_id order WITHIN each source
    shard: a running token cumsum assigns each doc to sequence
    floor((cumsum - n_tokens) / budget) -- pure window arithmetic,
    bit-reproducible and SQL-replayable. Packing is per-shard
    (partitioned window) by design: a GLOBAL greedy pack would be a
    single-partition sort at 100 TB, while per-shard packing scales
    with shard count and matches how packed shards are written out.
    The shard key must carry enough cardinality to spread the window
    -- the synthetic corpus's 5-value ``source`` column stands in
    here; a production pack shards on something like
    (source, date_bucket) or a hash-bucketed doc range so the
    per-shard sort stays executor-sized.
    Output: per (source, seq_id) doc count, token total, and budget
    utilization -- the packing-efficiency numbers a data team
    actually monitors."""
    budget = 512
    d = t(spark, sf_dir, "documents")
    toks = F.size(T.ws_tokens(F.col("text"))).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id")
    sized = d.select("doc_id", "source", toks.alias("n_tokens"))
    packed = sized.withColumn(
        "seq_id",
        F.floor(
            (F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ) - F.col("n_tokens")) / budget
        ).cast("long"),
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            dround(F.sum("n_tokens") / F.lit(float(budget)), 4)
            .alias("fill_ratio"),
        )
    )


SAMPLE_PACK_SEQUENCES_SQL = """
WITH sized AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), packed AS (
  SELECT source, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                                         ORDER BY doc_id) - n_tokens)
                    / 512) AS BIGINT) AS seq_id
  FROM sized
)
SELECT source, seq_id,
       count(*) AS docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       round(sum(n_tokens) / 512.0, 4) AS fill_ratio
FROM packed GROUP BY source, seq_id
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    copied passages with the held-out (test) split -- the n-gram
    overlap check every serious pretraining corpus runs against its
    eval sets.

    The holdout is the content-stable md5 test split (sample_split's
    buckets, so membership never changes as the corpus grows).
    Winnowing fingerprints (operators/textstats.py) are computed in
    ONE corpus pass; the train x test collision comes from grouping
    each fingerprint's (train-list, test-list) -- never an all-pairs
    join -- and a train doc is contaminated if any of its
    fingerprints also appears in any test doc. Hot fingerprints
    (df > 100) are boilerplate, not contamination evidence, and are
    dropped as declared semantics like passage_overlap_pairs.
    Output: contaminated train docs with the matching test-doc count
    and shared-fingerprint count, worst first."""
    d = t(spark, sf_dir, "documents")
    fp = T.winnow_fingerprints(d, "doc_id", "text", k=3, w=4)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    tagged = fp.withColumn("is_test", (bucket < F.lit("1a")).cast("int"))
    # Count-prune BEFORE any list is collected (same memory rule as
    # the Jaccard posting lists): a boilerplate fingerprint shared by
    # millions of docs is counted with fixed-size aggregation state
    # and dropped by the semi-join; only surviving fingerprints
    # (df <= 100, >= 1 test member) ever build a train-id list. Costs
    # a second pass over the fingerprint table; never an unbounded
    # collect buffer.
    keep = (
        tagged.groupBy("fingerprint")
        .agg(F.sum("is_test").alias("n_test"), F.count("*").alias("gdf"))
        .filter((F.col("n_test") >= 1) & (F.col("gdf") <= 100))
        .select("fingerprint", "n_test")
    )
    hits = tagged.filter(F.col("is_test") == 0).join(keep, "fingerprint")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").alias("shared_fps"),
            F.sum("n_test").cast("long").alias("test_matches"),
        )
        .orderBy(F.col("shared_fps").desc(), F.col("doc_id").asc())
    )


TEXT_DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
), grams AS (
  SELECT doc_id,
         [CAST('0x' || substring(
            md5(array_to_string(l[i:i+2], ' ')), 1, 8) AS BIGINT)
          FOR i IN range(1, len(l) - 1)] AS hs
  FROM toks
), fps AS (
  SELECT doc_id,
         unnest(list_distinct(
           [list_min(hs[j:j+3]) FOR j IN range(1, len(hs) - 2)]
         )) AS fingerprint
  FROM grams WHERE len(hs) >= 1
), tagged AS (
  SELECT doc_id, fingerprint,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
              THEN 1 ELSE 0 END AS is_test
  FROM fps
), groups AS (
  SELECT fingerprint, sum(is_test) AS n_test, count(*) AS gdf,
         list(CASE WHEN is_test = 0 THEN doc_id END) AS train_ids
  FROM tagged GROUP BY fingerprint
  HAVING sum(is_test) >= 1 AND count(*) <= 100
)
SELECT doc_id,
       count(*) AS shared_fps,
       CAST(sum(n_test) AS BIGINT) AS test_matches
FROM (SELECT unnest(train_ids) AS doc_id, n_test FROM groups)
WHERE doc_id IS NOT NULL
GROUP BY doc_id
"""



def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Snapshot diff between two corpus releases -- the data-ops
    # primitive behind "what changed since the last training dump":
    # full outer join on the stable id, classify by content hash.
    # The two releases are derived deterministically from the one
    # test table (old drops doc_id%7==1, new drops doc_id%5==2 and
    # edits doc_id%3==0); real deployments read two snapshot paths,
    # which makes this ONE scan per snapshot plus one id-shuffle.
    d = t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 1).select(
        F.col("doc_id").alias("old_id"), F.sha2("text", 256).alias("old_hash")
    )
    new = d.filter(F.col("doc_id") % 5 != 2).select(
        F.col("doc_id").alias("new_id"),
        F.sha2(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
            256,
        ).alias("new_hash"),
    )
    j = old.join(new, old["old_id"] == new["new_id"], "full_outer")
    change = (
        F.when(F.col("old_id").isNull(), "added")
        .when(F.col("new_id").isNull(), "removed")
        .when(F.col("old_hash") != F.col("new_hash"), "changed")
        .otherwise("unchanged")
    )
    doc = F.coalesce(F.col("old_id"), F.col("new_id"))
    return (
        j.select(change.alias("change_type"), doc.alias("doc_id"))
        .groupBy("change_type")
        .agg(
            F.count("*").alias("docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


CORPUS_DIFF_SQL = """
WITH old AS (
  SELECT doc_id AS old_id, sha256(text) AS old_hash
  FROM documents WHERE doc_id % 7 != 1
), new AS (
  SELECT doc_id AS new_id,
         sha256(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                     ELSE text END) AS new_hash
  FROM documents WHERE doc_id % 5 != 2
), j AS (
  SELECT CASE WHEN old_id IS NULL THEN 'added'
              WHEN new_id IS NULL THEN 'removed'
              WHEN old_hash != new_hash THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         coalesce(old_id, new_id) AS doc_id
  FROM old FULL OUTER JOIN new ON old.old_id = new.new_id
)
SELECT change_type, count(*) AS docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM j GROUP BY change_type
"""


PROFILE_COLS = (
    "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_returnflag", "l_shipdate",
)


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-quality profiling: one pass over the fact table computing
    # per-column row/null/exact-distinct counts, unpivoted to long
    # form via stack(). The multi-count-distinct aggregate expands to
    # Catalyst's Expand operator (one stream per distinct column) --
    # the standard single-query profile plan; at 100 TB swap the
    # exact distincts for approx_count_distinct and keep the shape.
    li = t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in PROFILE_COLS:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}" for c in PROFILE_COLS
    )
    return one.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args})"
            " AS (col_name, n_non_null, n_distinct)"
        ),
    ).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("n_non_null")).cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


TABLE_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct FROM lineitem"""
    for c in PROFILE_COLS
)


def sample_group_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-size deterministic per-stratum sample: exactly k docs per
    # language, chosen by content-independent md5 order (stable as the
    # corpus grows/repartitions -- the exact-k companion to
    # sample_stratified's fraction-based downsampling, and the
    # distributed stand-in for per-group reservoir sampling). One
    # window over (lang), no shuffle beyond the per-stratum hash
    # partitioning; at 100 TB each stratum's candidates stay on their
    # own executors until the row_number cut.
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "doc_id", F.col("rnk").cast("long").alias("rnk"))
    )


SAMPLE_GROUP_FIXED_SQL = """
SELECT lang, doc_id, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents)
WHERE rnk <= 5
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-stratum deterministic downsampling: dominant language kept
    # at ~10%, the rest at ~50%, decided by the same content-stable
    # md5-bucket primitive as sample_split, so membership never
    # changes with corpus growth or repartitioning. Single pass,
    # conditional aggregates -- no join against per-stratum totals.
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.when(F.col("lang") == "en", F.lit("1a")).otherwise(
        F.lit("80")
    )
    keep = bucket < threshold
    return d.groupBy("lang").agg(
        F.count("*").alias("total_docs"),
        F.count(F.when(keep, 1)).alias("sampled_docs"),
        F.sum(F.when(keep, F.col("doc_id"))).alias("id_checksum"),
        dround(
            F.count(F.when(keep, 1)) / F.count("*"), 6
        ).alias("sample_rate"),
    )


SAMPLE_STRATIFIED_SQL = f"""
WITH flagged AS (
  SELECT lang, doc_id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           < CASE WHEN lang = 'en' THEN '1a' ELSE '80' END AS keep
  FROM documents
)
SELECT lang,
       count(*) AS total_docs,
       count(CASE WHEN keep THEN 1 END) AS sampled_docs,
       CAST(sum(CASE WHEN keep THEN doc_id END) AS BIGINT) AS id_checksum,
       {sql_dround(
           'count(CASE WHEN keep THEN 1 END)'
           ' / CAST(count(*) AS DOUBLE)', 6)} AS sample_rate
FROM flagged GROUP BY lang
"""


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-wide bigram heavy hitters: adjacent-pair array built with
    # one JVM-side transform over the token array (narrow, no UDF),
    # then a single map-side-combinable count aggregate -- the only
    # shuffle carries (distinct bigram, partial count), not the
    # corpus. Lexical tiebreak gives the LIMIT a total order.
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(w[i - 1], ' ', w[i]))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(25)
    )


TEXT_TOP_BIGRAMS_SQL = """
WITH toks AS (
  SELECT string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), b AS (
  SELECT unnest(list_transform(range(2, len(w) + 1),
                               i -> w[i - 1] || ' ' || w[i])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS occurrences
FROM b GROUP BY bigram
ORDER BY occurrences DESC, bigram ASC LIMIT 25
"""


SPECS: list[QuerySpec] = [
    QuerySpec("event_funnel", event_funnel, EVENT_FUNNEL_SQL),
    QuerySpec("event_funnel_windowed", event_funnel_windowed,
              EVENT_FUNNEL_WINDOWED_SQL),
    QuerySpec("basket_part_pairs", basket_part_pairs,
              BASKET_PART_PAIRS_SQL,
              "market-basket support/confidence/lift: baskets "
              "grouped + paired in-array, vocabulary joins via AQE"),
    QuerySpec("event_enrich_customer", event_enrich_customer,
              EVENT_ENRICH_CUSTOMER_SQL,
              "fact-to-dimension enrichment: broadcast dim join + "
              "segment rollup"),
    QuerySpec("cohort_retention", cohort_retention, COHORT_RETENTION_SQL),
    QuerySpec("event_user_anomaly", event_user_anomaly,
              EVENT_USER_ANOMALY_SQL,
              "per-user z-score outliers: single-shuffle window stats "
              "+ top-1, no join-back"),
    QuerySpec("event_transitions", event_transitions, EVENT_TRANSITIONS_SQL),
    QuerySpec("event_transitions_chunked", event_transitions_chunked,
              EVENT_TRANSITIONS_SQL,
              "hot-key-proof Markov transitions: per-user lag via "
              "chunked_lag boundary carry, then the verbatim shared "
              "pair-count aggregate (bit-equal to the plain entry)"),
    QuerySpec("event_top_paths", event_top_paths, EVENT_TOP_PATHS_SQL),
    QuerySpec("event_top_paths_chunked", event_top_paths_chunked,
              EVENT_TOP_PATHS_SQL,
              "hot-key-proof path mining: the lag-1/lag-2 chain from "
              "one chunked_frame_list pass, then the verbatim bounded "
              "path aggregate (bit-equal to the plain entry)"),
    QuerySpec("event_pattern_match", event_pattern_match,
              EVENT_PATTERN_MATCH_SQL),
    QuerySpec("event_pattern_match_chunked", event_pattern_match_chunked,
              EVENT_PATTERN_MATCH_SQL,
              "hot-key-proof CEP lead chain: chunked_frame_list under "
              "reversed sort keys assembles [t+3..current], lead(j) = "
              "positional F.get (bit-equal to the plain entry)"),
    QuerySpec("value_histogram", value_histogram, VALUE_HISTOGRAM_SQL),
    QuerySpec("sample_stratified", sample_stratified, SAMPLE_STRATIFIED_SQL),
    QuerySpec("sample_pack_sequences", sample_pack_sequences,
              SAMPLE_PACK_SEQUENCES_SQL),
    QuerySpec("text_decontaminate", text_decontaminate,
              TEXT_DECONTAMINATE_SQL),
    QuerySpec("text_top_bigrams", text_top_bigrams, TEXT_TOP_BIGRAMS_SQL),
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL),
    QuerySpec("dedup_keep_first_by_key", dedup_keep_first_by_key,
              DEDUP_KEEP_FIRST_SQL),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard,
              DEDUP_NGRAM_JACCARD_SQL),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh,
              DEDUP_MINHASH_LSH_SQL,
              "banded MinHash LSH, portable hash family, bit-exact "
              "oracle; estimate quality vs exact Jaccard in tests"),
    QuerySpec("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL,
              "SimHash hamming pairs, portable hash family, bit-exact "
              "oracle"),
    QuerySpec("dedup_components", dedup_components, DEDUP_COMPONENTS_SQL),
    QuerySpec("dedup_corpus_pipeline", dedup_corpus_pipeline,
              DEDUP_CORPUS_PIPELINE_SQL),
    QuerySpec("corpus_curation_pipeline", corpus_curation_pipeline,
              CORPUS_CURATION_SQL),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine,
              DEDUP_EMBEDDING_COSINE_SQL),
    QuerySpec("dedup_semantic", dedup_semantic, DEDUP_SEMANTIC_SQL,
              "SemDeDup: hash-sampled coarse clusters, broadcast-fold "
              "assignment, in-cluster greedy-by-id removal"),
    QuerySpec("similarity_topk_cosine", similarity_topk_cosine,
              SIMILARITY_TOPK_SQL),
    QuerySpec("similarity_topk_vectors", similarity_topk_vectors,
              SIMILARITY_TOPK_VECTORS_SQL,
              "array<float> output: raw neighbor vectors, hash-checked "
              "via the recursive array canonicalizers"),
    QuerySpec("similarity_topk_vectors_flat", similarity_topk_vectors_flat,
              SIMILARITY_TOPK_VECTORS_FLAT_SQL,
              "scalar companion: same ranking + vector fetch projected "
              "to (dim, first, last) so the ranking is provable by an "
              "array-blind driver"),
    QuerySpec("similarity_topk_vectors_exploded",
              similarity_topk_vectors_exploded,
              SIMILARITY_TOPK_VECTORS_EXPLODED_SQL,
              "full-content companion: fetched vectors exploded to "
              "(pos, val) DOUBLE rows so an array-blind driver hashes "
              "the complete vector contents"),
    QuerySpec("similarity_ann_lsh", similarity_ann_lsh, ANN_VERIFIED_SQL,
              "LSH ANN vs exact top-k: exact top-1 oracled, recall "
              "bound asserted as an oracle-checkable boolean"),
    QuerySpec("similarity_ann_ivf", similarity_ann_ivf, ANN_VERIFIED_SQL,
              "IVF ANN vs exact top-k: exact top-1 oracled, recall "
              "bound asserted as an oracle-checkable boolean"),
    QuerySpec("similarity_ann_pq", similarity_ann_pq,
              SIMILARITY_ANN_PQ_SQL,
              "product-quantization ADC top-k, full bit-compatible "
              "oracle incl. codebook build and encoding"),
    QuerySpec("ml_kmeans_embeddings", ml_kmeans_embeddings, ML_KMEANS_SQL,
              "MLlib KMeans summary: exact counts oracled, SSE "
              "improvement asserted as an oracle-checkable boolean"),
    QuerySpec("ml_knn_classify", ml_knn_classify, ML_KNN_CLASSIFY_SQL,
              "kNN majority-vote label propagation: broadcast "
              "queries, corpus never shuffles, deterministic vote"),
    QuerySpec("sample_group_fixed", sample_group_fixed,
              SAMPLE_GROUP_FIXED_SQL,
              "exact-k per-stratum deterministic sample by md5 order "
              "(distributed reservoir-sampling stand-in)"),
    QuerySpec("corpus_diff", corpus_diff, CORPUS_DIFF_SQL,
              "snapshot diff: full outer join on stable id, "
              "content-hash change classification"),
    QuerySpec("table_profile", table_profile, TABLE_PROFILE_SQL,
              "single-pass per-column data-quality profile "
              "(rows/nulls/exact distincts via Expand), unpivoted"),
    QuerySpec("sample_split", sample_split, SAMPLE_SPLIT_SQL),
    QuerySpec("text_tfidf", text_tfidf, TEXT_TFIDF_SQL),
    QuerySpec("text_token_stats", text_token_stats, TEXT_TOKEN_STATS_SQL),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_SQL),
    QuerySpec("text_repetition", text_repetition, TEXT_REPETITION_SQL,
              "Gopher within-document repetition signals: top-n-gram "
              "coverage + duplicate-n-gram fractions, one explode for "
              "all n"),
    QuerySpec("text_unigram_lm", text_unigram_lm, TEXT_UNIGRAM_LM_SQL,
              "CCNet-style corpus-LM quality score: windowed term "
              "frequency, order-independent quantized logprob sums"),
    QuerySpec("text_bigram_lm", text_bigram_lm, TEXT_BIGRAM_LM_SQL,
              "interpolated (Jelinek-Mercer) bigram LM score: "
              "windowed bigram frequency + vocabulary joins, exact "
              "quantized sums"),
    QuerySpec("text_collocations", text_collocations,
              TEXT_COLLOCATIONS_SQL,
              "PMI collocations with support floor; AQE-chosen join "
              "strategy on the vocabulary, TakeOrdered top-n"),
    QuerySpec("text_lang_id", text_lang_id, TEXT_LANG_ID_SQL),
    QuerySpec("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_SQL),
    QuerySpec("text_winnow_fingerprints", text_winnow_fingerprints,
              TEXT_WINNOW_FINGERPRINTS_SQL),
    QuerySpec("dedup_passage_pairs", dedup_passage_pairs,
              DEDUP_PASSAGE_PAIRS_SQL),
    QuerySpec("graph_pagerank", graph_pagerank, GRAPH_PAGERANK_SQL,
              "Pregel-style power-iteration PageRank over the "
              "passage-overlap graph; edges checkpointed once, 10 "
              "join+agg rounds"),
    QuerySpec("graph_triangles", graph_triangles, GRAPH_TRIANGLES_SQL,
              "degree-ordered triangle counting: oriented wedges "
              "grouped in-array, one closure equi-join"),
    QuerySpec("text_pii_scrub", text_pii_scrub, TEXT_PII_SCRUB_SQL),
    QuerySpec("multimodal_payload", multimodal_payload, MULTIMODAL_PAYLOAD_SQL),
    QuerySpec("multimodal_frames", multimodal_frames, MULTIMODAL_FRAMES_SQL,
              "mapInPandas frame fan-out plumbing; deterministic "
              "slicing replayed by the oracle per frame"),
    QuerySpec("multimodal_resize", multimodal_resize,
              MULTIMODAL_RESIZE_SQL,
              "mapInPandas resize plumbing; deterministic tiling "
              "replayed by the oracle per payload"),
    QuerySpec("multimodal_features", multimodal_features,
              MULTIMODAL_FEATURES_SQL,
              "Arrow-batched decode plumbing; fake codec replayed "
              "byte-exactly by the oracle"),
    QuerySpec("asof_join_events", asof_join_events, ASOF_JOIN_EVENTS_SQL),
    QuerySpec("asof_join_forward", asof_join_forward,
              ASOF_JOIN_FORWARD_SQL,
              "forward as-of direction (earliest right >= left), "
              "mirrored one-shuffle carry; differential-tested with "
              "'nearest' too"),
    QuerySpec("asof_join_nearest", asof_join_nearest,
              ASOF_JOIN_NEAREST_SQL,
              "nearest as-of direction: both carries in one hash "
              "partitioning; oracle = two chained DuckDB ASOF joins "
              "+ closeness CASE"),
    QuerySpec("table_skew_profile", table_skew_profile,
              TABLE_SKEW_PROFILE_SQL,
              "join-key skew diagnostics: melted single-scan key "
              "counts, per-key-name top-1 + skew ratio"),
    QuerySpec("event_lookback_attribution", event_lookback_attribution,
              EVENT_LOOKBACK_ATTRIBUTION_SQL,
              "sliding interval RANGE frame (epoch-us order key): "
              "per-purchase click stats in the preceding hour, no "
              "self-join"),
    QuerySpec("event_lookback_attribution_chunked",
              event_lookback_attribution_chunked,
              EVENT_LOOKBACK_ATTRIBUTION_SQL,
              "hot-key-proof lookback: trailing RANGE frame via the "
              "ghost-row chunked_range_agg, tasks bounded by ~2h of "
              "one user (bit-equal to the plain entry)"),
    QuerySpec("event_ohlc_bars", event_ohlc_bars, EVENT_OHLC_BARS_SQL,
              "hourly OHLC resample: min_by/max_by on a composite "
              "order key, one hash aggregation, no window"),
    QuerySpec("event_gapfill", event_gapfill, EVENT_GAPFILL_SQL,
              "gap-filled per-user daily series with forward-fill "
              "(sequence-exploded spine + last ignorenulls carry)"),
    QuerySpec("event_gapfill_interp_chunked", event_gapfill_interp_chunked,
              EVENT_GAPFILL_INTERP_SQL,
              "chunk-and-stitch boundary carries (chunked_last_carry "
              "both directions): bit-equal to the single-task window, "
              "every task bounded by one 32-day bucket"),
    QuerySpec("event_gapfill_interp", event_gapfill_interp,
              EVENT_GAPFILL_INTERP_SQL,
              "linear interpolation across gap days: both-direction "
              "(day, value) struct carries sharing one user shuffle; "
              "exact inputs, IEEE lerp"),
    QuerySpec("event_window_tumbling", event_window_tumbling,
              EVENT_WINDOW_TUMBLING_SQL),
    QuerySpec("event_window_sliding", event_window_sliding,
              EVENT_WINDOW_SLIDING_SQL),
    QuerySpec("event_sessionize", event_sessionize, EVENT_SESSIONIZE_SQL),
    QuerySpec("event_sessionize_chunked", event_sessionize_chunked,
              EVENT_SESSIONIZE_SQL,
              "chunk-and-stitch sessionization: bit-equal to the "
              "single-task window, every task bounded by one bucket"),
    QuerySpec("multimodal_phash_pairs", multimodal_phash_pairs,
              MULTIMODAL_PHASH_PAIRS_SQL,
              "perceptual block-hash near-dup over binary payloads: "
              "JVM-expression 16-bit hash, grouped half buckets, "
              "exact hamming refine"),
    QuerySpec("graph_shortest_hops", graph_shortest_hops,
              GRAPH_SHORTEST_HOPS_SQL,
              "multi-source BFS min-hops over the passage-overlap "
              "graph: 3 frontier join+min rounds, oracle unrolled"),
    QuerySpec("graph_label_propagation", graph_label_propagation,
              GRAPH_LABEL_PROPAGATION_SQL,
              "majority-vote LPA communities: 3 synchronous rounds "
              "of edge join + vote aggregate, deterministic "
              "smallest-label tiebreak, oracle replays rounds"),
    QuerySpec("event_streaks", event_streaks, EVENT_STREAKS_SQL,
              "gaps-and-islands longest consecutive-day streak: "
              "epoch_day - row_number islands, one window + two "
              "hash aggs, no calendar explode"),
    QuerySpec("event_streaks_chunked", event_streaks_chunked,
              EVENT_STREAKS_SQL,
              "hot-key-proof streaks: row_number as chunked cumsum(1), "
              "longest pick as max_by hash agg -- no per-key window "
              "stage at all; bit-equal to the plain entry"),
    QuerySpec("dedup_sorted_neighborhood", dedup_sorted_neighborhood,
              DEDUP_SORTED_NEIGHBORHOOD_SQL,
              "Sorted Neighborhood entity resolution: block-prefix "
              "partitioned sort, w=2 lead() neighborhood, "
              "levenshtein refine -- O(w*n) candidates"),
]
