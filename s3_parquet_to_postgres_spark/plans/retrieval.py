"""Retrieval catalog: BM25 ranking, RAG-style document chunking, and
item-item collaborative filtering — the search/recommendation side of
a training-data platform (what feeds retrieval-augmented pipelines).

Determinism follows the catalog conventions (plans/base.py): term/
co-occurrence counts are exact integers, transcendental idf and the
per-(doc, term) BM25 products are quantized to scaled BIGINT before
any summation, cosine outputs go through dround, and every LIMIT has
a total order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, sql_dround
from ..operators.pairs import bucket_pairs
from .base import QuerySpec, t

_WS_TOKS_SQL = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
    " tk -> tk != '')"
)
_WS_TOKS_SPARK = (
    "filter(split(trim(lower(text)), '\\\\s+'), tk -> tk != '')"
)


# --------------------------------------------------------------------------
# BM25 (Robertson; the Lucene idf variant) for a fixed query
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "window")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_Q = 1000000.0  # scaled-BIGINT quantum for per-term scores


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching the fixed query —
    shared by text_bm25 (top-20) and similarity_rrf (top-100 fused)."""
    terms_lit = ", ".join(f"'{x}'" for x in _BM25_TERMS)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_WS_TOKS_SPARK).alias("w")
    )
    # dl is consumed by stats AND the scored join; tf by the df
    # aggregate AND the scored join -- both bounded (|docs| x 2 and
    # |matching docs| x |query terms|), so materialize each once
    # instead of re-running the tokenize/explode tree per consumer.
    dl = (
        d.select("doc_id", F.size("w").alias("dl"))
        .filter(F.col("dl") > 0)
        .localCheckpoint(eager=False)
    )
    occ = d.select(
        "doc_id", F.explode("w").alias("term")
    ).filter(F.expr(f"term IN ({terms_lit})"))
    tf = occ.groupBy("doc_id", "term").agg(F.count("*").alias("tf")) \
        .localCheckpoint(eager=False)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term", "n_docs", "sum_dl",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .select(
            "doc_id",
            F.floor(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (F.lit(1.0) - b
                            + b * F.col("dl")
                            / (F.col("sum_dl") / F.col("n_docs")))
                )
                * F.lit(_BM25_Q) + F.lit(0.5)
            ).cast("long").alias("sq"),
        )
        .groupBy("doc_id")
        .agg(F.sum("sq").alias("score_q"))
    )
    return scored.select(
        "doc_id",
        (F.col("score_q").cast("double") / F.lit(_BM25_Q)).alias("bm25"),
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the fixed query {join, filter,
    window}: idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation
    k1=1.2, length normalization b=0.75.

    Per-(doc, term) scores — idf times the tf/(tf + k1(1-b+b*dl/avgdl))
    saturation — are quantized to scaled BIGINT and summed exactly, so
    the ranking is bit-stable cross-engine. Scale shape: term stats
    (df per query term, avgdl) are two tiny aggregates broadcast back;
    the corpus contributes one filtered tf aggregation over only the
    query terms (predicate pushed into the explode), one per-doc sum,
    one top-k. The corpus never self-joins.
    """
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_BM25_TERMS_SQL = ", ".join(f"'{x}'" for x in _BM25_TERMS)

TEXT_BM25_SQL = f"""
WITH d AS (
  SELECT doc_id, {_WS_TOKS_SQL} AS w FROM documents
), dl AS (
  SELECT doc_id, len(w) AS dl FROM d WHERE len(w) > 0
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM d)
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS sum_dl
  FROM dl
), idf AS (
  SELECT term, n_docs, sum_dl,
         ln(1.0 + (n_docs - CAST(count(*) AS DOUBLE) + 0.5)
                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
  FROM tf, stats GROUP BY term, n_docs, sum_dl
), scored AS (
  SELECT tf.doc_id,
         sum(CAST(floor(
           idf.idf * (tf.tf * ({_BM25_K1!r} + 1))
           / (tf.tf + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
              + {_BM25_B!r} * dl.dl / (idf.sum_dl / idf.n_docs)))
           * {_BM25_Q:.1f} + 0.5) AS BIGINT)) AS score_q
  FROM tf JOIN dl USING (doc_id) JOIN idf USING (term)
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(score_q AS DOUBLE) / {_BM25_Q:.1f} AS bm25
FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# RAG chunking: fixed-size overlapping token windows with stable ids
# --------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_OVERLAP = 50, 10
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into 50-token chunks overlapping by 10
    (stride 40) — the standard RAG indexing unit — with
    content-addressed chunk hashes. A start position is emitted while
    it has more than `overlap` tokens left (the final short chunk is
    kept; a tail fully contained in the previous chunk is not).
    Narrow map + explode: zero shuffle, perfectly parallel.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_WS_TOKS_SPARK).alias("w")
    ).filter(F.size("w") > 0)
    starts = F.expr(
        f"sequence(1, greatest(size(w) - {_CHUNK_OVERLAP}, 1),"
        f" {_CHUNK_STRIDE})"
    )
    chunks = d.select(
        "doc_id", "w", F.posexplode(starts).alias("chunk_no", "s")
    )
    piece = F.expr(f"slice(w, s, {_CHUNK_SIZE})")
    return chunks.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


TEXT_CHUNK_SPLIT_SQL = f"""
WITH d AS (
  SELECT doc_id, {_WS_TOKS_SQL} AS w FROM documents
), starts AS (
  SELECT doc_id, w,
         unnest(range(1, greatest(len(w) - {_CHUNK_OVERLAP}, 1) + 1,
                      {_CHUNK_STRIDE})) AS s
  FROM d WHERE len(w) > 0
)
SELECT doc_id,
       CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_no,
       CAST(len(w[s:s + {_CHUNK_SIZE} - 1]) AS BIGINT) AS n_tokens,
       md5(array_to_string(w[s:s + {_CHUNK_SIZE} - 1], ' ')) AS chunk_md5
FROM starts
"""


# --------------------------------------------------------------------------
# Item-item collaborative filtering over TPC-H order baskets
# --------------------------------------------------------------------------

_CF_MAX_BASKET = 64
_CF_MIN_CO = 2


def ml_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001): parts
    co-ordered in the same order vote for similarity; cosine over
    co-occurrence counts, top-20 pairs. Declared semantics: baskets
    capped at {cap} distinct parts (first by partkey — the standard
    guard against a degenerate mega-basket exploding the pair join),
    pairs kept at co-occurrence >= {min}.

    Scale shape: the basket table is built in ONE shuffle —
    ``groupBy(ok).agg(slice(sort_array(collect_set(pk)), 1, cap))``
    fuses the dedup, the pk-order sort and the cap into a single
    hash aggregation (map-side partial collect_set already dedups
    per mapper, so the shuffle carries distinct parts per order, not
    raw lines). The r9 formulation spent TWO full-table exchanges
    here (distinct on (ok, pk), then a row_number window re-shuffled
    on ok); the 16x stress showed those prefix shuffles dominating
    wall time (8.71 s / ratio 7.62), so fusing them is the direct
    fix. Semantics are bit-identical: first ``cap`` distinct parts
    in ascending pk order. Per-key aggregation state is the distinct
    parts of one order — the same single-task concentration the
    window formulation had (its hot partition was the whole basket
    in one sort), only held in a hash buffer instead of a spillable
    sort, bounded in any basket-shaped source; a corpus with truly
    unbounded mega-baskets needs an upstream line cap either way
    because the window shape concentrates identically. Pair
    generation is MAP-SIDE — each capped basket array emits exactly
    its C(b,2) i<j combinations via nested array transforms, so no
    self-join machinery runs and no b^2 transient rows are
    materialized. Fan-out stays sum(C(basket,2)) bounded by the cap
    — the classic bounded item-pair pattern, never |items|^2. Count
    tables are exact; only the final cosine is quantized.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # Materialize the capped basket-ARRAY table ONCE (lazy
    # checkpoint): it is consumed twice below (pair arrays + the na
    # counts) and Catalyst does not deduplicate a DAG's common
    # subplan, so the aggregation would otherwise run per consumer.
    # Checkpointing the array form also caches |orders| rows instead
    # of the exploded (order, part) table.
    baskets = (
        li.groupBy("ok")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("pk")), 1, _CF_MAX_BASKET
            ).alias("ps")
        )
        .localCheckpoint(eager=False)
    )
    # Part frequencies over the SAME capped baskets (explode of the
    # checkpointed arrays — no corpus rescan, no second dedup).
    na = (
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        baskets.select(bucket_pairs("ps", names=("pa", "pb")))
        .select("p.pa", "p.pb")
    )
    co = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _CF_MIN_CO)
    )
    scored = (
        co.join(na.select(F.col("pk").alias("pa"),
                          F.col("n").alias("na")), "pa")
        .join(na.select(F.col("pk").alias("pb"),
                        F.col("n").alias("nb")), "pb")
        .select(
            "pa", "pb", "c",
            dround(
                F.col("c").cast("double")
                / F.sqrt(F.col("na").cast("double")
                         * F.col("nb").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"),
        F.col("c").cast("long").alias("co_orders"), "cosine",
    ).orderBy(F.desc("cosine"), F.asc("part_a"), F.asc("part_b")).limit(20)


ML_ITEM_CF_SQL = f"""
WITH li0 AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), li AS (
  SELECT ok, pk FROM (
    SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
    FROM li0
  ) WHERE rn <= {_CF_MAX_BASKET}
), na AS (
  SELECT pk, count(*) AS n FROM li GROUP BY 1
), co AS (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS c
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_CO}
)
SELECT co.pa AS part_a, co.pb AS part_b,
       CAST(co.c AS BIGINT) AS co_orders,
       {sql_dround(
           'CAST(co.c AS DOUBLE) / sqrt(CAST(x.n AS DOUBLE)'
           ' * CAST(y.n AS DOUBLE))', 6)} AS cosine
FROM co JOIN na x ON x.pk = co.pa JOIN na y ON y.pk = co.pb
ORDER BY cosine DESC, part_a ASC, part_b ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# Hybrid search: reciprocal-rank fusion of the lexical (BM25) and
# dense (embedding cosine) rankings
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_Q = 1000000  # scaled-BIGINT quantum for 1/(k + rank)
_RRF_DEPTH = 100  # fuse the top-N of each ranking


def similarity_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 ranking (fixed lexical query,
    text_bm25's scorer) with the dense ranking (cosine against the
    vec_id-0 embedding; doc ids align with vec ids) by reciprocal-rank
    fusion (Cormack et al. 2009): score = sum over lists of
    1/(60 + rank), each contribution quantized to an exact BIGINT so
    the fused order is bit-stable. Top-20 docs.

    Scale shape: each ranking is its own top-N (per-partition heaps /
    one small sort of scored candidates), the fusion is a full outer
    join of two N-row tables — negligible next to the scans. Ranks,
    not raw scores, cross the fusion boundary, which is what makes
    mixing heterogeneous scorers legitimate.
    """
    # Top-depth BEFORE ranking (r11): orderBy+limit plans as
    # TakeOrdered (per-partition heaps, fully parallel), so the
    # unpartitioned row_number window — a one-task sort of EVERY
    # candidate — runs over at most _RRF_DEPTH rows. Identical ranks:
    # both forms select the same top rows under the same total order.
    # (ml_ndcg_eval already used this shape.)
    lex = _bm25_scored(spark, sf_dir)
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_r = (
        lex.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_DEPTH)
        .select("doc_id", F.row_number().over(w_lex).alias("r_lex"))
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.expr(
        "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D,"
        " (acc, x) -> acc + x)"
    )
    nrm = "aggregate({c}, 0D, (acc, x) -> acc + x * x)"
    sims = (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dround(
                dot
                / F.sqrt(F.expr(nrm.format(c="v"))
                         * F.expr(nrm.format(c="qv"))),
                6,
            ).alias("sim"),
        )
    )
    w_den = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    den_r = (
        sims.orderBy(F.desc("sim"), F.asc("vec_id")).limit(_RRF_DEPTH)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(w_den).alias("r_den"),
        )
    )

    def _contrib(rank_col):
        return F.when(
            rank_col.isNotNull(),
            F.floor(F.lit(float(_RRF_Q)) / (F.lit(_RRF_K) + rank_col)
                    + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0))

    fused = lex_r.join(den_r, "doc_id", "full_outer").select(
        "doc_id",
        (_contrib(F.col("r_lex")) + _contrib(F.col("r_den")))
        .alias("rrf_q"),
        F.coalesce("r_lex", F.lit(0)).cast("long").alias("rank_lexical"),
        F.coalesce("r_den", F.lit(0)).cast("long").alias("rank_dense"),
    )
    return fused.orderBy(F.desc("rrf_q"), F.asc("doc_id")).limit(20)


SIMILARITY_RRF_SQL = f"""
WITH lex0 AS ({TEXT_BM25_SQL.replace('LIMIT 20', f'LIMIT {_RRF_DEPTH}')}),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
           AS r_lex
  FROM lex0
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), sims AS (
  SELECT vec_id,
         {sql_dround(
             'list_dot_product(v, qv)'
             ' / sqrt(list_dot_product(v, v)'
             ' * list_dot_product(qv, qv))', 6)} AS sim
  FROM e, q
), den AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS r_den
  FROM sims QUALIFY r_den <= {_RRF_DEPTH}
), fused AS (
  SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
         coalesce(CAST(floor({_RRF_Q}.0 / ({_RRF_K} + lex.r_lex) + 0.5)
                       AS BIGINT), 0)
         + coalesce(CAST(floor({_RRF_Q}.0 / ({_RRF_K} + den.r_den) + 0.5)
                         AS BIGINT), 0) AS rrf_q,
         CAST(coalesce(lex.r_lex, 0) AS BIGINT) AS rank_lexical,
         CAST(coalesce(den.r_den, 0) AS BIGINT) AS rank_dense
  FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
)
SELECT doc_id, rrf_q, rank_lexical, rank_dense
FROM fused ORDER BY rrf_q DESC, doc_id ASC LIMIT 20
"""


# NDCG@10 discount weights: floor(1e9 / log2(r+1) + 0.5) for ranks
# 1..10, precomputed so both engines multiply exact integer literals
# (the only transcendental, log2, never runs inside either engine).
_NDCG_W = tuple(
    int(math.floor(1e9 / math.log2(r + 1) + 0.5)) for r in range(1, 11)
)


def ml_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against a deterministic graded
    relevance label (grade = distinct query terms present, gain =
    2^g - 1) -- the ranking-quality eval that closes the retrieval
    loop (text_bm25 ranks, this grades the ranking).

    Scale shape: the BM25 candidate set is bounded by the query-term
    postings (never the corpus); both the actual and the ideal top-10
    come from TakeOrdered-style order+limit (per-partition heaps),
    and the rank windows run over 10-row inputs. Arithmetic: gains
    and the precomputed discount weights are exact BIGINTs, so
    DCG/IDCG are exact and ndcg_q6 is pure integer division.
    """
    terms_lit = ", ".join(f"'{x}'" for x in _BM25_TERMS)
    scored = _bm25_scored(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_WS_TOKS_SPARK).alias("w")
    )
    occ = d.select("doc_id", F.explode("w").alias("term")).filter(
        F.expr(f"term IN ({terms_lit})")
    )
    # Bounded by the query-term postings and consumed twice (actual
    # top-10 join + ideal top-10): materialize once so the grade
    # explode doesn't re-run per consumer.
    grades = occ.groupBy("doc_id").agg(
        F.countDistinct("term").alias("g")
    ).withColumn(
        "gain", F.expr("CAST(shiftleft(1, g) - 1 AS BIGINT)")
    ).localCheckpoint(eager=False)
    warr = F.array(*[F.lit(w) for w in _NDCG_W])

    def dcg_of(ranked: DataFrame) -> DataFrame:
        return ranked.select(
            (F.col("gain") * F.element_at(warr, F.col("r"))).alias("t")
        ).agg(F.sum("t").alias("s"))

    top10 = (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            ),
        )
        .join(grades, "doc_id")
    )
    ideal10 = (
        grades.orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(10)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("gain"), F.asc("doc_id"))
            ),
        )
    )
    dcg = dcg_of(top10).select(F.col("s").alias("dcg_q"))
    idcg = dcg_of(ideal10).select(F.col("s").alias("idcg_q"))
    return (
        dcg.crossJoin(idcg)
        .select(
            "dcg_q",
            "idcg_q",
            F.expr(
                "(dcg_q * 1000000 + idcg_q DIV 2) DIV idcg_q"
            ).alias("ndcg_q6"),
        )
    )


def _ndcg_sql() -> str:
    w_list = ", ".join(str(w) for w in _NDCG_W)
    return f"""
WITH d AS (
  SELECT doc_id, {_WS_TOKS_SQL} AS w FROM documents
), dl AS (
  SELECT doc_id, len(w) AS dl FROM d WHERE len(w) > 0
), occ AS (
  SELECT doc_id, unnest(w) AS term FROM d
), occf AS (
  SELECT doc_id, term FROM occ WHERE term IN ({_BM25_TERMS_SQL})
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM occf GROUP BY 1, 2
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS sum_dl
  FROM dl
), df AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
), idf AS (
  SELECT term, ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           AS idf, stats.n_docs, stats.sum_dl
  FROM df CROSS JOIN stats
), scored AS (
  SELECT tf.doc_id,
         sum(CAST(floor(
           idf.idf * (tf.tf * ({_BM25_K1!r} + 1))
           / (tf.tf + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
              + {_BM25_B!r} * dl.dl / (idf.sum_dl / idf.n_docs)))
           * {_BM25_Q!r} + 0.5) AS BIGINT)) AS score_q
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
          JOIN idf ON tf.term = idf.term
  GROUP BY 1
), grades AS (
  SELECT doc_id, count(DISTINCT term) AS g,
         CAST((1 << count(DISTINCT term)) - 1 AS BIGINT) AS gain
  FROM occf GROUP BY 1
), warr AS (
  SELECT [{w_list}] AS ws
), top10 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id ASC)
           AS r
  FROM scored
  QUALIFY r <= 10
), ideal10 AS (
  SELECT doc_id, gain,
         row_number() OVER (ORDER BY gain DESC, doc_id ASC) AS r
  FROM grades
  QUALIFY r <= 10
), dcg AS (
  SELECT sum(g2.gain * warr.ws[t.r]) AS dcg_q
  FROM top10 t JOIN grades g2 USING (doc_id) CROSS JOIN warr
), idcg AS (
  SELECT sum(i.gain * warr.ws[i.r]) AS idcg_q
  FROM ideal10 i CROSS JOIN warr
)
SELECT CAST(dcg_q AS BIGINT) AS dcg_q,
       CAST(idcg_q AS BIGINT) AS idcg_q,
       CAST((dcg_q * 1000000 + idcg_q // 2) // idcg_q AS BIGINT)
         AS ndcg_q6
FROM dcg CROSS JOIN idcg
"""


ML_NDCG_EVAL_SQL = _ndcg_sql()


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Positional phrase query ("table value"): consecutive-token
    # match against the positional index, the capability BM25's
    # bag-of-words ranking cannot express. The corpus is scanned
    # ONCE; posexplode emits (doc, pos, term) but the filter keeps
    # only the phrase's own vocabulary, so shuffle volume is the
    # occurrence count of those terms, never the token stream. Per
    # doc, each term's positions become one SORTED array and the
    # match is the positional intersection p1 & (p2 - 1) -- pure
    # integer array algebra, no self-join. The oracle replays the
    # same consecutive-token definition with a per-row list filter.
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias(
            "ts"
        ),
    )
    pos = toks.select(
        "doc_id", F.posexplode("ts").alias("pos", "term")
    ).filter(F.col("term").isin("table", "value"))
    per = pos.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("term") == "table", F.col("pos")))
        ).alias("p1"),
        F.sort_array(
            F.collect_list(F.when(F.col("term") == "value", F.col("pos")))
        ).alias("p2"),
    )
    hits = F.filter(
        F.col("p1"),
        lambda x: F.array_contains(F.col("p2"), x + F.lit(1)),
    )
    per = per.withColumn("hits", hits).filter(F.size("hits") > 0)
    return per.select(
        "doc_id",
        F.size("hits").cast("long").alias("n_matches"),
        F.element_at("hits", 1).cast("long").alias("first_at"),
    )


TEXT_PHRASE_SEARCH_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), m AS (
  SELECT doc_id,
         list_filter(range(1, len(ts)),
                     i -> ts[i] = 'table' AND ts[i+1] = 'value') AS hits
  FROM toks
)
SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       CAST(hits[1] - 1 AS BIGINT) AS first_at
FROM m WHERE len(hits) > 0
"""


SPECS: list[QuerySpec] = [
    QuerySpec("text_bm25", text_bm25, TEXT_BM25_SQL),
    QuerySpec("ml_ndcg_eval", ml_ndcg_eval, ML_NDCG_EVAL_SQL,
              "NDCG@10 of the BM25 ranking vs graded term-presence "
              "relevance: precomputed integer discount weights, "
              "exact DCG/IDCG, top-10 via order+limit heaps"),
    QuerySpec("text_phrase_search", text_phrase_search,
              TEXT_PHRASE_SEARCH_SQL,
              "positional phrase query: vocabulary-filtered postings "
              "on one corpus scan, integer position intersection, "
              "no self-join"),
    QuerySpec("similarity_rrf", similarity_rrf, SIMILARITY_RRF_SQL),
    QuerySpec("text_chunk_split", text_chunk_split, TEXT_CHUNK_SPLIT_SQL),
    QuerySpec("ml_item_cf", ml_item_cf, ML_ITEM_CF_SQL),
]
