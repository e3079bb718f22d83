"""Graph/text mining catalog: TextRank keyword extraction and a
multinomial naive-Bayes language classifier trained and scored fully
inside the engine.

Both entries are end-to-end "train on the corpus, apply to the
corpus" programs whose every arithmetic step follows the catalog's
cross-engine determinism rules (base.py): counts and count-ratios are
exact, transcendental log-likelihoods are quantized to scaled BIGINT
per term and summed exactly, and every argmax/top-k carries a total
order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, md5_unit
from ..functions.epoch import epoch_day, epoch_us
from ..functions.numeric import sql_md5_unit
from ..session import eager_build_scope
from .base import QuerySpec, size_scaled_partitions, t
from .ext import pagerank_oracle_sql

# Token conventions. TextRank works on the alphabetic-word stream
# ('the' stoplisted; {3,} drops one/two-letter noise); naive Bayes
# uses the same whitespace tokens as the LM entries so its vocabulary
# matches text_unigram_lm's.
_WORD_FILTER_SQL = (
    "list_filter(regexp_extract_all(lower(text), '[a-z]{3,}'),"
    " tk -> tk != 'the')"
)
_WORD_FILTER_SPARK = (
    "filter(regexp_extract_all(lower(text), '[a-z]{3,}', 0),"
    " tk -> tk != 'the')"
)
_WS_TOKS_SQL = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
    " tk -> tk != '')"
)
_WS_TOKS_SPARK = (
    "filter(split(trim(lower(text)), '\\\\s+'), tk -> tk != '')"
)


# --------------------------------------------------------------------------
# TextRank (Mihalcea & Tarau 2004): keywords = PageRank over the
# adjacent-token co-occurrence graph
# --------------------------------------------------------------------------


def text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 corpus keywords by TextRank: distinct undirected
    adjacent-token co-occurrence edges, then the shared power-iteration
    ``pagerank`` operator (operators/components.py — edge list
    checkpointed once, one equi-join + one partial-agg per round).

    Scale shape: the corpus is scanned ONCE to build token-pair edges
    (a narrow per-doc arrays_zip, no join); ``distinct`` collapses the
    stream to the vocabulary co-occurrence graph, which is orders of
    magnitude smaller than the corpus (|V|^2-bounded, Zipf-sparse in
    practice), so the 10 pagerank rounds iterate over a small table.
    """
    from ..operators.components import pagerank

    d = t(spark, sf_dir, "documents").select(
        F.expr(_WORD_FILTER_SPARK).alias("w")
    )
    adj = d.filter(F.expr("size(w) >= 2")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS a,"
                " element_at(w, i + 1) AS b))"
            )
        ).alias("s")
    ).filter(F.expr("s.a <> s.b"))
    e = adj.select(
        F.least("s.a", "s.b").alias("a"),
        F.greatest("s.a", "s.b").alias("b"),
    ).distinct()
    from ..operators.components import symmetrize

    edges = symmetrize(e, a="a", b="b")
    pr = pagerank(edges).select(F.col("id").alias("token"), "pagerank")
    return pr.orderBy(F.desc("pagerank"), F.asc("token")).limit(25)


_TEXTRANK_EDGES_SQL = f"""
WITH toks AS (
  SELECT {_WORD_FILTER_SQL} AS w FROM documents
), adj AS (
  SELECT unnest(list_transform(range(1, len(w)),
           i -> {{'a': w[i], 'b': w[i + 1]}})) AS s
  FROM toks WHERE len(w) >= 2
), e AS (
  SELECT DISTINCT least(s.a, s.b) AS a, greatest(s.a, s.b) AS b
  FROM adj WHERE s.a <> s.b
)
SELECT a AS src, b AS dst FROM e
UNION ALL SELECT b AS src, a AS dst FROM e
"""

TEXT_TEXTRANK_SQL = f"""
SELECT token, pagerank
FROM ({pagerank_oracle_sql(_TEXTRANK_EDGES_SQL, id_alias="token")}) pr
ORDER BY pagerank DESC, token ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# Multinomial naive Bayes (add-one smoothing): language classifier
# trained on (lang, token) counts, applied back to the corpus
# --------------------------------------------------------------------------


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial naive-Bayes ``lang`` classifier on the
    corpus and emit the resubstitution confusion matrix
    (actual, predicted, n).

    Model: P(c | d) ∝ P(c) · Π_t P(t | c), add-one smoothing
    P(t | c) = (count(t, c) + 1) / (total_c + |V|). Each per-term
    log-likelihood is quantized to a scaled BIGINT (1e-9) and the
    per-(doc, class) sums are exact integer arithmetic, so the argmax
    (tie → lexicographically first class) is bit-stable cross-engine.
    Defined over docs with >= 1 whitespace token.

    Scale shape: the model — (vocab × classes) likelihoods, per-class
    defaults, priors — is tiny and broadcast; the corpus token stream
    is scanned once, fanned out ONLY by the class count (a narrow
    explode), and reduced by a map-side-combinable (doc, class) sum.
    No shuffle touches anything wider than (doc_id, class, BIGINT).
    """
    return _nb_confusion(spark, sf_dir)


def _nb_confusion(
    spark: SparkSession,
    sf_dir: str,
    train_pred=None,
    score_pred=None,
) -> DataFrame:
    """Shared NB train+score program; ``train_pred``/``score_pred``
    are optional doc-level Column predicates selecting the training
    and scoring subsets (both default to the whole corpus -- the
    resubstitution entry)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_WS_TOKS_SPARK).alias("w")
    )
    all_occ = d.select("doc_id", "lang", F.explode("w").alias("tok"))
    occ_train = all_occ.filter(train_pred) if train_pred is not None \
        else all_occ
    occ_score = all_occ.filter(score_pred) if score_pred is not None \
        else all_occ
    occ = occ_train
    # The (class, token) count table is BOUNDED (vocab x classes) and
    # feeds four consumers (ctot, vocab, lik, dflt): materialize it
    # once (lazy checkpoint) or the corpus explode re-runs per
    # consumer -- the pre-checkpoint executed plan showed 8 parquet
    # scans of the corpus for this one query.
    cc = occ.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)
    ctot = cc.groupBy("cls").agg(F.sum("c").alias("tot"))
    vdf = cc.select("tok").distinct().agg(F.count("*").alias("vocab"))
    q = F.lit(1.0e9)

    def _lnq(ratio: F.Column) -> F.Column:
        return F.floor(F.log(ratio) * q + F.lit(0.5)).cast("long")

    lik = (
        cc.join(F.broadcast(ctot), "cls")
        .crossJoin(F.broadcast(vdf))
        .select(
            "cls", "tok",
            _lnq((F.col("c") + F.lit(1.0))
                 / (F.col("tot") + F.col("vocab"))).alias("llq"),
        )
    )
    dflt = ctot.crossJoin(F.broadcast(vdf)).select(
        "cls",
        _lnq(F.lit(1.0) / (F.col("tot") + F.col("vocab"))).alias("dq"),
    )
    # Priors need only (doc_id, lang) of training docs with >= 1
    # token -- derivable from the UN-exploded doc table (the filter
    # predicates are doc-level by contract), skipping a whole corpus
    # explode; checkpointed because ndocs and pri both consume it.
    docs_l = d.filter(F.size("w") >= 1).select("doc_id", "lang")
    if train_pred is not None:
        docs_l = docs_l.filter(train_pred)
    dd = docs_l.distinct().localCheckpoint(eager=False)
    ndocs = dd.agg(F.count("*").alias("n"))
    pri = (
        dd.groupBy(F.col("lang").alias("cls"))
        .agg(F.count("*").alias("nc"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "cls",
            _lnq(F.col("nc").cast("double") / F.col("n")).alias("pq"),
        )
    )
    scored = (
        occ_score.crossJoin(F.broadcast(dflt))
        .join(F.broadcast(lik), ["cls", "tok"], "left")
        .groupBy(F.col("doc_id"), F.col("lang").alias("actual"), F.col("cls"))
        .agg(F.sum(F.coalesce(F.col("llq"), F.col("dq"))).alias("s"))
        .join(F.broadcast(pri), "cls")
        .select("doc_id", "actual", "cls",
                (F.col("s") + F.col("pq")).alias("score"))
    )
    # argmax via lexicographic min(struct(-score, cls)) instead of a
    # per-doc row_number window (r11, the ml_adaboost_stumps pattern):
    # same winner — smallest -score = largest score, tie broken by
    # lexicographically-first class — with map-side partial
    # combination and no per-doc Sort+Window pass. Scores are
    # 1e-9-quantized log sums, orders of magnitude inside long range,
    # so the negation cannot overflow. The struct min assumes non-NULL
    # scores: a NULL would sort FIRST and win, the opposite of the
    # window's DESC NULLS LAST. None can arise today: dq is non-NULL
    # for every class (dflt crosses every ctot class with the vocab
    # size), coalesce covers the left-joined llq, and pri inner-joins
    # a prior for every class trained with >= 1 token.
    pred = scored.groupBy("doc_id", "actual").agg(
        F.min(
            F.struct((-F.col("score")).alias("ns"), F.col("cls"))
        ).alias("best")
    )
    return pred.groupBy(
        F.col("actual"), F.col("best.cls").alias("predicted")
    ).agg(F.count("*").alias("n"))


def _nb_oracle_sql(train_where: str = "", score_where: str = "") -> str:
    """NB oracle with optional doc-level train/score WHERE clauses
    (empty = whole corpus; mirrors _nb_confusion's predicates)."""
    return f"""
WITH d AS (
  SELECT doc_id, lang, {_WS_TOKS_SQL} AS w FROM documents
), occ AS (
  SELECT doc_id, lang, unnest(w) AS tok FROM d
), occ_train AS (
  SELECT * FROM occ {train_where}
), occ_score AS (
  SELECT * FROM occ {score_where}
), cc AS (
  SELECT lang AS cls, tok, count(*) AS c FROM occ_train GROUP BY 1, 2
), ctot AS (
  SELECT cls, sum(c) AS tot FROM cc GROUP BY 1
), v AS (
  SELECT count(DISTINCT tok) AS vocab FROM cc
), lik AS (
  SELECT cls, tok,
         CAST(floor(ln((c + 1.0) / (tot + vocab)) * 1000000000.0 + 0.5)
              AS BIGINT) AS llq
  FROM cc JOIN ctot USING (cls), v
), dflt AS (
  SELECT cls,
         CAST(floor(ln(1.0 / (tot + vocab)) * 1000000000.0 + 0.5)
              AS BIGINT) AS dq
  FROM ctot, v
), dd AS (
  SELECT DISTINCT doc_id, lang FROM occ_train
), pri AS (
  SELECT lang AS cls,
         CAST(floor(ln(CAST(count(*) AS DOUBLE)
                       / (SELECT count(*) FROM dd)) * 1000000000.0 + 0.5)
              AS BIGINT) AS pq
  FROM dd GROUP BY 1
), sc AS (
  SELECT o.doc_id, o.lang AS actual, f.cls,
         CAST(sum(coalesce(l.llq, f.dq)) AS BIGINT) AS s
  FROM occ_score o
  CROSS JOIN dflt f
  LEFT JOIN lik l ON l.cls = f.cls AND l.tok = o.tok
  GROUP BY 1, 2, 3
), sc2 AS (
  SELECT sc.doc_id, sc.actual, sc.cls, sc.s + pri.pq AS score
  FROM sc JOIN pri ON pri.cls = sc.cls
), pred AS (
  SELECT doc_id, actual, cls AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cls ASC) AS rn
    FROM sc2
  ) WHERE rn = 1
)
SELECT actual, predicted, count(*) AS n FROM pred GROUP BY 1, 2
"""


ML_NAIVE_BAYES_SQL = _nb_oracle_sql()

_NB_SPLIT_SQL = sql_md5_unit("'nbsplit:' || doc_id")


def ml_naive_bayes_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample naive-Bayes evaluation: train the lang
    classifier on the content-stable 80% split
    (md5_unit('nbsplit:' || doc_id) < 0.8) and emit the confusion
    matrix over the HELD-OUT 20% -- the honest generalization
    readout the resubstitution entry (ml_naive_bayes) cannot give.
    Unseen held-out tokens fall to the smoothed default likelihood;
    the split is the same md5 primitive as the catalog's
    train/val/test splits, so it is reproducible and
    oracle-replayable. Same plan shape as ml_naive_bayes -- the model
    is still broadcast-sized and the corpus is scanned once.
    """
    split = md5_unit(F.concat(F.lit("nbsplit:"), F.col("doc_id")))
    return _nb_confusion(
        spark, sf_dir,
        train_pred=split < 0.8,
        score_pred=split >= 0.8,
    )


ML_NAIVE_BAYES_HOLDOUT_SQL = _nb_oracle_sql(
    train_where=f"WHERE {_NB_SPLIT_SQL} < 0.8",
    score_where=f"WHERE {_NB_SPLIT_SQL} >= 0.8",
)


# --------------------------------------------------------------------------
# Logistic regression trained by batch gradient descent — iterative
# in-engine model fitting with bit-stable cross-engine arithmetic
# --------------------------------------------------------------------------

_LR_BUCKETS = 16
_LR_ITERS = 3
# Raw-count features make per-doc margins ~150x the per-bucket weight,
# so the stable full-batch step is small; 0.005 descends monotonically
# (pinned by test_spatial_mining.test_logreg_training_descends).
_LR_RATE = 0.005
# Sigmoid/weight quantum 1e-6: coarse enough that a 1-ulp libm exp()
# disagreement cannot flip a floor() boundary in practice, fine
# enough that the fitted weights are meaningful.
_SIG_Q = 1000000.0


def ml_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a binary logistic-regression classifier (label:
    lang == 'en') on hashed bag-of-words counts with full-batch
    gradient descent, entirely in the engine; returns the fitted
    per-bucket weights.

    Every step is bit-stable cross-engine: feature counts are exact
    integers; the per-row sigmoid (the only transcendental) is
    quantized to a scaled BIGINT (1e-6) so gradient sums are exact
    integer arithmetic in any order; weights live as scaled BIGINTs
    and margins are exact integer dot products. Defined over docs
    with >= 1 whitespace token.

    Scale shape (per iteration): the (doc, bucket, cnt) feature table
    is built ONCE and localCheckpoint'ed; the weight vector is 16
    rows and broadcast, so each round is one broadcast join + one
    map-side-combinable per-doc sum + one per-bucket sum — the
    classic "model fits in a broadcast, data never moves" pattern.
    Gradient shuffle volume per round = |docs| longs, independent of
    corpus width.

    r10: both checkpointed tables (x and y) are hash-partitioned by
    doc_id with an explicit co-partition count BEFORE the checkpoint,
    so every per-iteration doc_id requirement (the per-doc margin
    groupBy, the m⋈y residual join, the x⋈r gradient join) is already
    satisfied and plans with ZERO new Exchanges — the only exchange
    left inside an iteration is the 16-row map-combined bucket sum.
    Previously each of the 3 iterations re-shuffled x twice by doc_id
    and re-scanned documents to rebuild+shuffle y. Partition count is
    size-scaled (see base.size_scaled_partitions: derived from the
    documents table's on-disk bytes, clamped to the conf cap — 1 at
    local test scale, cluster-sized on a cluster), explicit so AQE
    coalescing cannot desynchronize the two sides' partitioning. AQE is
    off (``eager_build_scope``) just around the two checkpoint builds:
    under AQE the checkpointed LogicalRDD records UnknownPartitioning
    (measured: the repartition then buys nothing and every iteration
    exchange stays); planned without AQE it records
    hashpartitioning(doc_id, n) and the iteration plans collapse to
    exchange-free aggregates/joins.
    """
    from ..functions import md5_unit

    n_part = size_scaled_partitions(spark, sf_dir, "documents")
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_WS_TOKS_SPARK).alias("w")
    )
    with eager_build_scope(spark):
        x = (
            d.select("doc_id", F.explode("w").alias("tok"))
            .withColumn(
                "bucket",
                F.floor(md5_unit("tok") * _LR_BUCKETS).cast("long"),
            )
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("cnt"))
            .repartition(n_part, "doc_id")
            .localCheckpoint(eager=True)
        )
        y = (
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
                .cast("long").alias("y"),
            )
            .repartition(n_part, "doc_id")
            .localCheckpoint(eager=True)
        )
    # ONE bounded scalar (doc count), computed once off the
    # checkpointed feature table: as a lazy aggregate it re-ran its
    # distinct-shuffle inside every iteration's weight update.
    n = float(x.select("doc_id").distinct().count())
    w = spark.range(_LR_BUCKETS).select(
        F.col("id").alias("bucket"), F.lit(0).cast("long").alias("wq")
    )
    if n == 0.0:
        # No trainable documents (empty corpus / all-empty texts):
        # every gradient is structurally zero, so the fitted model IS
        # the zero init -- return it instead of tripping ANSI /0 in
        # the g/n update.
        return w.select(
            "bucket", (F.col("wq").cast("double") / F.lit(_SIG_Q))
            .alias("weight")
        )
    sq, lr = F.lit(_SIG_Q), F.lit(_LR_RATE)
    for _ in range(_LR_ITERS):
        m = (
            x.join(F.broadcast(w), "bucket")
            .groupBy("doc_id")
            .agg(F.sum(F.col("cnt") * F.col("wq")).alias("m_int"))
        )
        r = m.join(y, "doc_id").select(
            "doc_id",
            (
                F.floor(
                    sq / (F.lit(1.0)
                          + F.exp(-(F.col("m_int").cast("double") / sq)))
                    + F.lit(0.5)
                ).cast("long")
                - F.col("y") * F.lit(int(_SIG_Q))
            ).alias("r_int"),
        )
        g = (
            x.join(r, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("r_int") * F.col("cnt")).alias("g"))
        )
        w = (
            w.join(g, "bucket", "left")
            .select(
                "bucket",
                (
                    F.col("wq")
                    - F.floor(
                        lr
                        * (F.coalesce(F.col("g"), F.lit(0)).cast("double")
                           / F.lit(n))
                        + F.lit(0.5)
                    ).cast("long")
                ).alias("wq"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select(
        "bucket", (F.col("wq").cast("double") / sq).alias("weight")
    )


def _logreg_oracle_sql() -> str:
    b, it, lr = _LR_BUCKETS, _LR_ITERS, repr(_LR_RATE)
    q = f"{_SIG_Q:.1f}"
    from ..functions.numeric import sql_md5_unit as smu

    ctes = [
        f"""d AS (
  SELECT doc_id, lang, {_WS_TOKS_SQL} AS w FROM documents
)""",
        f"""x AS (
  SELECT doc_id,
         CAST(floor({smu('tok')} * {b}) AS BIGINT) AS bucket,
         count(*) AS cnt
  FROM (SELECT doc_id, unnest(w) AS tok FROM d)
  GROUP BY 1, 2
)""",
        "y AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
        " AS y FROM d)",
        "nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM x)",
        f"w0 AS (SELECT CAST(i AS BIGINT) AS bucket,"
        f" CAST(0 AS BIGINT) AS wq FROM range({b}) r(i))",
    ]
    for k in range(it):
        ctes.append(
            f"m{k} AS (SELECT x.doc_id,"
            f" SUM(x.cnt * w{k}.wq) AS m_int"
            f" FROM x JOIN w{k} USING (bucket) GROUP BY 1)"
        )
        ctes.append(
            f"s{k} AS (SELECT m.doc_id,"
            f" CAST(floor({q} / (1.0 + exp(-(CAST(m.m_int AS DOUBLE)"
            f" / {q}))) + 0.5) AS BIGINT)"
            f" - y.y * CAST({q} AS BIGINT) AS r_int"
            f" FROM m{k} m JOIN y USING (doc_id))"
        )
        ctes.append(
            f"g{k} AS (SELECT x.bucket, SUM(s.r_int * x.cnt) AS g"
            f" FROM x JOIN s{k} s USING (doc_id) GROUP BY 1)"
        )
        ctes.append(
            f"w{k + 1} AS (SELECT w.bucket,"
            f" w.wq - CAST(floor({lr}"
            f" * (CAST(coalesce(g.g, 0) AS DOUBLE) / nn.n) + 0.5)"
            f" AS BIGINT) AS wq"
            f" FROM w{k} w LEFT JOIN g{k} g USING (bucket)"
            f" CROSS JOIN nn)"
        )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\n"
        f"SELECT bucket, CAST(wq AS DOUBLE) / {q} AS weight FROM w{it}"
    )


ML_LOGREG_TRAIN_SQL = _logreg_oracle_sql()


# --------------------------------------------------------------------------
# ml_pca_power: dominant principal direction of the embedding corpus
# by quantized power iteration over an exact integer Gram matrix
# --------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_Q = 10_000       # per-component quantization (4 decimals)
_PCA_ITERS = 4


def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top right-singular direction of the embedding matrix (the
    dominant uncentered principal component) trained fully in-engine:
    exact integer Gram accumulation + power iteration with quantized
    renormalization, the PCA analogue of ml_logreg_train's
    quantized-descent recipe. Returns the L-inf-normalized direction
    as scaled BIGINTs plus the eigenvalue estimate.

    Determinism: components quantize once to 1e-4 ints, so the 64x64
    Gram matrix is an EXACT integer sum (order-independent); it is
    then normalized by n and re-quantized to 1e-6, and each
    iteration's mat-vec is exact BIGINT arithmetic with one quantized
    L-inf renormalization. The oracle replays all 4 iterations
    verbatim; the sign is fixed by the first nonzero component.

    Scale shape: ONE corpus scan builds the Gram matrix via an
    Arrow-batched partial-Gram pass (numpy int64 ``Q^T @ Q`` per
    batch -- exact integer matmul, so shard partials ADD like every
    sketch in the catalog; each partition emits at most d^2 = 4096
    cells regardless of corpus size, then one tiny groupBy-sum merges
    them). An earlier per-row nested-transform explode computed the
    same cells 5x slower: higher-order lambdas evaluate interpreted
    and pushed d^2 structs per row through the agg; the matmul is the
    vectorized form of exactly that sum. The normalized Gram is CONSTANT
    size (d^2 = 4096 cells, ~64 KB) independent of corpus rows, so
    the 4 power iterations run driver-side on the collected cells --
    identical exact-int64 arithmetic, zero extra Spark jobs (the
    earlier all-in-engine loop spent ~8 scheduler round-trips + 5
    eager checkpoints iterating a 4 KB-row table; the wall time was
    pure fixed overhead). Same justified-collect class as the 64-row
    moment collect in plans/ext.py: bounded state, never data-sized.
    Integer headroom: |cell partial| <= Q^2 * rows, inside int64 up
    to ~9e10 rows at Q=1e4.
    """
    emb = t(spark, sf_dir, "embeddings")
    q = _PCA_Q
    dim = _PCA_DIM

    def partial_gram(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.int64)
        for pdf in batches:
            # NULL embeddings are un-quantizable: drop them (matches
            # the oracle's behavior of NULL products vanishing from
            # SUM) before the rectangular stack.
            pdf = pdf[pdf["embedding"].notna()]
            if len(pdf) == 0:
                continue
            e = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            qm = np.floor(e * float(q) + 0.5).astype(np.int64)
            acc += qm.T @ qm  # exact int64 matmul == the summed products
        ii, jj = np.indices((dim, dim))
        yield pd.DataFrame(
            {"i": ii.ravel(), "j": jj.ravel(), "p": acc.ravel()}
        )

    cells = (
        emb.select("embedding")
        .mapInPandas(partial_gram, schema="i long, j long, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )
    n = emb.agg(F.count("*").cast("double").alias("__n"))
    gq_rows = (
        cells.crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            # n == 0 guard (empty corpus): ANSI mode makes the /0
            # throw rather than yield NULL, and the partial-Gram
            # kernel emits its 4096 zero cells even with no input
            # rows. NULL cells are skipped by the driver loop below.
            F.when(
                F.col("__n") > 0,
                F.floor(
                    F.col("g").cast("double") * F.lit(1_000_000.0)
                    / (F.col("__n") * F.lit(float(q) * q))
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("gq"),
        )
        .collect()  # d^2 = 4096 cells: bounded, corpus-size-independent
    )
    import math

    d = _PCA_DIM
    G = [[0] * d for _ in range(d)]
    for r in gq_rows:
        # gq is NULL exactly when n == 0 (the partial-Gram kernel
        # emits its 4096 zero cells even for an empty corpus, and
        # 0/0.0 is NULL): treat as a zero Gram so the degenerate
        # guard below returns the all-zero direction instead of the
        # mat-vec crashing on None.
        if r["gq"] is not None:
            G[r["i"]][r["j"]] = r["gq"]
    vq = [1_000_000] * d
    eig_q6 = 0
    for _ in range(_PCA_ITERS):
        # exact int64 mat-vec, then the SAME double-precision
        # renormalization expressions the oracle replays
        u = [sum(G[i][j] * vq[j] for j in range(d)) for i in range(d)]
        m = float(max(abs(x) for x in u))
        if m == 0.0:
            # Degenerate Gram (empty corpus, or every embedding
            # quantizing to zero): the direction is identically zero
            # and further iterations are fixed -- stop instead of
            # dividing by zero.
            vq, eig_q6 = [0] * d, 0
            break
        vq = [int(math.floor(float(x) * 1_000_000.0 / m + 0.5)) for x in u]
        eig_q6 = int(math.floor(m / 1_000_000.0 + 0.5))
    s = -1 if next((x for x in vq if x != 0), 1) < 0 else 1
    return spark.createDataFrame(
        [(i, vq[i] * s, eig_q6) for i in range(d)],
        "dim: long, v_q6: long, eig_q6: long",
    )


def _pca_oracle_sql() -> str:
    d, q, it = _PCA_DIM, _PCA_Q, _PCA_ITERS
    qq = f"{float(q) * q!r}"
    ctes = [
        f"""x AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {q} + 0.5) AS BIGINT)
           AS qv
  FROM embeddings, range(1, {d + 1}) t(i)
)""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings)",
        """cells AS (
  SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS g
  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
)""",
        f"""gq AS (
  SELECT i, j,
         CAST(floor(CAST(g AS DOUBLE) * 1000000.0 / (nn.n * {qq}) + 0.5)
              AS BIGINT) AS gq
  FROM cells, nn
)""",
        f"v0 AS (SELECT CAST(i AS BIGINT) AS dim,"
        f" CAST(1000000 AS BIGINT) AS vq FROM range({d}) r(i))",
    ]
    for k in range(it):
        ctes.append(
            f"u{k} AS (SELECT g.i AS dim, SUM(g.gq * v.vq) AS u"
            f" FROM gq g JOIN v{k} v ON g.j = v.dim GROUP BY 1)"
        )
        ctes.append(
            f"m{k} AS (SELECT CAST(max(abs(u)) AS DOUBLE) AS m FROM u{k})"
        )
        ctes.append(
            f"v{k + 1} AS (SELECT dim,"
            f" CAST(floor(CAST(u AS DOUBLE) * 1000000.0 / m + 0.5)"
            f" AS BIGINT) AS vq,"
            f" CAST(floor(m / 1000000.0 + 0.5) AS BIGINT) AS eig_q6"
            f" FROM u{k}, m{k})"
        )
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
sgn AS (
  SELECT CASE WHEN (SELECT vq FROM v{it}
                    WHERE dim = (SELECT min(dim) FROM v{it} WHERE vq != 0))
              < 0 THEN -1 ELSE 1 END AS s
)
SELECT dim, vq * s AS v_q6, eig_q6 FROM v{it}, sgn
"""


ML_PCA_POWER_SQL = _pca_oracle_sql()


# --------------------------------------------------------------------------
# ml_adaboost_stumps: boosted decision stumps (AdaBoost.M1) trained
# fully in-engine with quantized weights
# --------------------------------------------------------------------------

_ADA_BUCKETS = 16
_ADA_ITERS = 3


def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost.M1 (Freund & Schapire 1997) over binary
    bag-of-buckets features (doc contains >= 1 token hashing to
    bucket b), label y = +/-1 for lang == 'en': each round fits the
    weighted-error-minimizing stump over all 32 (bucket, polarity)
    candidates, re-weights via exp(-alpha*y*h), and reports the
    per-round learning curve (chosen stump, weighted error share,
    alpha, cumulative ensemble train accuracy).

    Determinism: example weights live as scaled BIGINTs (exact
    order-independent sums -> exact weighted errors); alpha is
    quantized once per round before it touches any weight; ensemble
    margins are EXACT integer sums of quantized alphas, so the
    accuracy counts cannot float-drift. The only transcendentals
    (ln for alpha, exp for the two weight factors) are evaluated on
    one scalar per round, not per row. Oracle replays all rounds.

    Scale shape: the 16-bit feature mask is built ONCE (token
    explode -> sum(DISTINCT 1<<b): one doc_id shuffle) and
    checkpointed; each round is (a) a narrow 16x mask explode into a
    map-side-combinable 16-cell error aggregate, (b) a 32-row
    candidate frame, (c) a BROADCAST of the single best stump back
    into a narrow weight/margin update. The corpus never reshuffles
    after the feature build -- the same "model fits in a broadcast"
    pattern as ml_logreg_train.
    """
    from ..functions import md5_unit

    b_n, m = _ADA_BUCKETS, 1_000_000
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_WS_TOKS_SPARK).alias("w")
    )
    feats = (
        d.select("doc_id", F.explode("w").alias("tok"))
        .withColumn("b", F.floor(md5_unit("tok") * b_n).cast("int"))
        .groupBy("doc_id")
        .agg(F.sum_distinct(F.expr("shiftleft(CAST(1 AS BIGINT), b)"))
             .alias("mask"))
    )
    state = (
        d.select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1))
            .cast("long").alias("y"),
        )
        .join(feats, "doc_id", "left")
        .select(
            "doc_id", "y",
            F.coalesce("mask", F.lit(0)).alias("mask"),
            F.lit(m).cast("long").alias("w_q6"),
            F.lit(0).cast("long").alias("margin_q6"),
        )
        # Lazy checkpoints here and per-round below: the lineage
        # truncation is DataFrame-level either way, and deferring the
        # materialization into the final union's job removed one
        # blocking corpus pass per round (measured ~17% at sf0.1).
        # ml_logreg_train deliberately KEEPS eager checkpoints -- its
        # per-iteration broadcast(w) builds faster off a materialized
        # 16-row table (measured; lazy regressed it ~15%).
        .localCheckpoint(eager=False)
    )
    rounds = []
    for tr in range(_ADA_ITERS):
        cells = state.select(
            "y", "w_q6",
            F.explode(F.expr(
                f"transform(sequence(0, {b_n - 1}), b -> struct(b AS b,"
                " CAST(shiftright(mask, b) & 1 AS LONG) AS has))"
            )).alias("c"),
        ).groupBy(F.col("c.b").alias("b")).agg(
            F.sum(
                F.when(F.col("c.has") * 2 - 1 != F.col("y"), F.col("w_q6"))
                .otherwise(F.lit(0))
            ).alias("err_pos"),
            F.sum("w_q6").alias("w_all"),
        )
        cand = cells.select(
            "b", "w_all",
            F.explode(F.array(
                F.struct(F.lit(1).cast("long").alias("pol"),
                         F.col("err_pos").alias("err")),
                F.struct(F.lit(-1).cast("long").alias("pol"),
                         (F.col("w_all") - F.col("err_pos")).alias("err")),
            )).alias("p"),
        ).select("b", "w_all", "p.pol", "p.err")
        # Best stump as ONE lexicographic min(struct) aggregation
        # (partial/map-side combinable) instead of a global-order
        # window + row_number filter: same (err, b, pol) tiebreak,
        # one fewer exchange per round (r11, guide §2.4). The struct
        # carries the payload fields BEHIND the ordering triple;
        # (b, pol) is unique per row, so they never influence the
        # winner.
        err_c = F.greatest(
            F.least(F.col("err"), F.col("w_all") - 1), F.lit(1)
        ).cast("double")
        best = (
            cand.agg(F.min(F.struct("err", "b", "pol", "w_all")).alias("m"))
            .select("m.*")
            # Empty corpus: a global min over zero rows yields one
            # all-NULL row where the window+filter form yielded none.
            .where(F.col("b").isNotNull())
            .select(
                F.col("b").alias("best_b"),
                F.col("pol").alias("best_pol"),
                F.col("err").alias("best_err"),
                "w_all",
                F.floor(
                    F.lit(0.5)
                    * F.log((F.col("w_all").cast("double") - err_c) / err_c)
                    * F.lit(float(m)) + F.lit(0.5)
                ).cast("long").alias("alpha_q6"),
            )
        )
        st = state.crossJoin(F.broadcast(best))
        h = F.col("best_pol") * (
            F.expr("shiftright(mask, CAST(best_b AS INT)) & 1")
            .cast("long") * 2 - 1
        )
        factor = F.exp(
            -(F.col("alpha_q6").cast("double") / F.lit(float(m)))
            * (F.col("y") * h).cast("double")
        )
        state = st.select(
            "doc_id", "y", "mask",
            F.floor(F.col("w_q6").cast("double") * factor + F.lit(0.5))
            .cast("long").alias("w_q6"),
            (F.col("margin_q6") + F.col("alpha_q6") * h).alias("margin_q6"),
        ).localCheckpoint(eager=False)
        acc = state.agg(
            F.count("*").alias("n_docs"),
            F.sum(
                ((F.col("margin_q6") > 0) == (F.col("y") == 1))
                .cast("long")
            ).alias("n_correct"),
        )
        rounds.append(
            acc.crossJoin(F.broadcast(best)).select(
                F.lit(tr + 1).cast("long").alias("round"),
                F.col("best_b").cast("long").alias("bucket"),
                F.col("best_pol").alias("polarity"),
                F.floor(
                    F.col("best_err").cast("double") * F.lit(float(m))
                    / F.col("w_all") + F.lit(0.5)
                ).cast("long").alias("err_share_q6"),
                "alpha_q6",
                F.col("n_correct").cast("long").alias("n_correct"),
                F.col("n_docs").cast("long").alias("n_docs"),
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionAll(r)
    return out


def _adaboost_oracle_sql() -> str:
    b_n, it = _ADA_BUCKETS, _ADA_ITERS
    from ..functions.numeric import sql_md5_unit as smu

    ctes = [
        f"d AS (SELECT doc_id, lang, {_WS_TOKS_SQL} AS w FROM documents)",
        f"""feats AS (
  SELECT doc_id,
         sum(DISTINCT (1::BIGINT << CAST(floor({smu('tok')} * {b_n})
                                          AS INT))) AS mask
  FROM (SELECT doc_id, unnest(w) AS tok FROM d) GROUP BY doc_id
)""",
        """s0 AS (
  SELECT d.doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         coalesce(f.mask, 0) AS mask,
         CAST(1000000 AS BIGINT) AS w_q6,
         CAST(0 AS BIGINT) AS margin_q6
  FROM d LEFT JOIN feats f USING (doc_id)
)""",
    ]
    for k in range(it):
        ctes.append(
            f"""cells{k} AS (
  SELECT b, sum(CASE WHEN ((mask >> b) & 1) * 2 - 1 != y
                     THEN w_q6 ELSE 0 END) AS err_pos,
         sum(w_q6) AS w_all
  FROM s{k}, range({b_n}) r(b) GROUP BY b
)"""
        )
        ctes.append(
            f"""cand{k} AS (
  SELECT b, w_all, 1 AS pol, err_pos AS err FROM cells{k}
  UNION ALL
  SELECT b, w_all, -1, w_all - err_pos FROM cells{k}
)"""
        )
        ctes.append(
            f"""best{k} AS (
  SELECT b AS best_b, pol AS best_pol, err AS best_err, w_all,
         CAST(floor(0.5 * ln((CAST(w_all AS DOUBLE)
                  - CAST(greatest(least(err, w_all - 1), 1) AS DOUBLE))
                 / CAST(greatest(least(err, w_all - 1), 1) AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS alpha_q6
  FROM (SELECT *, row_number() OVER (ORDER BY err ASC, b ASC, pol ASC)
          AS rn FROM cand{k})
  WHERE rn = 1
)"""
        )
        ctes.append(
            f"""s{k + 1} AS (
  SELECT doc_id, y, mask,
         CAST(floor(CAST(w_q6 AS DOUBLE)
             * exp(-(CAST(alpha_q6 AS DOUBLE) / 1000000.0)
                   * CAST(y * (best_pol * (((mask >> best_b) & 1) * 2 - 1))
                          AS DOUBLE)) + 0.5) AS BIGINT) AS w_q6,
         margin_q6 + alpha_q6
           * (best_pol * (((mask >> best_b) & 1) * 2 - 1)) AS margin_q6
  FROM s{k}, best{k}
)"""
        )
        ctes.append(
            f"""round{k} AS (
  SELECT CAST({k + 1} AS BIGINT) AS round,
         CAST(best_b AS BIGINT) AS bucket,
         CAST(best_pol AS BIGINT) AS polarity,
         CAST(floor(CAST(best_err AS DOUBLE) * 1000000.0 / w_all + 0.5)
              AS BIGINT) AS err_share_q6,
         alpha_q6,
         (SELECT CAST(sum(CASE WHEN (margin_q6 > 0) = (y = 1)
                                THEN 1 ELSE 0 END) AS BIGINT)
          FROM s{k + 1}) AS n_correct,
         (SELECT CAST(count(*) AS BIGINT) FROM s{k + 1}) AS n_docs
  FROM best{k}
)"""
        )
    joined = ",\n".join(ctes)
    finals = " UNION ALL ".join(f"SELECT * FROM round{k}" for k in range(it))
    return f"WITH {joined}\n{finals}"


ML_ADABOOST_STUMPS_SQL = _adaboost_oracle_sql()


# --------------------------------------------------------------------------
# Decision-stump training: best threshold split by information gain,
# computed with ONE pass + a window cumulative sum (no threshold x
# data join)
# --------------------------------------------------------------------------

_STUMP_ENT_Q = 1000000000.0


def ml_tree_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree: the best `n_chars <= t` split
    for predicting lang == 'en', scored by information gain. Returns
    the top-5 candidate thresholds by quantized gain.

    The classic CART/C4.5 split search is expressed without enumerating
    (threshold x row) pairs: rows collapse to per-distinct-value
    (count, positives) in one hash agg, a window cumulative sum over
    the value order yields every prefix's class histogram in linear
    state, and gain falls out per candidate row. Entropies (the only
    transcendentals) are quantized to scaled BIGINT; counts and the
    n*H products' inputs are exact, so the top-5 order is bit-stable.

    Scale shape: one partial-aggregated groupBy (output bounded by
    distinct feature values, not rows), one window over a SINGLE
    ordered partition of that already-tiny table, one top-k. The
    corpus is scanned once.
    """
    d = t(spark, sf_dir, "documents").select(
        "n_chars",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
        .alias("y"),
    )
    per_val = d.groupBy("n_chars").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_val.select(
        F.col("n_chars").alias("threshold"),
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("pos").over(tot).alias("pt"),
    ).filter(F.col("nl") < F.col("nt"))  # right side must be non-empty

    def _h(pos, n):
        # entropy in nats of a (pos, n-pos) split; 0 log 0 := 0
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        term = (
            F.when(pos > 0, -p * F.log(p)).otherwise(F.lit(0.0))
            + F.when(n - pos > 0, -q * F.log(q)).otherwise(F.lit(0.0))
        )
        return F.floor(term * F.lit(_STUMP_ENT_Q) + F.lit(0.5)).cast("long")

    nl, pl = F.col("nl"), F.col("pl")
    nr, pr = F.col("nt") - F.col("nl"), F.col("pt") - F.col("pl")
    # gain * nt, in entropy quanta: nt*H(parent) - nl*H(l) - nr*H(r);
    # products of exact BIGINT counts with quantized entropies stay
    # exact, so no float summation order can flip the ranking.
    gain_q = (
        F.col("nt") * _h(F.col("pt"), F.col("nt"))
        - nl * _h(pl, nl)
        - nr * _h(pr, nr)
    )
    scored = cum.select(
        "threshold",
        F.col("nl").cast("long").alias("n_left"),
        F.col("pl").cast("long").alias("pos_left"),
        gain_q.alias("gain_q"),
    )
    return scored.orderBy(F.desc("gain_q"), F.asc("threshold")).limit(5)


_STUMP_H = (
    "CAST(floor((CASE WHEN {p} > 0 THEN -({p} / CAST({n} AS DOUBLE))"
    " * ln({p} / CAST({n} AS DOUBLE)) ELSE 0.0 END"
    " + CASE WHEN {n} - {p} > 0 THEN"
    " -(({n} - {p}) / CAST({n} AS DOUBLE))"
    " * ln(({n} - {p}) / CAST({n} AS DOUBLE)) ELSE 0.0 END)"
    f" * {_STUMP_ENT_Q:.1f} + 0.5) AS BIGINT)"
)

ML_TREE_STUMP_SQL = f"""
WITH d AS (
  SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), per_val AS (
  SELECT n_chars, count(*) AS n, sum(y) AS pos FROM d GROUP BY 1
), cum AS (
  SELECT n_chars AS threshold,
         sum(n) OVER (ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos) OVER (ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS pl,
         sum(n) OVER () AS nt,
         sum(pos) OVER () AS pt
  FROM per_val
), gains AS (
  SELECT threshold,
         CAST(nl AS BIGINT) AS n_left,
         CAST(pl AS BIGINT) AS pos_left,
         nt * {_STUMP_H.format(p='pt', n='nt')}
           - nl * {_STUMP_H.format(p='pl', n='nl')}
           - (nt - nl) * {_STUMP_H.format(p='(pt - pl)', n='(nt - nl)')}
           AS gain_q
  FROM cum WHERE nl < nt
)
SELECT threshold, n_left, pos_left, CAST(gain_q AS BIGINT) AS gain_q
FROM gains
ORDER BY gain_q DESC, threshold ASC LIMIT 5
"""


# --------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution — journeys carved
# by reverse-cumulative purchase counts, no self-join over the log
# --------------------------------------------------------------------------

_TOUCH_TYPES = "('view', 'click', 'signup')"


def event_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (40/20/40) multi-touch attribution: each
    purchase's journey is every touch (view/click/signup) by the same
    user since the previous purchase; first and last touch get 400
    milli-credits each, middles split 200 (floor(200/(n-2)) each —
    declared integer semantics; n=1 gets 1000, n=2 gets 500/500).
    Output: total credit and touch count per channel.

    Journeys are carved WITHOUT a purchases-to-touches self-join: a
    reverse-ordered cumulative purchase count over the user partition
    stamps every event with the id of its next purchase (one window),
    then position/size come from windows over the SAME (user, journey)
    partitioning. Credits are exact BIGINT milli-units, so the
    per-channel sums are order-independent.

    Scale shape: ONE shuffle on user_id shared by the journey stamp
    and the position windows (same partition prefix), then one
    partial-aggregated groupBy on channel. No event-log self-join, no
    row explosion.
    """
    e = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stamped = e.withColumn(
        "journey",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_rev),
    )
    touches = stamped.filter(
        F.expr(f"event_type IN {_TOUCH_TYPES}") & (F.col("journey") > 0)
    )
    w_pos = Window.partitionBy("user_id", "journey").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    w_grp = Window.partitionBy("user_id", "journey")
    pos = touches.select(
        "event_type",
        F.row_number().over(w_pos).alias("pos"),
        F.count("*").over(w_grp).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1000))
        .when(F.col("n") == 2, F.lit(500))
        .when(F.col("pos") == 1, F.lit(400))
        .when(F.col("pos") == F.col("n"), F.lit(400))
        .otherwise(
            F.floor(F.lit(200.0) / (F.col("n") - 2)).cast("long")
        )
    )
    return (
        pos.select(F.col("event_type").alias("channel"),
                   credit.cast("long").alias("c"))
        .groupBy("channel")
        .agg(
            F.sum("c").alias("credit_milli"),
            F.count("*").alias("touches"),
        )
    )


EVENT_ATTRIBUTION_USHAPE_SQL = f"""
WITH stamped AS (
  SELECT user_id, ts, event_id, event_type,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS UNBOUNDED PRECEDING) AS journey
  FROM events
), touches AS (
  SELECT user_id, journey, event_type,
         row_number() OVER (PARTITION BY user_id, journey
                            ORDER BY ts ASC, event_id ASC) AS pos,
         count(*) OVER (PARTITION BY user_id, journey) AS n
  FROM stamped
  WHERE event_type IN {_TOUCH_TYPES} AND journey > 0
)
SELECT event_type AS channel,
       CAST(sum(CASE WHEN n = 1 THEN 1000
                     WHEN n = 2 THEN 500
                     WHEN pos = 1 THEN 400
                     WHEN pos = n THEN 400
                     ELSE CAST(floor(200.0 / (n - 2)) AS BIGINT)
                END) AS BIGINT) AS credit_milli,
       count(*) AS touches
FROM touches GROUP BY 1
"""


# --------------------------------------------------------------------------
# Bot/automation signals from inter-event timing — the traffic-quality
# filter a training-data event pipeline runs before trusting a user
# --------------------------------------------------------------------------


def event_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user automation signals: inter-event gap statistics (exact
    integer second sums), the user's busiest minute, and burstiness
    (sigma - mu)/(sigma + mu) — regular timers score near -1, human
    bursts near +1 (Goh & Barabasi 2008). Users with < 3 gaps are
    excluded (variance undefined at n<2, noisy below 3).

    Scale shape: ONE shuffle on user_id serves the lag window and the
    per-user aggregate (same key); the busiest-minute signal is a
    separate (user, minute) partial agg that reduces before its
    shuffle. Gap moments are exact BIGINTs (seconds; squares bounded
    far under 2^63), so only the final burstiness is quantized.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select("user_id", epoch_us(ev, "ts").alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    gaps = e.withColumn(
        "gap_s",
        F.floor((F.col("us") - F.lag("us").over(w))
                / F.lit(1000000.0)).cast("long"),
    ).filter(F.col("gap_s").isNotNull())
    return _bot_signals_from_gaps(spark, sf_dir, gaps)


def _bot_signals_from_gaps(
    spark: SparkSession, sf_dir: str, gaps: DataFrame
) -> DataFrame:
    """Shared readout stage of event_bot_signals: per-user gap moment
    aggregates + busiest-minute join + burstiness. Split out so the
    chunked twin swaps ONLY the lag stage and keeps this verbatim."""
    stats = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_s").alias("sum_gap_s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sum_gap2"),
        F.min("gap_s").alias("min_gap_s"),
    )
    ev = t(spark, sf_dir, "events")
    per_min = (
        ev.groupBy(
            "user_id",
            F.floor(epoch_us(ev, "ts") / F.lit(60000000.0))
            .cast("long").alias("minute"),
        )
        .agg(F.count("*").alias("m"))
        .groupBy("user_id")
        .agg(F.max("m").alias("max_per_minute"))
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("sum_gap_s").cast("double") / n
    var = (
        (F.col("sum_gap2").cast("double")
         - F.col("sum_gap_s").cast("double")
         * F.col("sum_gap_s").cast("double") / n)
        / (n - 1)
    )
    sigma = F.sqrt(var)
    return (
        stats.filter(F.col("n_gaps") >= 3)
        .join(per_min, "user_id")
        .select(
            "user_id", "n_gaps", "sum_gap_s", "min_gap_s",
            F.col("max_per_minute").cast("long").alias("max_per_minute"),
            dround((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
        )
    )


def event_bot_signals_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same automation signals as `event_bot_signals`, with the
    per-user lag(us) computed by the chunk-and-stitch lag operator
    (`operators/chunked_window.chunked_lag`, 1-day buckets) instead
    of one task per user — the MOST motivated chunked twin in the
    catalog, because the hot key in this entry's domain is precisely
    the thing it detects: a bot firehosing events at one user_id is
    both the row-count pathology and the signal. Ordering note: the
    plain entry sorts by (us, event_id) and the chunked operator by
    (ts, event_id) — identical orders, since us = epoch_us(ts) is
    strictly monotonic in ts in any session time zone.
    Value copying only, then the VERBATIM shared readout
    (`_bot_signals_from_gaps`) — shares EVENT_BOT_SIGNALS_SQL, so the
    driver's value-hash proves bit-equality at catalog level.
    """
    from ..operators.chunked_window import chunked_lag

    ev = t(spark, sf_dir, "events")
    e = ev.select("user_id", "ts", epoch_us(ev, "ts").alias("us"), "event_id")
    gaps = (
        chunked_lag(
            e, ["user_id"], "ts", "us", out="prev_us",
            bucket_width_sec=86400.0, tiebreak_cols=["event_id"],
        )
        .withColumn(
            "gap_s",
            F.floor((F.col("us") - F.col("prev_us"))
                    / F.lit(1000000.0)).cast("long"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return _bot_signals_from_gaps(spark, sf_dir, gaps)


EVENT_BOT_SIGNALS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
  FROM events
), g AS (
  SELECT user_id,
         CAST(floor((us - lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us ASC, event_id ASC))
                    / 1000000.0) AS BIGINT) AS gap_s
  FROM e
), stats AS (
  SELECT user_id, count(*) AS n_gaps,
         CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
         CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_gap2,
         min(gap_s) AS min_gap_s
  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
), pm AS (
  SELECT user_id, CAST(max(m) AS BIGINT) AS max_per_minute FROM (
    SELECT user_id,
           CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 60000000.0)
                AS BIGINT) AS minute,
           count(*) AS m
    FROM events GROUP BY 1, 2
  ) GROUP BY user_id
)
SELECT s.user_id, s.n_gaps, s.sum_gap_s, s.min_gap_s, pm.max_per_minute,
       {BURST} AS burstiness
FROM stats s JOIN pm USING (user_id)
WHERE s.n_gaps >= 3
"""


def _burst_sql() -> str:
    n = "CAST(s.n_gaps AS DOUBLE)"
    mu = f"(CAST(s.sum_gap_s AS DOUBLE) / {n})"
    var = (
        f"((CAST(s.sum_gap2 AS DOUBLE)"
        f" - CAST(s.sum_gap_s AS DOUBLE)"
        f" * CAST(s.sum_gap_s AS DOUBLE) / {n}) / ({n} - 1))"
    )
    from ..functions import sql_dround

    return sql_dround(
        f"((sqrt({var}) - {mu}) / (sqrt({var}) + {mu}))", 6
    )


EVENT_BOT_SIGNALS_SQL = EVENT_BOT_SIGNALS_SQL.replace("{BURST}", _burst_sql())


# --------------------------------------------------------------------------
# Population Stability Index — distribution drift between the older
# and newer half of the event stream (the ML-ops retraining trigger)
# --------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_LO, _PSI_HI = 0.0, 100.0  # fixed bin range; top/bottom clamp


def table_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the event-stream halves: rows split at the
    midpoint day floor((min+max)/2) (exact integer arithmetic), value
    binned into 10 fixed-width clamped buckets, shares Laplace-
    smoothed (n+1)/(N+bins) so empty bins stay defined, per-bin term
    (p - q) * ln(p / q) quantized to scaled BIGINT. PSI > 0.2 is the
    classic retrain trigger; the total is the exact sum of the
    emitted terms.

    Scale shape: one narrow pass stamps (half, bin); one
    partial-aggregated groupBy on a 20-value key; the min/max day
    split is a broadcast single-row aggregate. Nothing grows with the
    stream.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        epoch_day(ev, "ts").alias("day"),
        F.least(
            F.greatest(
                F.floor((F.col("value") - F.lit(_PSI_LO))
                        / F.lit((_PSI_HI - _PSI_LO) / _PSI_BINS))
                .cast("long"),
                F.lit(0),
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    split = e.agg(
        F.floor((F.min("day") + F.max("day")) / F.lit(2.0))
        .cast("long").alias("mid")
    )
    halves = e.crossJoin(F.broadcast(split)).select(
        "bin",
        F.when(F.col("day") <= F.col("mid"), F.lit("old"))
        .otherwise(F.lit("new")).alias("half"),
    )
    counts = halves.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "old", 1).otherwise(0))
        .alias("n_old"),
        F.sum(F.when(F.col("half") == "new", 1).otherwise(0))
        .alias("n_new"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shared = counts.select(
        "bin", "n_old", "n_new",
        F.sum("n_old").over(tot).alias("t_old"),
        F.sum("n_new").over(tot).alias("t_new"),
    )
    p = (F.col("n_old") + 1).cast("double") / (
        F.col("t_old") + _PSI_BINS
    ).cast("double")
    q = (F.col("n_new") + 1).cast("double") / (
        F.col("t_new") + _PSI_BINS
    ).cast("double")
    term_q = F.floor(
        (p - q) * F.log(p / q) * F.lit(1.0e9) + F.lit(0.5)
    ).cast("long")
    return shared.select(
        "bin",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        term_q.alias("psi_term_q"),
    )


def _psi_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    p = f"(CAST(n_old + 1 AS DOUBLE) / CAST(t_old + {_PSI_BINS} AS DOUBLE))"
    q = f"(CAST(n_new + 1 AS DOUBLE) / CAST(t_new + {_PSI_BINS} AS DOUBLE))"
    return f"""
WITH e AS (
  SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
              AS BIGINT) AS day,
         least(greatest(CAST(floor((value - {_PSI_LO!r}) / {width!r})
                             AS BIGINT), 0), {_PSI_BINS - 1}) AS bin
  FROM events
), split AS (
  SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT) AS mid FROM e
), counts AS (
  SELECT bin,
         sum(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS n_old,
         sum(CASE WHEN day > mid THEN 1 ELSE 0 END) AS n_new
  FROM e, split GROUP BY bin
), shared AS (
  SELECT bin, n_old, n_new,
         sum(n_old) OVER () AS t_old, sum(n_new) OVER () AS t_new
  FROM counts
)
SELECT bin, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
       CAST(floor(({p} - {q}) * ln({p} / {q}) * 1000000000.0 + 0.5)
            AS BIGINT) AS psi_term_q
FROM shared
"""


TABLE_DRIFT_PSI_SQL = _psi_sql()


# --------------------------------------------------------------------------
# RFM customer segmentation — recency/frequency/monetary quintiles
# --------------------------------------------------------------------------


def ml_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the event stream: per user, recency = days
    since last event (vs the corpus max day, exact integers),
    frequency = event count, monetary = exact cent sum; each scored
    into quintiles by ntile(5) over a total order (metric, user_id),
    recency inverted so 5 = best. Segment = r*100 + f*10 + m.

    Scale shape: ONE shuffle builds the per-user rollup; each ntile
    is then computed WITHOUT an unpartitioned Window via the
    distributed exact global row_number (range-repartition +
    per-partition offsets, operators/ranking.py) and the
    position-based ntile formula — bit-identical to the oracle's
    single-task ``ntile(5) OVER (ORDER BY metric, user_id)`` at any
    scale, with every task bounded by one range slice even when the
    per-user table is billions of rows.

    Construction contract: building this DataFrame is EAGER — each of
    the three ``global_row_number`` calls runs a real Spark job
    (checkpoint materialization + bounded per-partition count
    collect), so plan sweeps (gen_plans, shuffle_audit, hygiene
    tests) execute cluster work for this entry. Only the FINAL
    ranking's checkpoint stays pinned: each chained ranking releases
    its predecessor's blocks as soon as its own checkpoint has
    materialized (``release_pinned``), so peak pinned state is one
    per-user rollup copy, not three.
    """
    from ..operators.ranking import (
        global_row_number,
        ntile_from_row_number,
        release_pinned,
    )
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        epoch_day(ev, "ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    per_user = e.groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count("*").alias("freq"),
        F.sum("vq").alias("money_q"),
    )
    corpus_max = per_user.agg(F.max("last_day").alias("maxd"))
    base = per_user.crossJoin(F.broadcast(corpus_max)).select(
        "user_id",
        (F.col("maxd") - F.col("last_day")).alias("recency_days"),
        "freq", "money_q",
    )
    base = base.select(
        "user_id",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("freq").cast("long").alias("freq"),
        F.col("money_q").cast("long").alias("money_cents"),
    )
    orders = {
        "r": [F.asc("recency_days"), F.asc("user_id")],
        "f": [F.desc("freq"), F.asc("user_id")],
        "m": [F.desc("money_cents"), F.asc("user_id")],
    }
    scored = base
    n_users = 0
    prev = None
    for tag, order in orders.items():
        scored, n_users = global_row_number(scored, order, out=f"_rn_{tag}")
        if prev is not None:
            # The new ranking's checkpoint is materialized (the count
            # collect inside global_row_number ran), so the previous
            # ranking's pinned blocks are unreachable from the final
            # plan -- free them now.
            release_pinned(prev)
        prev = scored
    for tag in orders:
        scored = scored.withColumn(
            tag,
            (F.lit(6)
             - ntile_from_row_number(F.col(f"_rn_{tag}"), 5, n_users))
            .cast("long"),
        )
    scored = scored.drop("_rn_r", "_rn_f", "_rn_m")
    return scored.withColumn(
        "segment",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("long"),
    )


ML_RFM_SEGMENTS_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
              AS BIGINT) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
  FROM events
), per_user AS (
  SELECT user_id, max(day) AS last_day, count(*) AS freq,
         CAST(sum(vq) AS BIGINT) AS money_q
  FROM e GROUP BY 1
), base AS (
  SELECT user_id,
         (SELECT max(last_day) FROM per_user) - last_day AS recency_days,
         freq, money_q
  FROM per_user
), scored AS (
  SELECT user_id,
         CAST(recency_days AS BIGINT) AS recency_days,
         CAST(freq AS BIGINT) AS freq,
         money_q AS money_cents,
         6 - ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
         6 - ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f,
         6 - ntile(5) OVER (ORDER BY money_q DESC, user_id ASC) AS m
  FROM base
)
SELECT user_id, recency_days, freq, money_cents,
       CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
       CAST(m AS BIGINT) AS m,
       CAST(r * 100 + f * 10 + m AS BIGINT) AS segment
FROM scored
"""


# --------------------------------------------------------------------------
# Cluster-purity evaluation — how well unsupervised clusters align
# with labels (the clustering-quality eval every embedding pipeline
# runs)
# --------------------------------------------------------------------------


def ml_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purity of the coarse embedding clustering against the label
    column: vectors assign to 16 md5-hash-sampled centroids with the
    shared ``assign_nearest_centroid`` Arrow kernel (the corpus never
    shuffles for assignment — same machinery as dedup_semantic), then
    per cluster the majority label and its share. Counts exact; only
    the final share is quantized; majority ties break to the smaller
    label.

    Scale shape: one narrow assignment pass + one (cluster, label)
    partial agg + one tiny per-cluster argmax window.
    """
    from ..operators.similarity import as_double, assign_nearest_centroid

    e = t(spark, sf_dir, "embeddings")
    cent = (
        e.select(
            F.col("vec_id").alias("centroid_id"),
            as_double("embedding").alias("cent_vec"),
        )
        .withColumn(
            "__h",
            F.conv(
                F.substring(F.md5(F.col("centroid_id").cast("string")),
                            1, 8), 16, 10,
            ).cast("long"),
        )
        .orderBy("__h", "centroid_id")
        .limit(16)
        .drop("__h")
    )
    assigned = assign_nearest_centroid(
        e.select("label", as_double("embedding").alias("__v")),
        cent,
        "__v",
    ).select("cluster_id", "label")
    cl = assigned.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n"), F.asc("label")
    )
    wn = Window.partitionBy("cluster_id")
    return (
        cl.withColumn("rn", F.row_number().over(w))
        .withColumn("size", F.sum("n").over(wn))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("size").cast("long").alias("size"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("n").cast("long").alias("majority_n"),
            dround(
                F.col("n").cast("double") / F.col("size").cast("double"),
                6,
            ).alias("purity"),
        )
    )


ML_CLUSTER_PURITY_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
cent AS (
  SELECT vec_id AS centroid_id, v AS cent_vec FROM e
  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                AS BIGINT) ASC, vec_id ASC
  LIMIT 16
), assigned AS (
  SELECT vec_id, label, centroid_id AS cluster_id FROM (
    SELECT e.vec_id, e.label, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cent_vec) DESC,
                        c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cent c) WHERE rn = 1
), cl AS (
  SELECT cluster_id, label, count(*) AS n
  FROM assigned GROUP BY 1, 2
), ranked AS (
  SELECT cluster_id, label, n,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n DESC, label ASC) AS rn,
         sum(n) OVER (PARTITION BY cluster_id) AS size
  FROM cl
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(size AS BIGINT) AS size,
       CAST(label AS BIGINT) AS majority_label,
       CAST(n AS BIGINT) AS majority_n,
       floor(CAST(n AS DOUBLE) / CAST(size AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS purity
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Day-of-week seasonality profile — the load-shape check before any
# time-based sampling or capacity decision
# --------------------------------------------------------------------------


def event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity profile: exact counts and exact value
    sums (cents) per weekday, plus each weekday's quantized share and
    chi-square term against the uniform expectation — the seasonality
    screen run before time-based sampling. Day-of-week comes from the
    epoch-day integer ((day + 4) mod 7: 1970-01-01 was a Thursday), so
    both engines derive it with pure integer arithmetic — no calendar
    functions with engine-specific week conventions.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        epoch_day(ev, "ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    c = e.groupBy(((F.col("day") + 4) % 7).alias("dow")).agg(
        F.count("*").alias("n"), F.sum("vq").alias("sum_cents")
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shared = c.withColumn("n_total", F.sum("n").over(tot))
    p = F.col("n").cast("double") / F.col("n_total").cast("double")
    exp = F.lit(1.0 / 7.0)
    return shared.select(
        F.col("dow").cast("long").alias("dow"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        dround(p, 6).alias("share"),
        dround((p - exp) * (p - exp) / exp, 8).alias("chi2_term"),
    )


def _seasonality_sql() -> str:
    from ..functions import sql_dround

    p = "(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))"
    exp = repr(1.0 / 7.0)
    return f"""
WITH e AS (
  SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
              AS BIGINT) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
  FROM events
), c AS (
  SELECT (day + 4) % 7 AS dow, count(*) AS n,
         CAST(sum(vq) AS BIGINT) AS sum_cents
  FROM e GROUP BY 1
), shared AS (
  SELECT dow, n, sum_cents, sum(n) OVER () AS n_total FROM c
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(n AS BIGINT) AS n, sum_cents,
       {sql_dround(p, 6)} AS share,
       {sql_dround(f'({p} - {exp}) * ({p} - {exp}) / {exp}', 8)}
         AS chi2_term
FROM shared
"""


EVENT_SEASONALITY_SQL = _seasonality_sql()


# --------------------------------------------------------------------------
# Shannon entropy of a categorical distribution — the drift/balance
# one-number summary
# --------------------------------------------------------------------------


def agg_entropy_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the event_type distribution, with
    per-category shares: exact counts, per-category -p*ln(p) terms
    quantized to scaled BIGINT (summable exactly downstream). Output
    is one row per category plus exact totals — the class-balance
    check run before training on labeled events.
    """
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .withColumn("n_total", F.sum("n").over(tot))
    )
    p = F.col("n").cast("double") / F.col("n_total").cast("double")
    return c.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        dround(p, 6).alias("share"),
        F.floor(-p * F.log(p) * F.lit(1.0e9) + F.lit(0.5)).cast("long")
        .alias("entropy_term_q"),
    )


AGG_ENTROPY_CATEGORICAL_SQL = """
WITH c AS (
  SELECT event_type, count(*) AS n, sum(count(*)) OVER () AS n_total
  FROM events GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       floor((CAST(n AS DOUBLE) / n_total) * 1000000.0 + 0.5)
         / 1000000.0 AS share,
       CAST(floor(-(CAST(n AS DOUBLE) / n_total)
                  * ln(CAST(n AS DOUBLE) / n_total)
                  * 1000000000.0 + 0.5) AS BIGINT) AS entropy_term_q
FROM c
"""


# --------------------------------------------------------------------------
# Benford's-law first-digit audit — the classic numeric-integrity
# screen over financial columns
# --------------------------------------------------------------------------


def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs the
    Benford expectation log10(1 + 1/d), with each digit's quantized
    squared relative deviation (the chi-square contribution). Counts
    are exact; expected shares are fixed literals repr()'d so both
    engines parse identical doubles. One partial-aggregated groupBy
    on a 9-value key — nothing here grows with the table.
    """
    exp_shares = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    c = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = c.select(
        F.substring(
            F.regexp_replace(
                F.format_number(F.col("o_totalprice"), 10), "[0.,]", ""
            ), 1, 1
        ).cast("int").alias("digit")
    )
    n_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counted = digits.groupBy("digit").agg(
        F.count("*").alias("n")
    ).withColumn("n_total", F.sum("n").over(n_tot))
    expected = F.create_map(*[
        F.lit(x) for kv in exp_shares.items()
        for x in (kv[0], float(repr(kv[1])))
    ])
    obs = F.col("n").cast("double") / F.col("n_total")
    exp = expected[F.col("digit")]
    return counted.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        dround(obs, 6).alias("observed_share"),
        dround(exp, 6).alias("benford_share"),
        dround((obs - exp) * (obs - exp) / exp, 8).alias("chi2_term"),
    )


def _benford_sql() -> str:
    from ..functions import sql_dround

    cases = " ".join(
        f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    # CAST to DOUBLE: DuckDB parses the bare literals as DECIMAL and
    # overflows inside sql_dround's scaled multiply.
    exp = f"CAST((CASE digit {cases} END) AS DOUBLE)"
    obs = "(CAST(n AS DOUBLE) / n_total)"
    return f"""
WITH digits AS (
  SELECT CAST(substr(regexp_replace(format('{{:.10f}}', o_totalprice),
                                    '[0.,]', '', 'g'), 1, 1) AS INT)
           AS digit
  FROM orders WHERE o_totalprice > 0
), counted AS (
  SELECT digit, count(*) AS n, sum(count(*)) OVER () AS n_total
  FROM digits GROUP BY digit
)
SELECT digit, CAST(n AS BIGINT) AS n,
       {sql_dround(obs, 6)} AS observed_share,
       {sql_dround(exp, 6)} AS benford_share,
       {sql_dround(f'({obs} - {exp}) * ({obs} - {exp}) / {exp}', 8)}
         AS chi2_term
FROM counted
"""


AGG_BENFORD_SQL = _benford_sql()


# --------------------------------------------------------------------------
# k-anonymity audit — the privacy gate a dataset release runs over its
# quasi-identifier columns (Sweeney 2002)
# --------------------------------------------------------------------------

_KANON_K = 10


def table_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customer over the quasi-identifier pair
    (c_nationkey, c_mktsegment): every equivalence class with its
    size, whether it meets k=10, and the rows that would need
    suppression or generalization to publish. One partial-aggregated
    groupBy — output is bounded by the quasi-identifier domain, not
    the table; the canonical release-gate shape at any scale.
    """
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("class_size"))
        .select(
            "c_nationkey", "c_mktsegment",
            F.col("class_size").cast("long").alias("class_size"),
            (F.col("class_size") >= _KANON_K).alias("k_anonymous"),
            F.when(F.col("class_size") >= _KANON_K, F.lit(0))
            .otherwise(F.col("class_size")).cast("long")
            .alias("rows_at_risk"),
        )
    )


TABLE_K_ANONYMITY_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) >= {_KANON_K} AS k_anonymous,
       CAST(CASE WHEN count(*) >= {_KANON_K} THEN 0
                 ELSE count(*) END AS BIGINT) AS rows_at_risk
FROM customer GROUP BY 1, 2
"""


_DP_EPS = 1.0


def table_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release over (lang, source)
    document cells: Laplace(1/epsilon) noise via the inverse-CDF of a
    content-stable uniform (Dwork et al. 2006; sensitivity 1 -- each
    document lands in exactly one cell). Seeded noise makes the
    release REPRODUCIBLE (the same privacy budget cannot be spent
    twice on fresh randomness for the same release id), which is also
    what lets the DuckDB oracle replay it: u = md5_unit(release id ||
    cell key), noise = -(1/eps) * sgn(u - 1/2) * ln(1 - 2|u - 1/2|),
    quantized once to q6 before the rounded add.

    Scale shape: ONE partial-aggregated groupBy bounded by the cell
    domain; the transcendental runs per CELL, not per row.
    """
    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_true"))
    u = md5_unit(F.concat(F.lit("dp-r1:"), F.col("lang"), F.lit(":"),
                          F.col("source")))
    dev = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(dev < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(F.lit(1.0) - 2 * F.abs(dev))
    )
    noise_q6 = F.floor(noise * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    released = F.greatest(
        F.lit(0).cast("long"),
        F.col("n_true")
        + F.floor(
            F.col("noise_q6").cast("double") / F.lit(1_000_000.0) + F.lit(0.5)
        ).cast("long"),
    )
    return (
        cells.withColumn("noise_q6", noise_q6)
        .select(
            "lang", "source",
            F.col("n_true").cast("long").alias("n_true"),
            F.lit(float(_DP_EPS)).alias("epsilon"),
            "noise_q6",
            released.alias("n_released"),
        )
    )


TABLE_DP_COUNTS_SQL = f"""
WITH cells AS (
  SELECT lang, source, count(*) AS n_true
  FROM documents GROUP BY 1, 2
), noised AS (
  SELECT lang, source, n_true,
         CAST(floor(
           (-1.0 / {_DP_EPS!r})
           * (CASE WHEN {sql_md5_unit("'dp-r1:' || lang || ':' || source")}
                        - 0.5 < 0 THEN -1.0 ELSE 1.0 END)
           * ln(1.0 - 2 * abs({sql_md5_unit(
               "'dp-r1:' || lang || ':' || source")} - 0.5))
           * 1000000.0 + 0.5) AS BIGINT) AS noise_q6
  FROM cells
)
SELECT lang, source,
       CAST(n_true AS BIGINT) AS n_true,
       {_DP_EPS!r} AS epsilon,
       noise_q6,
       greatest(CAST(0 AS BIGINT),
                n_true + CAST(floor(CAST(noise_q6 AS DOUBLE) / 1000000.0
                                    + 0.5) AS BIGINT)) AS n_released
FROM noised
"""


def event_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-volume
    series (Page 1954): the split day maximizing |cumulative
    deviation from the global mean|. To keep the argmax bit-stable,
    the statistic is the INTEGER rescaling T_d = n_days * cum_d -
    d * total (= n_days * classic CUSUM), so no float ever enters the
    ranking; ties break on earlier day. The last day is excluded (a
    change point must split the series).

    Scale shape: the log collapses to one row per day in a single
    partial-aggregated groupBy; the cumulative window and argmax run
    on the daily series, not on events. Output: the detected day with
    exact before/after mean rates.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("idx"),
        F.sum("n").over(wd).alias("cum"),
        F.sum("n").over(wall).alias("total"),
        F.count("*").over(wall).alias("n_days"),
    ).filter(F.col("idx") < F.col("n_days"))
    scored = cum.withColumn(
        "t_stat", F.col("n_days") * F.col("cum") - F.col("idx") * F.col("total")
    )
    top = Window.orderBy(F.abs(F.col("t_stat")).desc(), F.col("day").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(top))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total_events"),
            F.col("t_stat").cast("long").alias("cusum_scaled"),
            F.floor(
                F.col("cum") * F.lit(1_000_000.0) / F.col("idx") + F.lit(0.5)
            ).cast("long").alias("mean_before_q6"),
            F.floor(
                (F.col("total") - F.col("cum")) * F.lit(1_000_000.0)
                / (F.col("n_days") - F.col("idx")) + F.lit(0.5)
            ).cast("long").alias("mean_after_q6"),
        )
    )


EVENT_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         count(*) AS n
  FROM events GROUP BY 1
), cum AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS idx,
         sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER () AS total,
         count(*) OVER () AS n_days
  FROM daily
  QUALIFY idx < n_days
), scored AS (
  SELECT *, n_days * cum - idx * total AS t_stat FROM cum
)
SELECT day AS change_day,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(total AS BIGINT) AS total_events,
       CAST(t_stat AS BIGINT) AS cusum_scaled,
       CAST(floor(cum * 1000000.0 / idx + 0.5) AS BIGINT)
         AS mean_before_q6,
       CAST(floor((total - cum) * 1000000.0 / (n_days - idx) + 0.5)
            AS BIGINT) AS mean_after_q6
FROM (SELECT *, row_number() OVER (ORDER BY abs(t_stat) DESC, day ASC)
        AS rn FROM scored)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Gini coefficient per segment — inequality/concentration metric via
# the rank formula, exact scaled-integer sums
# --------------------------------------------------------------------------


def agg_gini_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of positive account balances per market
    segment, by the rank formula G = (2*sum(i*x_i) - (n+1)*sum(x))
    / (n*sum(x)) over ascending-sorted x. Balances become exact cent
    BIGINTs, ranks come from one window that shares the segment
    partitioning with the final aggregate (ONE shuffle), and every
    sum is exact integer arithmetic — only the final ratio is
    quantized. Tied balances break by c_custkey; tie permutations
    cannot change sum(i*x_i) because tied x are equal.
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    xq = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = c.select(
        "c_mktsegment", xq.alias("xq"),
        F.row_number().over(w).alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum(F.col("i") * F.col("xq")).alias("six"),
    )
    gini = (
        (F.lit(2.0) * F.col("six").cast("double")
         - (F.col("n") + 1).cast("double") * F.col("sx").cast("double"))
        / (F.col("n").cast("double") * F.col("sx").cast("double"))
    )
    return agg.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.col("sx").cast("long").alias("total_cents"),
        dround(gini, 6).alias("gini"),
    )


def _gini_sql() -> str:
    from ..functions import sql_dround

    g = ("((2.0 * CAST(six AS DOUBLE)"
         " - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))"
         " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)))")
    return f"""
WITH ranked AS (
  SELECT c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS xq,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS i
  FROM customer WHERE c_acctbal > 0
), agg AS (
  SELECT c_mktsegment, count(*) AS n,
         CAST(sum(xq) AS BIGINT) AS sx,
         CAST(sum(i * xq) AS BIGINT) AS six
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n, sx AS total_cents,
       {sql_dround(g, 6)} AS gini
FROM agg
"""


AGG_GINI_SEGMENT_SQL = _gini_sql()


# --------------------------------------------------------------------------
# Per-user linear trend forecast — OLS slope/intercept from exact
# integer moments, one shuffle
# --------------------------------------------------------------------------


def event_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-day forecast by least-squares trend over
    (day, daily value sum): slope = (n*Stv - St*Sv)/(n*Stt - St^2)
    with every moment an exact BIGINT (days as integers, values as
    exact cents), evaluated at max(day) + 1. Users need >= 2 distinct
    days (the denominator is positive iff so). ONE shuffle: the daily
    rollup and the moment aggregate share the user partitioning; the
    per-user model is closed-form — no iteration, no join.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        epoch_day(ev, "ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    daily = e.groupBy("user_id", "day").agg(F.sum("vq").alias("v"))
    m = daily.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("day").alias("st"),
        F.sum("v").alias("sv"),
        F.sum(F.col("day") * F.col("day")).alias("stt"),
        F.sum(F.col("day") * F.col("v")).alias("stv"),
        F.max("day").alias("tmax"),
    )
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    num = (F.col("n") * F.col("stv") - F.col("st") * F.col("sv"))
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sv").cast("double") - slope * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    forecast = intercept + slope * (F.col("tmax") + 1).cast("double")
    return m.filter(den > 0).select(
        "user_id",
        F.col("n").cast("long").alias("n_days"),
        dround(slope / 100, 6).alias("slope_per_day"),
        dround(forecast / 100, 4).alias("next_day_forecast"),
    )


def _forecast_sql() -> str:
    from ..functions import sql_dround

    den = "(n * stt - st * st)"
    slope = f"(CAST((n * stv - st * sv) AS DOUBLE) / CAST({den} AS DOUBLE))"
    intercept = (
        f"((CAST(sv AS DOUBLE) - {slope} * CAST(st AS DOUBLE))"
        " / CAST(n AS DOUBLE))"
    )
    forecast = f"({intercept} + {slope} * CAST(tmax + 1 AS DOUBLE))"
    return f"""
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
              AS BIGINT) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
  FROM events
), daily AS (
  SELECT user_id, day, CAST(sum(vq) AS BIGINT) AS v
  FROM e GROUP BY 1, 2
), m AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(day) AS BIGINT) AS st,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(day * day) AS BIGINT) AS stt,
         CAST(sum(day * v) AS BIGINT) AS stv,
         max(day) AS tmax
  FROM daily GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_days,
       {sql_dround(f'({slope} / 100)', 6)} AS slope_per_day,
       {sql_dround(f'({forecast} / 100)', 4)} AS next_day_forecast
FROM m WHERE {den} > 0
"""


EVENT_FORECAST_LINEAR_SQL = _forecast_sql()


# --------------------------------------------------------------------------
# Flesch-Kincaid readability — per-doc quality signal from exact
# word/sentence/syllable-proxy counts
# --------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words), with the standard automatable proxies:
    sentences = punctuation runs [.!?]+ (min 1), syllables = vowel
    groups [aeiouy]+. All three counts are exact integers from one
    narrow regex pass (zero shuffle, zero explode); only the final
    score is quantized. Constant literals are parsed identically by
    both engines. Defined over docs with >= 1 word.
    """
    d = t(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    words = F.size(F.expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)"
    )).cast("long")
    sents = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)"))
        .cast("long"),
        F.lit(1).cast("long"),
    )
    sylls = F.size(F.expr(
        "regexp_extract_all(lower(text), '[aeiouy]+', 0)"
    )).cast("long")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (sylls.cast("double") / words.cast("double"))
    )
    return d.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        sylls.alias("n_syllables"),
        dround(score, 4).alias("flesch_ease"),
    ).filter(F.col("n_words") > 0)


def _readability_sql() -> str:
    from ..functions import sql_dround

    words = "CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)"
    sents = ("greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))"
             " AS BIGINT), 1)")
    sylls = ("CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))"
             " AS BIGINT)")
    score = (
        f"(206.835 - 1.015 * (CAST({words} AS DOUBLE)"
        f" / CAST({sents} AS DOUBLE))"
        f" - 84.6 * (CAST({sylls} AS DOUBLE) / CAST({words} AS DOUBLE)))"
    )
    return f"""
SELECT doc_id,
       {words} AS n_words,
       {sents} AS n_sentences,
       {sylls} AS n_syllables,
       {sql_dround(score, 4)} AS flesch_ease
FROM documents
WHERE {words} > 0
"""


TEXT_READABILITY_SQL = _readability_sql()


def event_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day by distributed sweep-line.

    Each event holds a resource for 5 minutes (half-open [ts, ts+5m)).
    The classic answer sorts all endpoints globally and runs one
    running sum -- a single-task bottleneck at 100 TB. Here every hold
    is clipped at day boundaries (a hold crossing midnight becomes two
    segments, each inside one day), which makes each day's sweep
    self-contained: the running sum partitions by day, so the sort is
    per-day and fully parallel. Shuffle volume = 2 endpoint rows per
    event on the day key; the running-sum window, the per-day max and
    the final aggregate all share that one partitioning.

    Determinism: endpoints order by (t, delta) with the -1 end sorting
    before the +1 start at an exact boundary, so back-to-back holds
    never double-count; ties among equal (t, delta) rows all carry
    delta of the same sign, so the multiset of prefix values -- and
    hence the peak and its first instant -- is order-independent.
    """
    pts = _concurrency_endpoints(t(spark, sf_dir, "events"))
    w_run = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = pts.withColumn("running", F.sum("delta").over(w_run))
    return _concurrency_readout(r)


def _concurrency_endpoints(e: DataFrame) -> DataFrame:
    """Shared day-clipped endpoint construction of event_concurrency:
    (day, t, delta) sweep endpoints, holds crossing midnight split in
    two. Split out (like _concurrency_readout) so the chunked twin
    swaps ONLY the running-sum stage — its value-equality claim and
    shared oracle SQL depend on the endpoint logic staying identical.

    ONE scan of the fact table: each event emits its 2 (or 4, when
    the hold crosses midnight) endpoint structs through a single
    explode. The earlier union-of-unions formulation read the events
    scan FOUR times (seg1/seg2 x start/end endpoints) -- same rows,
    4x the I/O at lake scale.
    """
    e = e.select("ts")
    day0 = F.date_trunc("day", F.col("ts"))
    day_end = day0 + F.expr("INTERVAL 1 DAY")
    hold_end = F.col("ts") + F.expr("INTERVAL 5 MINUTES")

    def pt(day, ts_, delta):
        return F.struct(
            day.alias("day"), ts_.alias("t"),
            F.lit(delta).cast("int").alias("delta"),
        )

    base = F.array(
        pt(day0, F.col("ts"), 1),
        pt(day0, F.least(hold_end, day_end), -1),
    )
    crossing = F.array(
        pt(day_end, day_end, 1),
        pt(day_end, hold_end, -1),
    )
    return e.select(
        F.explode(
            F.when(hold_end > day_end, F.concat(base, crossing))
            .otherwise(base)
        ).alias("p")
    ).select("p.day", "p.t", "p.delta")


def _concurrency_readout(r: DataFrame) -> DataFrame:
    """Shared peak stage of event_concurrency: per-day max over the
    running sum, first instant the peak is reached. Split out so the
    chunked twin swaps ONLY the running-sum stage."""
    r = r.withColumn("peak", F.max("running").over(Window.partitionBy("day")))
    return (
        r.filter(F.col("running") == F.col("peak"))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max("peak").cast("long").alias("peak_concurrency"),
            F.date_format(
                F.min("t"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("first_peak_at"),
        )
    )


def event_concurrency_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-day sweep-line peak as `event_concurrency`, with
    the running sum chunk-and-stitched (`chunked_cumsum`, 1-HOUR
    buckets inside the day key). This posture differs from every
    per-USER twin in the catalog: the sweep's partition key is the
    calendar DAY, whose row count grows with traffic without bound —
    at 100 TB one day of endpoints is billions of rows in ONE task's
    sort, no pathological user required (PLANS.md hot-key table). The
    hour buckets cap each task at one hour of one day's endpoints;
    the per-bucket summary window is 24 rows per day. Tie note: (t,
    delta) does not totally order equal-endpoint rows, but tied rows
    carry identical deltas, so the multiset of prefix values — and
    hence the peak and its first instant — is order-independent,
    exactly the plain entry's determinism argument; the stitch
    preserves that multiset bucket by bucket. Shares the plain oracle
    SQL, so the driver hash proves value-equality at catalog level.
    """
    from ..operators.chunked_window import chunked_cumsum

    pts = _concurrency_endpoints(t(spark, sf_dir, "events"))
    r = chunked_cumsum(
        pts, ["day"], "t", "delta", out="running",
        bucket_width_sec=3600.0, tiebreak_cols=["delta"],
    ).withColumn("running", F.col("running").cast("long"))
    return _concurrency_readout(r)


EVENT_CONCURRENCY_SQL = """
WITH seg1 AS (
  SELECT date_trunc('day', ts) AS day, ts AS t0,
         least(ts + INTERVAL 5 MINUTE,
               date_trunc('day', ts) + INTERVAL 1 DAY) AS t1
  FROM events
), seg2 AS (
  SELECT date_trunc('day', ts) + INTERVAL 1 DAY AS day,
         date_trunc('day', ts) + INTERVAL 1 DAY AS t0,
         ts + INTERVAL 5 MINUTE AS t1
  FROM events
  WHERE ts + INTERVAL 5 MINUTE > date_trunc('day', ts) + INTERVAL 1 DAY
), segs AS (
  SELECT * FROM seg1 UNION ALL SELECT * FROM seg2
), pts AS (
  SELECT day, t0 AS t, 1 AS delta FROM segs
  UNION ALL
  SELECT day, t1 AS t, -1 AS delta FROM segs
), r AS (
  SELECT day, t, delta,
         sum(delta) OVER (
           PARTITION BY day ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM pts
), p AS (
  SELECT *, max(running) OVER (PARTITION BY day) AS peak FROM r
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(max(peak) AS BIGINT) AS peak_concurrency,
       strftime(min(t), '%Y-%m-%d %H:%M:%S.%f') AS first_peak_at
FROM p
WHERE running = peak
GROUP BY 1
"""


def agg_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit of (lang x source).

    The dataset-bias question "does source predict language?" as a
    contingency table: ONE hash aggregate over the corpus builds the
    observed cells; row/column marginals and the grand total are
    derived from that cell table (bounded by the label domains, never
    a second corpus scan) and broadcast back. expected = row*col/n
    and the cell contribution (o-e)^2/e are per-row IEEE arithmetic
    on exact integer-valued doubles, quantized (dround) so the
    judge-side chi-square sum is bit-stable. Output is |lang| x
    |source| rows regardless of corpus size.
    """
    d = t(spark, sf_dir, "documents")
    # Bounded by the label domains and consumed by rowm/colm/j:
    # materialized once so "never a second corpus scan" holds in the
    # executed plan, not just in intent (Catalyst re-derived the cell
    # aggregate per consumer -- 4 corpus scans pre-checkpoint).
    cells = d.groupBy("lang", "source").agg(
        F.count("*").alias("observed")
    ).localCheckpoint(eager=False)
    rowm = cells.groupBy("lang").agg(F.sum("observed").alias("row_n"))
    colm = cells.groupBy("source").agg(F.sum("observed").alias("col_n"))
    tot = rowm.agg(F.sum("row_n").alias("n"))
    j = (
        cells.join(F.broadcast(rowm), "lang")
        .join(F.broadcast(colm), "source")
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    j = j.withColumn("expected", expected).withColumn(
        "diff", F.col("observed").cast("double") - F.col("expected")
    )
    return j.select(
        "lang",
        "source",
        F.col("observed").cast("long").alias("observed"),
        dround(F.col("expected"), 4).alias("expected_q"),
        dround(
            F.col("diff") * F.col("diff") / F.col("expected"), 6
        ).alias("chi2_term_q"),
    )


def _contingency_sql() -> str:
    from ..functions import sql_dround

    return f"""
WITH cells AS (
  SELECT lang, source, count(*) AS observed
  FROM documents GROUP BY 1, 2
), rowm AS (
  SELECT lang, sum(observed) AS row_n FROM cells GROUP BY 1
), colm AS (
  SELECT source, sum(observed) AS col_n FROM cells GROUP BY 1
), tot AS (
  SELECT sum(row_n) AS n FROM rowm
), j AS (
  SELECT c.lang, c.source, c.observed,
         CAST(r.row_n AS DOUBLE) * CAST(co.col_n AS DOUBLE)
           / CAST(t.n AS DOUBLE) AS expected
  FROM cells c
  JOIN rowm r USING (lang)
  JOIN colm co USING (source)
  CROSS JOIN tot t
), d AS (
  SELECT *, CAST(observed AS DOUBLE) - expected AS diff FROM j
)
SELECT lang, source, CAST(observed AS BIGINT) AS observed,
       {sql_dround('expected', 4)} AS expected_q,
       {sql_dround('diff * diff / expected', 6)} AS chi2_term_q
FROM d
"""


AGG_CONTINGENCY_CHI2_SQL = _contingency_sql()


# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k! for k=0..5,
# repr()'d so both engines compare against bit-identical doubles); a
# draw above the last threshold is weight 6 -- the truncated tail
# carries ~6e-4 of the mass and is part of the declared semantics.
_POISSON_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)
_BOOT_R = 16  # bootstrap replicates


def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value.

    The published answer to "error bars over a dataset too large to
    resample" (Chamandy et al., 'Estimating Uncertainty for Massive
    Data Streams', Google 2012): instead of materializing B
    resamples, each row draws an independent Poisson(1) replication
    weight per replicate, so every replicate's weighted sum is a
    map-side-combinable aggregate of the SINGLE pass. Here the 16
    replicates are 33 aggregate expressions (sum w*x, sum w per
    replicate, plus the point estimate) over ONE corpus scan --
    per-partition state is 33 numbers, and the row-level fan-out the
    naive bootstrap needs never happens (the oracle, at test scale,
    does exactly that naive 16x fan-out and must agree).

    Determinism: the uniform draws are content-stable 16-bit slices
    of two per-row md5 digests -- no RNG state; the inverse-CDF ladder
    compares against repr()'d double constants; weights and cents are
    exact BIGINTs, so replicate sums are order-independent; the final
    means and the rank-picked percentile bounds (ranks 1/8/16 of the
    16 means, ordered with the replicate id as tiebreak) are the only
    float steps and go through dround.
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )

    # Two md5 digests per row supply all 16 replicate uniforms: each
    # 128-bit digest is sliced into eight 16-bit chunks, u = (v16 +
    # 0.5)/65536 -- 8x less hashing than a digest per replicate, and
    # the 2^-17 uniform granularity is far below the CI's resolution.
    # The oracle slices the same hex chars, so weights stay
    # bit-identical cross-engine (hashlib and md5() agree on hex;
    # the uniform and ladder comparisons are the same IEEE-double
    # ops). The per-row hash + 16-weight ladder runs as an
    # Arrow-batched kernel emitting ONE 34-cell partial-sum row per
    # partition -- the 33-aggregate expression form exceeded the
    # codegen thresholds and fell back to interpreted eval (~3x
    # slower); all partial state is exact int64, so shard partials
    # add and the merge is a tiny final aggregate.
    boot_r = _BOOT_R
    thrs = tuple(float(t) for t in _POISSON_CDF)
    part_cols = (
        ["sc", "n"]
        + [x for r in range(boot_r) for x in (f"swc{r}", f"sw{r}")]
    )

    def partials(batches):
        import hashlib as hl

        import numpy as np
        import pandas as pd

        thr = np.array(thrs)
        acc = np.zeros(2 + 2 * boot_r, dtype=np.int64)
        for pdf in batches:
            # SQL SUM semantics: NULL amounts contribute nothing --
            # and a NaN smuggled through to_numpy(int64) becomes int64
            # garbage that overflows the merge sum.
            pdf = pdf[pdf["c"].notna()]
            if len(pdf) == 0:
                continue
            c = pdf["c"].to_numpy(np.int64)
            v = np.empty((len(pdf), 16), dtype=np.int64)
            for i, kk in enumerate(pdf["k"]):
                h0 = hl.md5(f"{kk}:0".encode()).hexdigest()
                h1 = hl.md5(f"{kk}:1".encode()).hexdigest()
                for r in range(8):
                    v[i, r] = int(h0[4 * r : 4 * r + 4], 16)
                    v[i, 8 + r] = int(h1[4 * r : 4 * r + 4], 16)
            u = (v.astype(np.float64) + 0.5) / 65536.0
            w = (u[:, :, None] > thr[None, None, :]).sum(
                axis=2, dtype=np.int64
            )
            acc[0] += int(c.sum())
            acc[1] += len(pdf)
            for r in range(boot_r):
                acc[2 + 2 * r] += int((w[:, r] * c).sum())
                acc[3 + 2 * r] += int(w[:, r].sum())
        yield pd.DataFrame({k: [int(x)] for k, x in zip(part_cols, acc)})

    # Repartition before the kernel: the hash pass is CPU-bound and
    # partial sums are order-independent exact ints, so spreading the
    # narrow (k, c) projection (16 bytes/row) across cores costs one
    # tiny shuffle and un-serializes single-file local inputs; at
    # cluster scale the scan is already partitioned and this is a
    # cheap rebalance. The partition count is EXPLICIT: the shuffle
    # is only ~16 bytes/row, so AQE's size-based coalescing would
    # fold it back to one partition and re-serialize the CPU work.
    row = (
        base.select("k", "c")
        .repartition(spark.sparkContext.defaultParallelism, F.col("k"))
        .mapInPandas(
            partials, schema=", ".join(f"{c} long" for c in part_cols)
        )
        .agg(
            *[F.sum(c).alias(c) for c in part_cols]
        )
    )

    # Zero-weight replicates / an empty corpus leave the partial sums
    # at 0: the means go NULL (instead of ANSI /0) and the CI bounds
    # come out NULL -- graceful, matching the "no data, no interval"
    # semantics. Non-empty corpora never hit the guard (Poisson(1)
    # weights sum to ~n per replicate).
    means = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.when(
                    F.col(f"sw{r}") > 0,
                    F.col(f"swc{r}").cast("double")
                    / F.col(f"sw{r}").cast("double"),
                ).alias("m"),
            )
            for r in range(_BOOT_R)
        ]
    )
    m = row.select(
        F.when(
            F.col("n") > 0,
            F.col("sc").cast("double") / F.col("n").cast("double"),
        ).alias("point"),
        F.explode(means).alias("p"),
    ).select("point", F.col("p.r").alias("r"), F.col("p.m").alias("m"))
    # 16-row table; the unpartitioned window is bounded by _BOOT_R.
    rk = m.withColumn("rk", F.row_number().over(Window.orderBy("m", "r")))
    return rk.agg(
        dround(F.max("point"), 4).alias("point_mean_q"),
        dround(F.max(F.when(F.col("rk") == 1, F.col("m"))), 4).alias(
            "ci_lo_q"
        ),
        dround(
            F.max(F.when(F.col("rk") == _BOOT_R // 2, F.col("m"))), 4
        ).alias("ci_mid_q"),
        dround(F.max(F.when(F.col("rk") == _BOOT_R, F.col("m"))), 4).alias(
            "ci_hi_q"
        ),
    )


def _bootstrap_sql() -> str:
    from ..functions import sql_dround

    ladder = " + ".join(
        f"(CASE WHEN uu > {thr} THEN 1 ELSE 0 END)" for thr in _POISSON_CDF
    )
    u_expr = (
        "((CAST('0x' || substr(CASE WHEN r < 8 THEN m0 ELSE m1 END,"
        " 4 * (r % 8) + 1, 4) AS BIGINT) + 0.5) / 65536.0)"
    )
    return f"""
WITH b AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         md5(CAST(o_orderkey AS VARCHAR) || ':0') AS m0,
         md5(CAST(o_orderkey AS VARCHAR) || ':1') AS m1
  FROM orders
), reps AS (
  SELECT unnest(range(0, {_BOOT_R})) AS r
), u AS (
  SELECT k, c, r, {u_expr} AS uu FROM b CROSS JOIN reps
), w AS (
  SELECT r, c, ({ladder}) AS w FROM u
), m AS (
  SELECT r, CAST(sum(w * c) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
  FROM w GROUP BY r
), rk AS (
  SELECT m, row_number() OVER (ORDER BY m, r) AS rk FROM m
), pt AS (
  SELECT CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS point
  FROM b
)
SELECT {sql_dround('max(point)', 4)} AS point_mean_q,
       {sql_dround('max(CASE WHEN rk = 1 THEN m END)', 4)} AS ci_lo_q,
       {sql_dround(f'max(CASE WHEN rk = {_BOOT_R // 2} THEN m END)', 4)}
         AS ci_mid_q,
       {sql_dround(f'max(CASE WHEN rk = {_BOOT_R} THEN m END)', 4)}
         AS ci_hi_q
FROM rk CROSS JOIN pt
"""


AGG_BOOTSTRAP_CI_SQL = _bootstrap_sql()


def table_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the first and
    second half of the event stream (split at the midpoint
    timestamp) -- the binning-free rigor companion to
    table_drift_psi's fixed-bin PSI: D = max |F1(v) - F2(v)| over
    every distinct value, so no bin-edge choice can hide a shift.

    Distribution shape: values quantize to exact cents, the corpus
    collapses to one aggregate per DISTINCT cent value, and the two
    empirical CDFs are cumulative sums over that bounded value-domain
    table (the same domain-not-corpus window discipline as
    ml_auc_eval). Exactness: |F1 - F2| is compared as the integer
    cross product |c1*n2 - c2*n1| -- the argmax cannot float-drift --
    and only the final D ratio is quantized. Ties on D break to the
    smallest value.
    """
    # Midpoint in exact epoch micros: engines disagree on halving a
    # month-scale INTERVAL (day components round differently), but
    # (us0 + us1) DIV 2 is the same integer everywhere.
    ev = t(spark, sf_dir, "events")
    e = ev.withColumn("us", epoch_us(ev, "ts"))
    span = e.agg(
        ((F.min("us") + F.max("us")) / F.lit(2))
        .cast("long")
        .alias("mid_us")
    )
    d = e.crossJoin(F.broadcast(span)).select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        (F.col("us") >= F.col("mid_us")).cast("int").alias("late"),
    )
    g = d.groupBy("v").agg(
        F.sum(F.lit(1) - F.col("late")).alias("c1"),
        F.sum("late").alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = (
        g.withColumn("f1", F.sum("c1").over(w))
        .withColumn("f2", F.sum("c2").over(w))
        .withColumn("n1", F.sum("c1").over(wall))
        .withColumn("n2", F.sum("c2").over(wall))
        .withColumn(
            "dnum",
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")),
        )
    )
    c = c.withColumn("dmax", F.max("dnum").over(wall))
    return (
        c.filter(F.col("dnum") == F.col("dmax"))
        .groupBy("n1", "n2", "dmax")
        .agg(F.min("v").alias("at_v"))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("at_v").cast("long").alias("at_value_cents"),
            F.expr(
                "(dmax * 1000000 + (n1 * n2) DIV 2) DIV (n1 * n2)"
            ).cast("long").alias("ks_q6"),
        )
    )


TABLE_DRIFT_KS_SQL = """
WITH span AS (
  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
          + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid_us
  FROM events
), d AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid_us
              THEN 1 ELSE 0 END AS late
  FROM events CROSS JOIN span
), g AS (
  SELECT v, sum(1 - late) AS c1, sum(late) AS c2
  FROM d GROUP BY v
), c AS (
  SELECT v, c1, c2,
         sum(c1) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
         sum(c2) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2,
         sum(c1) OVER () AS n1,
         sum(c2) OVER () AS n2
  FROM g
), m AS (
  SELECT *, abs(f1 * n2 - f2 * n1) AS dnum,
         max(abs(f1 * n2 - f2 * n1)) OVER () AS dmax
  FROM c
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(min(v) AS BIGINT) AS at_value_cents,
       CAST((dmax * 1000000 + (n1 * n2) // 2) // (n1 * n2) AS BIGINT)
         AS ks_q6
FROM m
WHERE dnum = dmax
GROUP BY n1, n2, dmax
"""


_MARKOV_ROUNDS = 4
_MARKOV_Q = 12  # per-term product quantization scale


def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain -- the
    steady-state answer to event_transitions' one-step probabilities
    ("where does user behavior settle?"). ONE corpus window pass
    builds the bigram count matrix; everything after runs on the
    |event_type|^2 table -- BOUNDED state, so the 4 synchronous power
    rounds pi' = pi P run driver-side on the collected cells with the
    identical arithmetic the oracle replays (same justified-collect
    class as the IPF cells): row-normalized transition probabilities
    (exact-integer ratio, IEEE-identical), every pi(src)*P(src,dst)
    product quantized to a scaled int before the per-destination sum
    -- addition of exact integers commutes, so each round (and the
    fixed point) is bit-stable regardless of engine or order.
    """
    # NULL event types are not states: drop them before the lag so
    # neither side of a transition is NULL (the driver-side state
    # sort cannot order None against str).
    e = t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return _markov_from_bigrams(spark, big)


def _markov_from_bigrams(spark: SparkSession, big: DataFrame) -> DataFrame:
    """Shared readout stage of event_markov_stationary: collect the
    bounded |event_type|^2 bigram cells and run the quantized power
    rounds driver-side. Split out so the chunked twin swaps ONLY the
    lag stage and keeps the arithmetic verbatim."""
    import math

    cnt_rows = (
        big.groupBy("prev", "event_type").agg(F.count("*").alias("c"))
        .collect()  # bounded: |event_type|^2 cells
    )
    rs: dict = {}
    for r in cnt_rows:
        rs[r["prev"]] = rs.get(r["prev"], 0) + r["c"]
    p = [
        (r["prev"], r["event_type"], float(r["c"]) / float(rs[r["prev"]]))
        for r in cnt_rows
    ]
    states = sorted(rs)
    pi = {s: 1.0 / float(len(states)) for s in states}
    m = float(10**_MARKOV_Q)
    for _ in range(_MARKOV_ROUNDS):
        acc: dict = {}
        for src, dst, pr in p:
            if src in pi:
                acc[dst] = acc.get(dst, 0) + int(
                    math.floor(pi[src] * pr * m + 0.5)
                )
        pi = {dst: float(t_) / m for dst, t_ in acc.items()}

    def dr9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    return spark.createDataFrame(
        sorted((s, dr9(v)) for s, v in pi.items()),
        "state: string, pi_q: double",
    )


def event_markov_stationary_chunked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same stationary distribution as `event_markov_stationary`,
    with the per-user lag(event_type) chunk-and-stitched
    (`operators/chunked_window.chunked_lag`, 1-day buckets) — the
    mechanical swap the PLANS.md hot-key table predicted for this
    entry (identical stage shape to `event_transitions_chunked`).
    Value copying only, then the VERBATIM shared quantized power
    rounds (`_markov_from_bigrams`) — shares the plain oracle SQL, so
    the driver's value-hash proves bit-equality at catalog level.
    """
    from ..operators.chunked_window import chunked_lag

    e = t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    big = chunked_lag(
        e.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], "ts", "event_type", out="prev",
        bucket_width_sec=86400.0, tiebreak_cols=["event_id"],
    ).filter(F.col("prev").isNotNull()).select("event_type", "prev")
    return _markov_from_bigrams(spark, big)


def _markov_sql() -> str:
    from ..functions import sql_dround

    m = 10**_MARKOV_Q
    ctes = [
        """big AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type IS NOT NULL
  QUALIFY prev IS NOT NULL)""",
        "cnt AS (SELECT prev, event_type, count(*) AS c"
        " FROM big GROUP BY 1, 2)",
        "rowsum AS (SELECT prev, sum(c) AS rs FROM cnt GROUP BY 1)",
        "p AS (SELECT cnt.prev, cnt.event_type,"
        " CAST(c AS DOUBLE) / CAST(rs AS DOUBLE) AS p"
        " FROM cnt JOIN rowsum USING (prev))",
        "states AS (SELECT DISTINCT prev AS state FROM p)",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM states)",
        "pi0 AS (SELECT state, 1.0 / ns AS pi FROM states CROSS JOIN ns)",
    ]
    prev = "pi0"
    for k in range(_MARKOV_ROUNDS):
        ctes.append(
            f"t{k} AS (SELECT p.event_type AS state,"
            f" CAST(floor({prev}.pi * p.p * {m} + 0.5) AS BIGINT) AS tq"
            f" FROM {prev} JOIN p ON {prev}.state = p.prev)"
        )
        ctes.append(
            f"pi{k + 1} AS (SELECT state,"
            f" CAST(sum(tq) AS DOUBLE) / {m} AS pi"
            f" FROM t{k} GROUP BY 1)"
        )
        prev = f"pi{k + 1}"
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT state, {sql_dround('pi', 9)} AS pi_q FROM {prev}"
    )


EVENT_MARKOV_STATIONARY_SQL = _markov_sql()


def agg_timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-value series at lags 1..7
    -- the seasonality/memory diagnostic (a weekly cycle shows as a
    lag-7 peak). ONE corpus aggregate produces the daily series;
    every moment after runs on that tiny table. Exactness: with n
    days and S the exact cents sum, acf_k works on integer-centered
    deviations (n*x_t - S) so numerator and denominator are exact
    DECIMAL(38,0)/HUGEINT sums -- no float accumulation anywhere; the
    single final ratio is quantized. The 7 lags come from 7 lead()
    columns over one window on the day-span-bounded series table.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    d = daily.crossJoin(F.broadcast(tot))
    # centered deviation scaled by n: exact integers
    d = d.withColumn(
        "dev",
        (F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)"),
    )
    w = Window.orderBy("day")
    leads = [F.lead("dev", k).over(w).alias(f"dev{k}") for k in range(1, 8)]
    d = d.select("day", "dev", "n", *leads)
    aggs = [F.sum(F.col("dev") * F.col("dev")).alias("den")]
    for k in range(1, 8):
        aggs.append(
            F.sum(F.col("dev") * F.col(f"dev{k}")).alias(f"num{k}")
        )
    row = d.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                (
                    F.col(f"num{k}").cast("double")
                    / F.col("den").cast("double")
                ).alias("acf"),
            )
            for k in range(1, 8)
        ]
    )
    return (
        row.select(F.explode(cells).alias("c"))
        .select(
            F.col("c.lag").cast("long").alias("lag"),
            dround(F.col("c.acf"), 6).alias("acf_q6"),
        )
    )


def _acf_sql() -> str:
    from ..functions import sql_dround

    leads = ", ".join(
        f"lead(dev, {k}) OVER (ORDER BY day) AS dev{k}" for k in range(1, 8)
    )
    nums = ", ".join(
        f"sum(dev * dev{k}) AS num{k}" for k in range(1, 8)
    )
    cells = " UNION ALL ".join(
        f"SELECT {k} AS lag,"
        f" CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE) AS acf FROM m"
        for k in range(1, 8)
    )
    return f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events GROUP BY 1
), tot AS (
  SELECT count(*) AS n, sum(x) AS s FROM daily
), d AS (
  SELECT day, CAST(n * x - s AS HUGEINT) AS dev
  FROM daily CROSS JOIN tot
), led AS (
  SELECT day, dev, {leads} FROM d
), m AS (
  SELECT sum(dev * dev) AS den, {nums} FROM led
)
SELECT CAST(lag AS BIGINT) AS lag, {sql_dround('acf', 6)} AS acf_q6
FROM ({cells})
"""


AGG_TIMESERIES_ACF_SQL = _acf_sql()


# RAKE stoplist (fixed literal on both engines). The phrase delimiter
# regex -- punctuation runs or stopword tokens -- is deliberately
# simple enough to behave identically under Java regex and RE2.
_RAKE_STOP = "the|a|of|and|to|in|is|it"
_RAKE_DELIM = f"[^a-z0-9 ]+|\\b(?:{_RAKE_STOP})\\b"


def text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) -- the statistical
    complement to text_textrank's graph ranking: candidate phrases
    are the maximal content-word runs between stopwords/punctuation;
    word score = degree/frequency over all phrase occurrences (degree
    counts co-occurring phrase length); a phrase scores the sum of
    its words' scores. Top 15 phrases corpus-wide.

    Scale shape: ONE corpus scan explodes phrase occurrences; word
    stats are a vocabulary-sized aggregate joined back to the
    DISTINCT phrase types (both sides bounded by vocabulary/phrase
    diversity, not corpus size); top-k via order+limit heaps. All
    frequencies/degrees are exact BIGINTs and the word score is
    integer-quantized, so the ranking cannot float-drift.
    """
    d = t(spark, sf_dir, "documents")
    # Spark SQL string literals process backslash escapes ('\b' would
    # become a backspace char); DuckDB's do not. Double them here.
    delim_spark = _RAKE_DELIM.replace("\\", "\\\\")
    phr_expr = (
        "filter(transform("
        f" split(lower(text), '{delim_spark}'),"
        " p -> array_join(filter(split(p, ' +'), x -> x != ''), ' ')),"
        " p -> p != '')"
    )
    occ = d.select(F.explode(F.expr(phr_expr)).alias("phrase"))
    wocc = occ.select(
        "phrase",
        F.size(F.split("phrase", " ")).cast("long").alias("plen"),
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    wstats = wocc.groupBy("word").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("degree")
    )
    wscore = wstats.withColumn(
        "wq", F.expr("(degree * 1000000 + freq DIV 2) DIV freq")
    )
    ptypes = occ.groupBy("phrase").agg(
        F.count("*").cast("long").alias("occurrences")
    )
    pwords = ptypes.select(
        "phrase", "occurrences", F.explode(F.split("phrase", " ")).alias("word")
    )
    pscore = (
        pwords.join(wscore.select("word", "wq"), "word")
        .groupBy("phrase", "occurrences")
        .agg(F.sum("wq").alias("score_q"), F.count("*").alias("n_words"))
    )
    return (
        pscore.select(
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            "occurrences",
            F.col("score_q").cast("long").alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.asc("phrase"))
        .limit(15)
    )


TEXT_RAKE_SQL = f"""
WITH d AS (
  SELECT list_filter(list_transform(
           string_split_regex(lower(text), '{_RAKE_DELIM}'),
           p -> array_to_string(
                  list_filter(string_split(p, ' '), x -> x != ''), ' ')),
         p -> p != '') AS phr
  FROM documents
), occ AS (
  SELECT unnest(phr) AS phrase FROM d
), wocc AS (
  SELECT phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM occ
), wstats AS (
  SELECT word, count(*) AS freq, sum(plen) AS degree
  FROM wocc GROUP BY 1
), wscore AS (
  SELECT word, (degree * 1000000 + freq // 2) // freq AS wq
  FROM wstats
), ptypes AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS occurrences
  FROM occ GROUP BY 1
), pwords AS (
  SELECT phrase, occurrences, unnest(string_split(phrase, ' ')) AS word
  FROM ptypes
), pscore AS (
  SELECT phrase, occurrences,
         CAST(sum(wq) AS BIGINT) AS score_q,
         CAST(count(*) AS BIGINT) AS n_words
  FROM pwords JOIN wscore USING (word)
  GROUP BY 1, 2
)
SELECT phrase, n_words, occurrences, score_q
FROM pscore
ORDER BY score_q DESC, phrase ASC
LIMIT 15
"""


_IPF_ROUNDS = 3


def agg_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the (lang, source)
    cell weights to UNIFORM target margins -- the survey-statistics
    rebalancing step a curation pipeline uses to de-bias a corpus
    toward chosen language/source shares without dropping rows (cf.
    Deming & Stephan 1940).

    Scale shape: ONE corpus aggregate produces the cell table
    (bounded by |lang| x |source| -- ~25 cells regardless of corpus
    rows); the IPF rounds then run driver-side on the collected
    cells with the identical dround-quantized double arithmetic the
    oracle replays. The corpus is never rescanned, and the rounds
    cost zero Spark jobs (the earlier in-engine loop paid 6 tiny
    join+agg stages of pure scheduler overhead for a 25-row table --
    same justified-collect class as the 64-row moment collect in
    plans/ext.py). Determinism: weights are dround-quantized to 6 dp
    after EVERY half-round scaling, so the fixed point is
    bit-identical cross-engine.
    """
    import math

    # Unlabeled rows (NULL lang/source) have no raking cell; drop
    # them before the bounded collect (the driver-side cell sort
    # cannot order None against str).
    d = t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    rows = (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .collect()  # bounded: |lang| x |source| cells
    )
    cells = sorted((r["lang"], r["source"], r["n"]) for r in rows)
    grand = float(sum(n for _, _, n in cells))
    nl = float(len({lang for lang, _, _ in cells}))
    ns = float(len({src for _, src, _ in cells}))

    def dr6(x: float) -> float:
        return math.floor(x * 1_000_000.0 + 0.5) / 1_000_000.0

    w = {(lang, src): float(n) for lang, src, n in cells}
    for _ in range(_IPF_ROUNDS):
        lt: dict = {}
        for lang, src, _ in cells:
            lt[lang] = lt.get(lang, 0.0) + w[(lang, src)]
        for lang, src, _ in cells:
            w[(lang, src)] = dr6(
                w[(lang, src)] * (grand / nl) / lt[lang]
            )
        st: dict = {}
        for lang, src, _ in cells:
            st[src] = st.get(src, 0.0) + w[(lang, src)]
        for lang, src, _ in cells:
            w[(lang, src)] = dr6(
                w[(lang, src)] * (grand / ns) / st[src]
            )
    return spark.createDataFrame(
        [
            (lang, src, n, w[(lang, src)], dr6(w[(lang, src)] / n))
            for lang, src, n in cells
        ],
        "lang: string, source: string, n: long, "
        "weight_q: double, rake_factor_q: double",
    )


def _ipf_sql() -> str:
    from ..functions import sql_dround

    prev = "c0"
    ctes = [
        "c0 AS (SELECT lang, source, count(*) AS n,"
        " CAST(count(*) AS DOUBLE) AS w FROM documents"
        " WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2)",
        "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS grand,"
        " CAST(count(DISTINCT lang) AS DOUBLE) AS nl,"
        " CAST(count(DISTINCT source) AS DOUBLE) AS ns FROM c0)",
    ]
    for k in range(_IPF_ROUNDS):
        w_l = sql_dround(f"{prev}.w * (tot.grand / tot.nl) / lt{k}.lt", 6)
        ctes.append(
            f"lt{k} AS (SELECT lang, sum(w) AS lt FROM {prev} GROUP BY 1)"
        )
        ctes.append(
            f"a{k} AS (SELECT {prev}.lang, {prev}.source, {prev}.n,"
            f" {w_l} AS w FROM {prev} JOIN lt{k} USING (lang)"
            " CROSS JOIN tot)"
        )
        w_s = sql_dround(f"a{k}.w * (tot.grand / tot.ns) / st{k}.st", 6)
        ctes.append(
            f"st{k} AS (SELECT source, sum(w) AS st FROM a{k} GROUP BY 1)"
        )
        ctes.append(
            f"b{k} AS (SELECT a{k}.lang, a{k}.source, a{k}.n,"
            f" {w_s} AS w FROM a{k} JOIN st{k} USING (source)"
            " CROSS JOIN tot)"
        )
        prev = f"b{k}"
    final_rf = sql_dround("w / n", 6)
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT lang, source, CAST(n AS BIGINT) AS n, w AS weight_q,"
        f" {final_rf} AS rake_factor_q FROM {prev}"
    )


AGG_IPF_RAKING_SQL = _ipf_sql()


SPECS: list[QuerySpec] = [
    QuerySpec("text_textrank", text_textrank, TEXT_TEXTRANK_SQL),
    QuerySpec("table_drift_ks", table_drift_ks, TABLE_DRIFT_KS_SQL,
              "two-sample Kolmogorov-Smirnov drift test: per-distinct"
              "-value aggregate, CDFs over the bounded value domain, "
              "integer cross-product argmax"),
    QuerySpec("event_markov_stationary", event_markov_stationary,
              EVENT_MARKOV_STATIONARY_SQL,
              "steady-state of the event-type Markov chain: one "
              "corpus pass, 4 quantized power rounds on the "
              "|states|^2 table, oracle replays all rounds"),
    QuerySpec("event_markov_stationary_chunked",
              event_markov_stationary_chunked,
              EVENT_MARKOV_STATIONARY_SQL,
              "hot-key-proof Markov steady state: per-user lag via "
              "chunked_lag, then the verbatim quantized power rounds "
              "(bit-equal to the plain entry)"),
    QuerySpec("agg_timeseries_acf", agg_timeseries_acf,
              AGG_TIMESERIES_ACF_SQL,
              "daily-series autocorrelation lags 1..7: exact "
              "integer-centered deviations, DECIMAL/HUGEINT "
              "moments, one tiny-series window"),
    QuerySpec("text_rake", text_rake, TEXT_RAKE_SQL,
              "RAKE keyword extraction: stopword-delimited phrase "
              "runs, exact degree/frequency word scores, "
              "vocabulary-bounded joins, top-k heaps"),
    QuerySpec("agg_ipf_raking", agg_ipf_raking, AGG_IPF_RAKING_SQL,
              "IPF/raking to uniform (lang, source) margins: one "
              "corpus agg, per-round margin scaling on the tiny cell "
              "table, per-half-round quantization"),
    QuerySpec("ml_naive_bayes", ml_naive_bayes, ML_NAIVE_BAYES_SQL),
    QuerySpec("ml_logreg_train", ml_logreg_train, ML_LOGREG_TRAIN_SQL),
    QuerySpec("ml_pca_power", ml_pca_power, ML_PCA_POWER_SQL),
    QuerySpec("ml_adaboost_stumps", ml_adaboost_stumps,
              ML_ADABOOST_STUMPS_SQL),
    QuerySpec("ml_naive_bayes_holdout", ml_naive_bayes_holdout,
              ML_NAIVE_BAYES_HOLDOUT_SQL),
    QuerySpec("table_dp_counts", table_dp_counts, TABLE_DP_COUNTS_SQL),
    QuerySpec("event_changepoint", event_changepoint,
              EVENT_CHANGEPOINT_SQL),
    QuerySpec("ml_tree_stump", ml_tree_stump, ML_TREE_STUMP_SQL),
    QuerySpec("event_attribution_ushape", event_attribution_ushape,
              EVENT_ATTRIBUTION_USHAPE_SQL),
    QuerySpec("event_bot_signals", event_bot_signals,
              EVENT_BOT_SIGNALS_SQL),
    QuerySpec("event_bot_signals_chunked", event_bot_signals_chunked,
              EVENT_BOT_SIGNALS_SQL,
              "hot-key-proof bot detection: the bot IS the hot key -- "
              "per-user lag via chunked_lag boundary carry, then the "
              "verbatim shared readout (bit-equal to the plain entry)"),
    QuerySpec("table_k_anonymity", table_k_anonymity,
              TABLE_K_ANONYMITY_SQL),
    QuerySpec("agg_benford", agg_benford, AGG_BENFORD_SQL),
    QuerySpec("text_readability", text_readability, TEXT_READABILITY_SQL),
    QuerySpec("agg_gini_segment", agg_gini_segment, AGG_GINI_SEGMENT_SQL),
    QuerySpec("event_forecast_linear", event_forecast_linear,
              EVENT_FORECAST_LINEAR_SQL),
    QuerySpec("table_drift_psi", table_drift_psi, TABLE_DRIFT_PSI_SQL),
    QuerySpec("ml_rfm_segments", ml_rfm_segments, ML_RFM_SEGMENTS_SQL),
    QuerySpec("agg_entropy_categorical", agg_entropy_categorical,
              AGG_ENTROPY_CATEGORICAL_SQL),
    QuerySpec("ml_cluster_purity", ml_cluster_purity,
              ML_CLUSTER_PURITY_SQL),
    QuerySpec("event_seasonality", event_seasonality,
              EVENT_SEASONALITY_SQL),
    QuerySpec("event_concurrency", event_concurrency,
              EVENT_CONCURRENCY_SQL,
              "per-day distributed sweep-line peak concurrency: "
              "holds clipped at midnight so the running sum "
              "partitions by day, no global sort"),
    QuerySpec("event_concurrency_chunked", event_concurrency_chunked,
              EVENT_CONCURRENCY_SQL,
              "unbounded-day-key-proof sweep-line: running sum via "
              "chunked_cumsum with hour buckets inside the day key "
              "(value-equal to the plain entry)"),
    QuerySpec("agg_contingency_chi2", agg_contingency_chi2,
              AGG_CONTINGENCY_CHI2_SQL,
              "lang x source independence audit: one corpus agg, "
              "broadcast marginals, quantized per-cell chi-square "
              "terms"),
    QuerySpec("agg_bootstrap_ci", agg_bootstrap_ci,
              AGG_BOOTSTRAP_CI_SQL,
              "Poisson-bootstrap CI: 16 replicates as 33 aggregate "
              "expressions over one scan, content-stable weights; "
              "oracle runs the naive 16x fan-out"),
]
