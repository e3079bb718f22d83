"""Training-data curation catalog, session 3: weighted / mixture
sampling, entropy quality signals, hashed linear quality scoring,
SCD2 state history, and incremental rollup maintenance.

Cross-engine determinism follows the catalog conventions
(functions/numeric.py): content-stable uniforms come from
``md5_unit`` (exact integer fold of an md5 prefix), transcendental
outputs are quantized with ``dround``/scaled-BIGINT sums, and every
LIMIT has a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dround, dsum, md5_unit, sql_dround, sql_dsum
from ..functions.epoch import epoch_us
from ..functions.numeric import sint, sql_md5_unit
from ..operators.pairs import bucket_pairs
from .base import QuerySpec, t

# --------------------------------------------------------------------------
# Weighted sampling (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sample without replacement, k=25, weight =
    n_chars (longer docs proportionally likelier -- the standard
    size-biased pick for training-data curation).

    Efraimidis & Spirakis (2006) A-ES keys: key_i = -ln(u_i) / w_i is
    Exp(w_i); the k smallest keys are a weighted sample without
    replacement. u_i is the content-stable ``md5_unit`` uniform, so
    membership is reproducible under any partitioning/cluster size.
    Keys are quantized to 1e-9 (scaled-BIGINT, the catalog's standard
    for transcendental outputs) with doc_id as total-order tiebreak.

    Scale: narrow per-row key computation + TakeOrderedAndProject
    top-k -- per-partition heaps, only k rows per partition reach the
    driver-side merge; the corpus itself never shuffles.
    """
    d = t(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    key = -F.log(md5_unit("doc_id")) / w
    keyq = F.floor(key * F.lit(1.0e9) + F.lit(0.5)).cast("long")
    return (
        d.select("doc_id", "lang", "source", "n_chars",
                 keyq.alias("keyq"))
        .orderBy(F.asc("keyq"), F.asc("doc_id"))
        .limit(25)
    )


SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id, lang, source, n_chars,
       CAST(floor(-ln({sql_md5_unit('doc_id')})
                  / greatest(CAST(n_chars AS DOUBLE), 1.0)
                  * 1000000000.0 + 0.5) AS BIGINT) AS keyq
FROM documents
ORDER BY keyq ASC, doc_id ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# Domain-mixture resampling (Pile/Dolma-style source rebalancing)
# --------------------------------------------------------------------------

_MIX_TARGETS = {0: 0.5, 1: 0.3, 2: 0.2}  # domain -> target corpus share


def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance a multi-source corpus toward declared domain target
    shares (the Pile/Dolma mixture step): acceptance rate per domain
    = min(1, target * N_total / n_domain), membership decided by the
    content-stable uniform u(doc_id) < rate.

    Scale shape: the rate table is ONE row per domain (two tiny
    aggregates joined driver-free and broadcast back); the corpus
    takes a single narrow pass with a broadcast hash join -- no
    per-row window over the full corpus, no global shuffle. The final
    per-domain report is one map-side-combinable aggregate.
    """
    d = t(spark, sf_dir, "documents").withColumn(
        "domain",
        F.regexp_extract("source", "(\\d+)", 1).cast("int") % 3,
    )
    counts = d.groupBy("domain").agg(F.count("*").alias("n_domain"))
    total = d.agg(F.count("*").alias("n_total"))
    target = (
        F.when(F.col("domain") == 0, F.lit(_MIX_TARGETS[0]))
        .when(F.col("domain") == 1, F.lit(_MIX_TARGETS[1]))
        .otherwise(F.lit(_MIX_TARGETS[2]))
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_domain",
        F.least(
            F.lit(1.0),
            target * F.col("n_total") / F.col("n_domain"),
        ).alias("rate"),
    )
    kept = (
        d.join(F.broadcast(rates), "domain")
        .withColumn("keep", md5_unit("doc_id") < F.col("rate"))
    )
    return kept.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("doc_id"))).alias("id_checksum"),
        dround(
            F.count(F.when(F.col("keep"), 1)) / F.count("*"), 6
        ).alias("achieved_rate"),
    )


SAMPLE_MIXTURE_SQL = f"""
WITH d AS (
  SELECT *, CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3 AS domain
  FROM documents
), counts AS (
  SELECT domain, count(*) AS n_domain FROM d GROUP BY domain
), total AS (
  SELECT count(*) AS n_total FROM d
), rates AS (
  SELECT domain, n_domain,
         least(1.0,
               (CASE WHEN domain = 0 THEN {_MIX_TARGETS[0]!r}
                     WHEN domain = 1 THEN {_MIX_TARGETS[1]!r}
                     ELSE {_MIX_TARGETS[2]!r} END)
               * n_total / n_domain) AS rate
  FROM counts, total
), kept AS (
  SELECT d.domain, d.doc_id, {sql_md5_unit('d.doc_id')} < r.rate AS keep
  FROM d JOIN rates r ON d.domain = r.domain
)
SELECT domain,
       count(*) AS n_docs,
       count(CASE WHEN keep THEN 1 END) AS n_kept,
       CAST(sum(CASE WHEN keep THEN doc_id END) AS BIGINT) AS id_checksum,
       {sql_dround(
           'count(CASE WHEN keep THEN 1 END) / CAST(count(*) AS DOUBLE)',
           6)} AS achieved_rate
FROM kept GROUP BY domain
"""


# --------------------------------------------------------------------------
# Character-entropy quality signal (shuffle-free)
# --------------------------------------------------------------------------

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution stats: Shannon entropy (bits)
    over the a-z+space alphabet, distinct-char count, and
    out-of-alphabet char count -- low entropy flags boilerplate /
    repeated-char junk, high other_chars flags binary/markup bleed.

    Scale shape: per-char counts come from the replace-count identity
    len(s) - len(replace(s, c, '')) over the 27-literal alphabet --
    pure JVM string ops in one narrow Project, NO explode, NO
    shuffle. The entropy sum is a fixed left-assoc expression chain,
    so float evaluation order is identical cross-engine; the output
    is dround-quantized.
    """
    d = t(spark, sf_dir, "documents")
    n = F.length("text").cast("double")
    cnts = [
        (F.length("text")
         - F.length(F.expr(f"replace(text, '{c}', '')"))).cast("double")
        for c in _ALPHABET
    ]
    p_terms = []
    for c_cnt in cnts:
        p = c_cnt / n
        p_terms.append(
            F.when(c_cnt > 0, -(p * F.log2(p))).otherwise(F.lit(0.0))
        )
    entropy = p_terms[0]
    for term in p_terms[1:]:
        entropy = entropy + term
    distinct_chars = sum(
        (cnt > 0).cast("long") for cnt in cnts
    )
    in_alpha = cnts[0]
    for cnt in cnts[1:]:
        in_alpha = in_alpha + cnt
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        dround(entropy, 6).alias("entropy_bits"),
        distinct_chars.alias("distinct_alpha_chars"),
        (F.length("text") - in_alpha).cast("long").alias("other_chars"),
    )


def _entropy_oracle_sql() -> str:
    cnt = {
        c: f"(length(text) - length(replace(text, '{c}', '')))"
        for c in _ALPHABET
    }
    n = "CAST(length(text) AS DOUBLE)"
    terms = " + ".join(
        f"(CASE WHEN {cnt[c]} > 0 THEN -(({cnt[c]} / {n})"
        f" * log2({cnt[c]} / {n})) ELSE 0.0 END)"
        for c in _ALPHABET
    )
    distinct = " + ".join(
        f"(CASE WHEN {cnt[c]} > 0 THEN 1 ELSE 0 END)" for c in _ALPHABET
    )
    in_alpha = " + ".join(cnt[c] for c in _ALPHABET)
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       {sql_dround(terms, 6)} AS entropy_bits,
       CAST({distinct} AS BIGINT) AS distinct_alpha_chars,
       CAST(length(text) - ({in_alpha}) AS BIGINT) AS other_chars
FROM documents
"""


TEXT_ENTROPY_SQL = _entropy_oracle_sql()


# --------------------------------------------------------------------------
# Hashed bag-of-words linear quality classifier (fastText-style)
# --------------------------------------------------------------------------

_LINEAR_BUCKETS = 64


def _linear_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared hashed-BoW linear scorer: (doc_id, lang, n_tokens,
    raw_score) per document. See ml_linear_score for the model and
    plan shape; lang rides along as a group key (free -- doc_id is
    already unique) so downstream entries can evaluate against it."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower("text")), "\\s+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    ).withColumn(
        "bucket",
        F.floor(md5_unit("tok") * _LINEAR_BUCKETS).cast("int"),
    )
    weights = spark.range(_LINEAR_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (F.col("id") % 7 - 3).cast("long").alias("w"),
    )
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w").alias("raw_score"),
        )
    )


def ml_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with a hashed bag-of-words linear model
    (the fastText-style quality-classifier shape used for pretraining
    corpus filtering): token -> stable hash bucket -> broadcast
    weight-table lookup -> exact integer weight sum -> sigmoid of the
    mean weight.

    The 64-row weight table stands in for trained weights (derived
    here as (bucket % 7) - 3 so the oracle can rebuild it); a real
    model swaps the table, the plan is unchanged. Scale shape: token
    explode is the one wide-ish step but feeds a broadcast hash join
    (weights ~KB) and a map-side-combinable per-doc sum -- the only
    shuffle carries (doc_id, partial sums). Integer weight sums are
    order-independent; only the final sigmoid is quantized.
    """
    scored = _linear_scored(spark, sf_dir)
    logit = F.col("raw_score").cast("double") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("raw_score").cast("long").alias("raw_score"),
        dround(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "quality_prob"
        ),
    )


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) readout for the linear classifier:
    decile-bin the predicted probability and compare the bin's mean
    prediction against the empirical rate of the evaluation label
    (lang = 'en') -- the standard eval before trusting a quality
    score as a sampling weight at corpus scale.

    Determinism: the sigmoid is quantized ONCE to a scaled BIGINT
    (prob_q6); the bin id is integer division of prob_q6, and every
    per-bin statistic (mean prediction, positive rate, |gap|) is
    derived from exact integer sums -- no float aggregation anywhere,
    so results are partition-layout-independent. Scale shape: the
    scorer's one shuffle plus a 10-row aggregate.
    """
    scored = _linear_scored(spark, sf_dir)
    logit = F.col("raw_score").cast("double") / F.col("n_tokens")
    prob_q6 = sint(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    binned = scored.select(
        prob_q6.alias("prob_q6"),
        (F.col("lang") == "en").cast("long").alias("is_en"),
    ).select(
        F.least(F.expr("prob_q6 div 100000"), F.lit(9)).alias("bin"),
        "prob_q6",
        "is_en",
    )
    g = binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_en").alias("n_pos"),
        F.sum("prob_q6").alias("sum_prob_q6"),
    )
    pos_q6 = F.floor(
        F.col("n_pos") * F.lit(1_000_000.0) / F.col("n_docs") + F.lit(0.5)
    ).cast("long")
    mean_q6 = F.floor(
        F.col("sum_prob_q6") / F.col("n_docs") + F.lit(0.5)
    ).cast("long")
    return g.select(
        "bin",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        pos_q6.alias("pos_rate_q6"),
        mean_q6.alias("mean_pred_q6"),
        F.abs(pos_q6 - mean_q6).alias("calibration_gap_q6"),
    )


_CURATION_CLEAN_TOKS_SQL = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
    " tk -> tk != '')"
)

ML_LINEAR_SCORE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_CURATION_CLEAN_TOKS_SQL}) AS tok FROM documents
), b AS (
  SELECT doc_id,
         CAST(floor({sql_md5_unit('tok')} * {_LINEAR_BUCKETS}) AS INT)
           AS bucket
  FROM toks
), w AS (
  SELECT CAST(i AS INT) AS bucket, CAST(i % 7 - 3 AS BIGINT) AS w
  FROM range({_LINEAR_BUCKETS}) r(i)
), scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(w.w) AS raw_score
  FROM b JOIN w ON b.bucket = w.bucket
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(raw_score AS BIGINT) AS raw_score,
       {sql_dround(
           '1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE) / n_tokens)))',
           6)} AS quality_prob
FROM scored
"""


ML_CALIBRATION_BINS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_CURATION_CLEAN_TOKS_SQL}) AS tok
  FROM documents
), b AS (
  SELECT doc_id, lang,
         CAST(floor({sql_md5_unit('tok')} * {_LINEAR_BUCKETS}) AS INT)
           AS bucket
  FROM toks
), w AS (
  SELECT CAST(i AS INT) AS bucket, CAST(i % 7 - 3 AS BIGINT) AS w
  FROM range({_LINEAR_BUCKETS}) r(i)
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens, sum(w.w) AS raw_score
  FROM b JOIN w ON b.bucket = w.bucket
  GROUP BY doc_id, lang
), q AS (
  SELECT CAST(floor(
           1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE) / n_tokens)))
           * 1000000 + 0.5) AS BIGINT) AS prob_q6,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM scored
), g AS (
  SELECT least(prob_q6 // 100000, 9) AS bin,
         count(*) AS n_docs,
         sum(is_en) AS n_pos,
         sum(prob_q6) AS sum_prob_q6
  FROM q GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(floor(n_pos * 1000000.0 / n_docs + 0.5) AS BIGINT)
         AS pos_rate_q6,
       CAST(floor(sum_prob_q6 / n_docs + 0.5) AS BIGINT) AS mean_pred_q6,
       abs(CAST(floor(n_pos * 1000000.0 / n_docs + 0.5) AS BIGINT)
           - CAST(floor(sum_prob_q6 / n_docs + 0.5) AS BIGINT))
         AS calibration_gap_q6
FROM g
"""


# --------------------------------------------------------------------------
# SCD2 state history from an event log
# --------------------------------------------------------------------------


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse the
    event log into per-user state-validity intervals -- each row is a
    (user, state, valid_from, valid_to) span, open-ended for the
    current state. The warehouse-standard change-data-capture fold.

    Scale shape: ONE shuffle on user_id; both windows (change
    detection via lag, interval close via lead) share the same
    (partition, order) spec so Catalyst plans a single Sort+Window
    chain. No self-join against the log, no global sort; output is
    proportional to state *changes*, not events.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), fmt).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


def scd2_user_state_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same SCD2 history build as `scd2_user_state`, with BOTH
    ordered stages chunk-and-stitched (`chunked_lag`, 1-day buckets):
    change detection is lag(event_type) in the plain ascending order,
    and the interval close lead(ts) is chunked_lag under REVERSED
    sort keys over the (already change-collapsed, so much smaller)
    state rows. SCALE_CHECK.md round 7 measured the plain entry
    paying 1.89x on an 80%-hot key even behind its change-collapse;
    this twin bounds every task by one (user, day) bucket at both
    stages. Value copying only, shared oracle SQL — the driver's
    value-hash proves bit-equality at catalog level. Opt-in; costs
    the documented summary-branch re-derivation twice (once per
    stage, the second over collapsed rows only).
    """
    from ..operators.chunked_window import chunked_lag

    e = t(spark, sf_dir, "events")
    changes = (
        chunked_lag(
            e.select("user_id", "ts", "event_id", "event_type"),
            ["user_id"], "ts", "event_type", out="prev_type",
            bucket_width_sec=86400.0, tiebreak_cols=["event_id"],
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .withColumn("__rev_ts", F.timestamp_micros(-epoch_us(e, "ts")))
        .withColumn("__rev_id", -F.col("event_id"))
    )
    closed = chunked_lag(
        changes, ["user_id"], "__rev_ts", "ts", out="next_ts",
        bucket_width_sec=86400.0, tiebreak_cols=["__rev_id"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return closed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format("next_ts", fmt).alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


SCD2_USER_STATE_SQL = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  QUALIFY prev_type IS NULL OR event_type != prev_type
)
SELECT user_id,
       event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) IS NULL AS is_current
FROM changes
"""


# --------------------------------------------------------------------------
# Incremental rollup maintenance (mergeable partial aggregates)
# --------------------------------------------------------------------------


def event_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance: the event log arrives as two
    shards (here: event_id parity, standing in for 'yesterday's
    rollup' + 'today's late batch'); each shard folds to per-hour
    partial aggregates (count + scaled-integer sum -- both algebraic/
    mergeable), and the partials merge into the exact final rollup.
    The oracle computes the rollup directly from the raw log,
    verifying merge(partials) == recompute -- the invariant that lets
    a 100 TB hypertable maintain continuous aggregates by folding
    only new data into stored partials instead of rescanning history.
    """
    e = t(spark, sf_dir, "events")
    hour = F.date_format(
        F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00"
    ).alias("hour")
    shard = (F.col("event_id") % 2).alias("shard")
    partials = e.groupBy(hour, shard).agg(
        F.count("*").alias("pn"),
        F.sum(
            F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5)).cast("long")
        ).alias("psum"),
    )
    return (
        partials.groupBy("hour")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            (F.sum("psum").cast("double") / F.lit(10000.0)).alias(
                "total_value"
            ),
        )
    )


EVENT_ROLLUP_INCREMENTAL_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*) AS n_events,
       {sql_dsum('value', 4)} AS total_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Exact shingle-containment dedup (one-sided near-dup)
# --------------------------------------------------------------------------


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset/quote detection the Jaccard entries miss: Broder's
    containment C(A in B) = |A∩B| / |A| flags a short doc pasted into
    a long one (Jaccard ~0 because the union is dominated by the long
    doc). Pairs where either direction >= 0.5; hot-shingle df cap 100
    is declared semantics mirrored by the oracle, bounding posting-
    list fan-out exactly like dedup_ngram_jaccard.
    """
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"), n=3, threshold=0.5,
        max_shingle_df=100,
    )


DEDUP_CONTAINMENT_SQL = """
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
       i / CAST(sa.n_sh AS DOUBLE) AS containment_a_in_b,
       i / CAST(sb.n_sh AS DOUBLE) AS containment_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / CAST(sa.n_sh AS DOUBLE) >= 0.5
   OR i / CAST(sb.n_sh AS DOUBLE) >= 0.5
"""


# --------------------------------------------------------------------------
# Exact maximum-inner-product search (MIPS)
# --------------------------------------------------------------------------


def similarity_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by inner product (the retrieval scoring used when
    embedding norms carry signal -- recommendation / learned-sparse
    models -- where cosine's normalization is wrong). Same scale
    shape as similarity_topk_cosine: queries broadcast, the corpus
    never shuffles, per-partition top-k survives to the rank window.
    The ANN-scale path is the standard norm-augmentation reduction
    (Bachrach et al. 2014): append sqrt(M^2 - |x|^2) to corpus
    vectors and 0 to queries, turning MIPS into cosine so the LSH /
    IVF entries apply unchanged.
    """
    from ..operators import similarity as S

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S.as_double("embedding").alias("q_vec"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        S.as_double("embedding").alias("c_vec"),
    )
    sim = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        S.dot(F.col("q_vec"), F.col("c_vec")).alias("ip"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            dround("ip", 4).alias("inner_product"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


SIMILARITY_MIPS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
sims AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_inner_product(qv, e.v) AS ip
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, {sql_dround('ip', 4)} AS inner_product,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY ip DESC, neighbor_id ASC) AS rnk
      FROM sims)
WHERE rnk <= 10
"""


# --------------------------------------------------------------------------
# Per-user EWMA smoothing (frame + higher-order fold)
# --------------------------------------------------------------------------

_EWMA_DECAY = 0.8
_EWMA_SPAN = 10


def _ewma_fold(framed: DataFrame) -> DataFrame:
    """Fold a ``__l`` frame-list column into the EWMA projection.
    Shared VERBATIM by the plain and chunked entries: identical input
    lists through identical expressions guarantee bit-equal output,
    so the chunked entry's driver hash (same oracle SQL) proves the
    chunk-and-stitch frame primitive at catalog level."""
    d = float(_EWMA_DECAY)
    out = (
        framed.withColumn(
            "__s",
            F.aggregate(
                F.slice(F.col("__l"), 2, F.size("__l")),
                F.element_at(F.col("__l"), 1),
                lambda acc, x: acc * F.lit(d) + x,
            ),
        )
        .withColumn(
            "__w",
            F.aggregate(
                F.slice(F.col("__l"), 2, F.size("__l")),
                F.lit(1.0),
                lambda acc, x: acc * F.lit(d) + F.lit(1.0),
            ),
        )
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        dround(F.col("__s") / F.col("__w"), 6).alias("ewma"),
    )


def event_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's metric
    over their last 10 events -- the streaming-feature smoothing used
    for rate/engagement signals. The windowed value list folds
    JVM-side with a single higher-order ``aggregate`` (s <- s*d + x,
    which telescopes to sum(d^(n-j) x_j)); the normalizer runs the
    SAME fold over a ones-list instead of a closed-form power so both
    engines execute identical float operations in identical order.

    Scale: ONE shuffle on user_id; the bounded ROWS frame keeps state
    at 10 doubles per row regardless of history length.
    """
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-( _EWMA_SPAN - 1), 0)
    )
    return _ewma_fold(e.withColumn("__l", F.collect_list(F.col("value")).over(w)))


def event_ewma_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user EWMA as `event_ewma`, with the 10-row frame
    list assembled by the chunk-and-stitch bounded-frame operator
    (`operators/chunked_window.chunked_frame_list`): each user's
    timeline splits into 1-day buckets, the frame list is local from
    each bucket's 10th row onward, and the opening rows prepend the
    trailing rows of prior buckets carried through the
    one-row-per-bucket summary (struct-wrapped so NULL observations
    keep their positional frame slot). Value copying only, then the
    VERBATIM shared fold -- output and oracle are IDENTICAL to the
    plain entry, so the driver's value-hash proves the bounded-frame
    chunked class bit-equal to the single-task window at catalog
    level. Opt-in plan shape for a pathologically hot key (bot /
    null user) whose event count exceeds what one task should sort;
    costs the documented summary-branch re-derivation
    (chunked_window.py cost model).
    """
    from ..operators.chunked_window import chunked_frame_list

    e = t(spark, sf_dir, "events")
    framed = chunked_frame_list(
        e, ["user_id"], "ts", "value", out="__l",
        frame_rows=_EWMA_SPAN, bucket_width_sec=86400.0,
        tiebreak_cols=["event_id"],
    )
    return _ewma_fold(framed)


EVENT_EWMA_SQL = f"""
WITH framed AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING
                           AND CURRENT ROW) AS l
  FROM events
), folded AS (
  SELECT event_id, user_id, value,
         CASE WHEN len(l) = 1 THEN l[1]
              ELSE list_reduce(l, (acc, x) ->
                     acc * CAST({_EWMA_DECAY!r} AS DOUBLE) + x)
         END AS s,
         CASE WHEN len(l) = 1 THEN 1.0
              ELSE list_reduce(list_transform(l, x -> CAST(1.0 AS DOUBLE)),
                     (acc, x) -> acc * CAST({_EWMA_DECAY!r} AS DOUBLE) + x)
         END AS w
  FROM framed
)
SELECT event_id, user_id, value,
       {sql_dround('s / w', 6)} AS ewma
FROM folded
"""


# --------------------------------------------------------------------------
# URL normalization + host rollup (web-corpus provenance)
# --------------------------------------------------------------------------


def scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus provenance pipeline: canonical source URLs are
    parsed (host / path / query param), normalized (lowercase, strip
    www., drop tracking params, registrable domain = last two
    labels), and rolled up per registrable domain -- the
    crawl-side bookkeeping every web-scale corpus needs before
    per-domain mixing/filtering. All regex work is JVM-side (Java
    regex here, RE2 in the oracle -- patterns kept in the common
    subset); one narrow pass then one map-side-combinable rollup.
    """
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.org/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
    )
    u = d.select("doc_id", "lang", url.alias("url"))
    host = F.lower(F.regexp_extract("url", "^https?://([^/?#]+)", 1))
    host_norm = F.regexp_replace(host, "^www\\.", "")
    domain = F.regexp_extract(host_norm, "([^.]+\\.[^.]+)$", 1)
    path = F.regexp_extract("url", "^https?://[^/?#]+([^?#]*)", 1)
    depth = (F.size(F.split(path, "/")) - 1).cast("long")
    id_param = F.regexp_extract("url", "[?&]id=([^&]*)", 1).cast("long")
    parsed = u.select(
        "doc_id", "lang",
        host_norm.alias("host"),
        domain.alias("domain"),
        depth.alias("path_depth"),
        id_param.alias("id_param"),
    )
    return parsed.groupBy("host", "domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("lang").alias("n_langs"),
        F.max("path_depth").alias("max_depth"),
        F.sum(
            (F.col("id_param") == F.col("doc_id")).cast("long")
        ).alias("id_roundtrip_ok"),
    )


SCALAR_URL_SQL = """
WITH u AS (
  SELECT doc_id, lang,
         'https://WWW.' || source || '.Example.org/' || lang || '/doc/'
           || CAST(doc_id AS VARCHAR) || '?utm_source=feed&id='
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), parsed AS (
  SELECT doc_id, lang,
         regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_extract(
           regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
                          '^www\\.', ''),
           '([^.]+\\.[^.]+)$', 1) AS domain,
         CAST(len(string_split(
           regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/')) - 1
           AS BIGINT) AS path_depth,
         CAST(regexp_extract(url, '[?&]id=([^&]*)', 1) AS BIGINT) AS id_param
  FROM u
)
SELECT host, domain,
       count(*) AS n_urls,
       count(DISTINCT lang) AS n_langs,
       max(path_depth) AS max_depth,
       CAST(sum(CASE WHEN id_param = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS id_roundtrip_ok
FROM parsed GROUP BY host, domain
"""


# --------------------------------------------------------------------------
# Count-min sketch (portable, mergeable heavy-hitter counting)
# --------------------------------------------------------------------------

_CMS_DEPTH = 4


def _cms_bucket(h, j: int):
    """Row j's CMS bucket from an already-computed md5 digest column:
    hex digits [2j, 2j+1] parsed as one byte (0..255) by a single
    conv() builtin. One digest serves all four rows -- 4x cheaper
    than re-hashing a salted key per depth, and the slices are as
    independent as salted hashes for bucketing purposes. Exact
    integer result, replayed verbatim by the oracle (which keeps the
    equivalent explicit instr digit math)."""
    return F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("int")


def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over lineitem
    part keys, probed for 5 fixed keys against their exact counts.
    Output per probe: exact count, CMS estimate (min over depth-4
    rows), and the CMS guarantee estimate >= exact as an
    oracle-predicted boolean.

    Scale shape: the sketch is a 4x256 counter table built by ONE
    map-side-combinable aggregation (the depth-wise explode fans each
    row to 4 cells, and partial aggregation collapses every partition
    to <=1024 cells before the shuffle) -- constant state per
    partition at any corpus size, and counter tables from disjoint
    shards ADD, so the sketch is mergeable for incremental
    maintenance exactly like event_rollup_incremental's partials.
    """
    li = t(spark, sf_dir, "lineitem")
    # Pre-aggregate by key BEFORE hashing (r11, guide §2.3 "aggregate
    # before you shuffle" applied to CPU): CMS cells are additive, so
    # md5 + the 4-way depth explode need only run once per DISTINCT
    # part key (bounded by the part table) instead of once per
    # lineitem row, with the per-key counts carried as weights. The
    # key pre-count is itself map-side combinable; every cell count
    # comes out identical.
    key_counts = li.groupBy("l_partkey").agg(F.count("*").alias("kc"))
    cells = key_counts.select(
        F.md5(F.col("l_partkey").cast("string")).alias("h"), "kc"
    ).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _cms_bucket(F.col("h"), j).alias("bucket"),
                )
                for j in range(_CMS_DEPTH)
            ])
        ).alias("c"),
        "kc",
    ).groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket")).agg(
        F.sum("kc").alias("cnt")
    )
    probes = spark.range(1, 6).select(F.col("id").alias("probe_key"))
    probe_cells = probes.select(
        "probe_key", F.md5(F.col("probe_key").cast("string")).alias("h")
    ).select(
        "probe_key",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _cms_bucket(F.col("h"), j).alias("bucket"),
                )
                for j in range(_CMS_DEPTH)
            ])
        ).alias("c"),
    ).select("probe_key", "c.j", "c.bucket")
    est = (
        probe_cells.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy("probe_key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        li.filter(F.col("l_partkey").between(1, 5))
        .groupBy(F.col("l_partkey").alias("probe_key"))
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        est.join(exact, "probe_key", "left")
        .select(
            "probe_key",
            F.coalesce("exact_count", F.lit(0)).cast("long")
            .alias("exact_count"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate")
             >= F.coalesce("exact_count", F.lit(0))).alias("never_under"),
        )
    )


_HQ_BINS = 64
_HQ_WIDTH = 1750.0  # l_extendedprice spans ~[900, 105000]; 64*1750 covers
_HQ_PROBES = (50, 90, 95, 99)


def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch with quantile probes:
    the bounded-state companion to exact percentiles
    (agg_percentiles) and the count-min sketch (agg_count_min). For
    each probe quantile q, report the bin whose cumulative count
    first reaches ceil(q*n/100) -- the estimate is the bin's [lo, hi)
    edge pair, so the error bound IS the bin width, and the per-bin
    counter table from disjoint shards simply ADDS (merge == rebuild
    is pinned by tests/test_sketch_quality.py).

    Scale shape: one map-side-combinable aggregate to <=64 cells --
    constant state per partition at any corpus size; the cumulative
    window and probe join run on the 64-row sketch, not on data.
    Everything is integer counts and dyadic bin edges: bit-exact
    cross-engine.
    """
    li = t(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.least(
            F.floor(F.col("l_extendedprice") / F.lit(_HQ_WIDTH)),
            F.lit(_HQ_BINS - 1),
        ).cast("long").alias("bin")
    ).agg(F.count("*").alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    probes = spark.createDataFrame(
        [(q,) for q in _HQ_PROBES], "q_pct: long"
    )
    hit = (
        cum.crossJoin(F.broadcast(probes))
        .withColumn(
            "target_rank",
            F.expr("(q_pct * n_total + 99) div 100"),
        )
        .filter(
            (F.col("cum") - F.col("cnt") < F.col("target_rank"))
            & (F.col("cum") >= F.col("target_rank"))
        )
    )
    return hit.select(
        "q_pct",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("target_rank").cast("long").alias("target_rank"),
        F.col("bin").alias("est_bin"),
        (F.col("bin") * _HQ_WIDTH).alias("est_lo"),
        ((F.col("bin") + 1) * _HQ_WIDTH).alias("est_hi"),
        (F.col("cum") - F.col("cnt")).cast("long").alias("cum_below"),
        F.col("cum").cast("long").alias("cum_at_bin"),
    )


AGG_HISTOGRAM_QUANTILES_SQL = f"""
WITH hist AS (
  SELECT least(CAST(floor(l_extendedprice / {_HQ_WIDTH}) AS BIGINT),
               {_HQ_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS n_total
  FROM hist
), probes AS (
  SELECT unnest([{', '.join(str(q) for q in _HQ_PROBES)}]) AS q_pct
), hit AS (
  SELECT q_pct, bin, cnt, cum, n_total,
         (q_pct * n_total + 99) // 100 AS target_rank
  FROM cum, probes
  WHERE cum - cnt < (q_pct * n_total + 99) // 100
    AND cum >= (q_pct * n_total + 99) // 100
)
SELECT CAST(q_pct AS BIGINT) AS q_pct,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS est_bin,
       bin * {_HQ_WIDTH} AS est_lo,
       (bin + 1) * {_HQ_WIDTH} AS est_hi,
       CAST(cum - cnt AS BIGINT) AS cum_below,
       CAST(cum AS BIGINT) AS cum_at_bin
FROM hit
"""


def agg_exact_median_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of l_extendedprice WITHOUT a global sort:
    histogram refinement. Phase 1 bins the corpus into 64 equi-width
    cells and locates the cell containing the target rank; phase 2
    re-bins that one cell 64 ways; the residual (~n/4096 rows) gets a
    row_number. This is the scalable exact-quantile pattern: each
    refinement is a map-side-combinable 64-cell aggregate, no stage
    ever sorts more than the residual, and at 100 TB the refine
    scans' bin predicates prune row groups via parquet min/max stats
    (the skipping layout_zorder_stats measures). The oracle computes
    the same rank directly with a full-sort row_number -- the k-th
    smallest value is plan-independent, which is exactly why the
    Spark side is free to never materialize that sort.

    Output: corpus size, target rank (lower median), the exact
    median, and the residual row count that phase 3 actually sorted.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("x")
    )
    w1, nb = _HQ_WIDTH, _HQ_BINS
    # Phase 1: coarse histogram -> target bin + rows below it.
    h1 = li.groupBy(
        F.least(F.floor(F.col("x") / F.lit(w1)), F.lit(nb - 1))
        .cast("long").alias("b1")
    ).agg(F.count("*").alias("cnt"))
    wc = Window.orderBy("b1").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("b1").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t1 = (
        h1.select(
            "b1", "cnt",
            F.sum("cnt").over(wc).alias("cum"),
            F.sum("cnt").over(wall).alias("n_total"),
        )
        .withColumn("target", F.expr("(n_total + 1) div 2"))
        .filter(
            (F.col("cum") - F.col("cnt") < F.col("target"))
            & (F.col("cum") >= F.col("target"))
        )
        .select(
            "b1", "n_total", "target",
            (F.col("cum") - F.col("cnt")).alias("below1"),
        )
    )
    # Phase 2: re-bin the target cell 64 ways (width w1/64).
    w2 = w1 / nb
    in1 = li.crossJoin(F.broadcast(t1)).filter(
        F.least(F.floor(F.col("x") / F.lit(w1)), F.lit(nb - 1)) == F.col("b1")
    )
    h2 = in1.groupBy(
        "b1", "n_total", "target", "below1",
        F.least(
            F.floor((F.col("x") - F.col("b1") * F.lit(w1)) / F.lit(w2)),
            F.lit(nb - 1),
        ).cast("long").alias("b2"),
    ).agg(F.count("*").alias("cnt"))
    wc2 = Window.orderBy("b2").rowsBetween(Window.unboundedPreceding, 0)
    t2 = (
        h2.select(
            "b1", "b2", "cnt", "n_total", "target", "below1",
            (F.sum("cnt").over(wc2) + F.col("below1")).alias("cum"),
        )
        .filter(
            (F.col("cum") - F.col("cnt") < F.col("target"))
            & (F.col("cum") >= F.col("target"))
        )
        .select(
            "b1", "b2", "n_total", "target",
            (F.col("cum") - F.col("cnt")).alias("below2"),
        )
    )
    # Phase 3: row_number only the residual cell.
    resid = li.crossJoin(F.broadcast(t2)).filter(
        (F.least(F.floor(F.col("x") / F.lit(w1)), F.lit(nb - 1))
         == F.col("b1"))
        & (F.least(
            F.floor((F.col("x") - F.col("b1") * F.lit(w1)) / F.lit(w2)),
            F.lit(nb - 1),
        ) == F.col("b2"))
    )
    wr = Window.partitionBy("b1", "b2").orderBy(
        "x", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("b1", "b2")
    return (
        resid.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_resid", F.count("*").over(wn))
        .filter(F.col("rn") == F.col("target") - F.col("below2"))
        .select(
            F.col("n_total").cast("long").alias("n_total"),
            F.col("target").cast("long").alias("target_rank"),
            F.col("x").alias("median_price"),
            F.col("n_resid").cast("long").alias("n_residual_sorted"),
        )
    )


AGG_EXACT_MEDIAN_SQL = f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice AS x FROM lineitem
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, l_orderkey, l_linenumber) AS rn,
         count(*) OVER () AS n_total
  FROM li
), med AS (
  SELECT n_total, (n_total + 1) // 2 AS target, x
  FROM ranked WHERE rn = (n_total + 1) // 2
), resid AS (
  SELECT count(*) AS n_resid
  FROM li, med m
  WHERE least(CAST(floor(li.x / {_HQ_WIDTH}) AS BIGINT), {_HQ_BINS - 1})
        = least(CAST(floor(m.x / {_HQ_WIDTH}) AS BIGINT), {_HQ_BINS - 1})
    AND least(CAST(floor((li.x - least(CAST(floor(m.x / {_HQ_WIDTH})
                                            AS BIGINT),
                                    {_HQ_BINS - 1}) * {_HQ_WIDTH})
                         / {_HQ_WIDTH / _HQ_BINS}) AS BIGINT),
              {_HQ_BINS - 1})
        = least(CAST(floor((m.x - least(CAST(floor(m.x / {_HQ_WIDTH})
                                             AS BIGINT), {_HQ_BINS - 1})
                            * {_HQ_WIDTH})
                           / {_HQ_WIDTH / _HQ_BINS}) AS BIGINT),
                {_HQ_BINS - 1})
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       CAST(target AS BIGINT) AS target_rank,
       x AS median_price,
       CAST((SELECT n_resid FROM resid) AS BIGINT) AS n_residual_sorted
FROM med
"""


def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the lakehouse upsert): apply a change
    set of updates (repriced orders, every key % 10 == 0 at +10%) and
    inserts (new keys offset by 10^7, every key % 97 == 0) to the
    orders table in ONE full-outer join on the key -- matched rows
    take the delta's values, unmatched keep the base's, insert-only
    keys append. Returns the merge accounting plus an exact
    order-independent cent-sum checksum of the merged table, so the
    oracle verifies the whole merged CONTENT, not just counts.

    Scale shape: one co-partitioned shuffle of base and delta on the
    merge key (delta is usually small enough to broadcast; Spark
    picks that automatically below the threshold). The durable-write
    half of this pattern is sinks/staging.py's staging-table +
    one-transaction swap.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("d_totalprice"),
        F.lit("U").alias("d_status"),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        F.col("o_totalprice").alias("d_totalprice"),
        F.lit("I").alias("d_status"),
    )
    delta = updates.unionAll(inserts)
    merged = o.join(delta, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.coalesce("d_totalprice", "o_totalprice").alias("m_totalprice"),
        F.coalesce("d_status", "o_orderstatus").alias("m_status"),
        F.col("o_totalprice").isNotNull().alias("in_base"),
        F.col("d_totalprice").isNotNull().alias("in_delta"),
    )
    return merged.agg(
        F.sum(F.col("in_base").cast("long")).cast("long").alias("n_base"),
        F.sum(F.col("in_delta").cast("long")).cast("long").alias("n_delta"),
        F.sum((F.col("in_base") & F.col("in_delta")).cast("long"))
        .cast("long").alias("n_updated"),
        F.sum((~F.col("in_base")).cast("long")).cast("long")
        .alias("n_inserted"),
        F.count("*").cast("long").alias("n_result"),
        F.sum(
            F.floor(F.col("m_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("checksum_cents"),
        F.sum(
            F.when(F.col("m_status") == "U", 1).otherwise(0)
        ).cast("long").alias("n_status_u"),
    )


TABLE_MERGE_UPSERT_SQL = """
WITH o AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
), delta AS (
  SELECT o_orderkey, o_totalprice * 1.1 AS d_totalprice, 'U' AS d_status
  FROM o WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'I'
  FROM o WHERE o_orderkey % 97 = 0
), merged AS (
  SELECT coalesce(o.o_orderkey, d.o_orderkey) AS k,
         coalesce(d.d_totalprice, o.o_totalprice) AS m_totalprice,
         coalesce(d.d_status, o.o_orderstatus) AS m_status,
         o.o_totalprice IS NOT NULL AS in_base,
         d.d_totalprice IS NOT NULL AS in_delta
  FROM o FULL OUTER JOIN delta d ON o.o_orderkey = d.o_orderkey
)
SELECT CAST(sum(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(sum(CASE WHEN in_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(sum(CASE WHEN in_base AND in_delta THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(sum(CASE WHEN NOT in_base THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       CAST(count(*) AS BIGINT) AS n_result,
       CAST(sum(CAST(floor(m_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS checksum_cents,
       CAST(sum(CASE WHEN m_status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_status_u
FROM merged
"""


def _cms_bucket_sql(key_expr: str, j: int) -> str:
    h = f"md5(CAST(({key_expr}) AS VARCHAR))"
    d = "0123456789abcdef"
    return (
        f"CAST((instr('{d}', substr({h}, {2 * j + 1}, 1)) - 1) * 16"
        f" + (instr('{d}', substr({h}, {2 * j + 2}, 1)) - 1) AS INT)"
    )


def _cms_oracle_sql() -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql('l_partkey', j)} AS bucket"
        " FROM lineitem"
        for j in range(_CMS_DEPTH)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT probe_key, {j} AS j,"
        f" {_cms_bucket_sql('probe_key', j)} AS bucket FROM probes"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH cells AS (
  SELECT j, bucket, count(*) AS cnt FROM ({cell_rows}) GROUP BY j, bucket
), probes AS (
  SELECT unnest([1, 2, 3, 4, 5]) AS probe_key
), probe_cells AS (
  {probe_rows}
), est AS (
  SELECT probe_key, min(coalesce(cnt, 0)) AS cms_estimate
  FROM probe_cells LEFT JOIN cells USING (j, bucket)
  GROUP BY probe_key
), exact AS (
  SELECT l_partkey AS probe_key, count(*) AS exact_count
  FROM lineitem WHERE l_partkey BETWEEN 1 AND 5 GROUP BY l_partkey
)
SELECT est.probe_key,
       CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       cms_estimate >= coalesce(exact_count, 0) AS never_under
FROM est LEFT JOIN exact ON est.probe_key = exact.probe_key
"""


AGG_COUNT_MIN_SQL = _cms_oracle_sql()


# --------------------------------------------------------------------------
# Token-budget curriculum selection
# --------------------------------------------------------------------------

_TOKEN_BUDGET = 5000


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: each language gets a
    fixed training-token budget; docs are drawn in content-stable
    random order until the budget fills (a doc is taken if it STARTS
    within budget -- the greedy rule every fixed-token-count training
    mix uses). Output is the selection with running totals, so the
    cut is auditable.

    Scale shape: a naive window over (lang) would push an entire
    stratum through ONE partition (window partitions cannot be split
    by AQE), so the running sum is the standard distributed two-phase
    prefix sum instead: the draw order's leading 2 md5 hex chars
    define 256 shards per stratum whose per-shard token totals fold
    in one tiny aggregate (<=256*|langs| rows); shard offsets come
    from a window over THAT table; and the doc-level cumsum is a
    window within (lang, shard) -- per-partition state bounded by
    corpus/256 per stratum, while the totals are bit-identical to the
    single-window formulation (the shard key is a prefix of the
    order key, so shard order extends draw order).
    """
    d = t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), "\\s+")).cast("long")
    draw = F.md5(F.col("doc_id").cast("string"))
    base = d.select(
        "lang",
        "doc_id",
        toks.alias("n_tokens"),
        draw.alias("__draw"),
        F.substring(draw, 1, 2).alias("__shard"),
    )
    shard_tot = base.groupBy("lang", "__shard").agg(
        F.sum("n_tokens").alias("__shard_tokens")
    )
    w_shard = (
        Window.partitionBy("lang")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_tot.withColumn(
        "__offset",
        F.coalesce(F.sum("__shard_tokens").over(w_shard), F.lit(0)),
    ).select("lang", "__shard", "__offset")
    w_in = (
        Window.partitionBy("lang", "__shard")
        .orderBy("__draw", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        base.join(F.broadcast(offsets), ["lang", "__shard"])
        .withColumn(
            "cum_tokens",
            F.col("__offset") + F.sum("n_tokens").over(w_in),
        )
    )
    return cum.filter(
        F.col("cum_tokens") - F.col("n_tokens") < _TOKEN_BUDGET
    ).select("lang", "doc_id", "n_tokens", "cum_tokens")


SAMPLE_TOKEN_BUDGET_SQL = f"""
WITH cum AS (
  SELECT lang, doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         CAST(sum(len(string_split_regex(trim(text), '\\s+')))
              OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tokens
  FROM documents
)
SELECT lang, doc_id, n_tokens, cum_tokens
FROM cum WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
"""


# --------------------------------------------------------------------------
# Classifier evaluation metrics (per-class precision / recall / F1)
# --------------------------------------------------------------------------


def ml_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 for the kNN label-propagation
    entry -- the evaluation half every labeling pipeline needs.
    Predictions join their true labels on the query id (broadcast --
    the eval set is small by construction), then one
    map-side-combinable aggregate per (true, predicted) cell folds to
    per-class metrics. F1 from exact integer cell counts, quantized
    once at output.
    """
    from ..operators import similarity as S

    e = t(spark, sf_dir, "embeddings")
    preds = S.knn_classify(
        e.filter(F.col("vec_id") >= 20), e.filter(F.col("vec_id") < 20), k=10
    )
    truth = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    # Bounded (|eval queries| rows) and consumed three times (support,
    # predicted_n, tp): materialize once or the whole kNN scan+top-k
    # re-runs per aggregate (pre-checkpoint plan: 9 corpus scans).
    j = preds.join(F.broadcast(truth), "query_id").localCheckpoint(
        eager=False
    )
    per_class = []
    for side, name in ((F.col("true_label"), "support"),
                       (F.col("pred_label"), "predicted_n")):
        per_class.append(
            j.groupBy(side.alias("label")).agg(F.count("*").alias(name))
        )
    tp = (
        j.filter(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("label"))
        .agg(F.count("*").alias("tp"))
    )
    base = per_class[0].join(per_class[1], "label", "full").join(
        tp, "label", "full"
    )
    sup = F.coalesce("support", F.lit(0))
    pn = F.coalesce("predicted_n", F.lit(0))
    tp_c = F.coalesce("tp", F.lit(0)).cast("double")
    prec = F.when(pn > 0, dround(tp_c / pn, 6))
    rec = F.when(sup > 0, dround(tp_c / sup, 6))
    f1 = F.when(pn + sup > 0, dround(F.lit(2.0) * tp_c / (pn + sup), 6))
    return base.select(
        F.col("label").cast("long").alias("label"),
        sup.cast("long").alias("support"),
        pn.cast("long").alias("predicted_n"),
        F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )


ML_KNN_EVAL_SQL = """
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
  SELECT query_id, label AS predicted_label, count(*) AS votes
  FROM topk GROUP BY query_id, label
), preds AS (
  SELECT query_id, predicted_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, predicted_label ASC) AS rn
    FROM votes) WHERE rn = 1
), joined AS (
  SELECT p.query_id, p.predicted_label, t.label AS true_label
  FROM preds p JOIN (SELECT vec_id AS query_id, label FROM e
                     WHERE vec_id < 20) t USING (query_id)
), support AS (
  SELECT true_label AS label, count(*) AS support FROM joined GROUP BY 1
), predicted AS (
  SELECT predicted_label AS label, count(*) AS predicted_n
  FROM joined GROUP BY 1
), tp AS (
  SELECT true_label AS label, count(*) AS tp FROM joined
  WHERE true_label = predicted_label GROUP BY 1
), base AS (
  SELECT coalesce(s.label, p.label, t.label) AS label,
         coalesce(support, 0) AS support,
         coalesce(predicted_n, 0) AS predicted_n,
         coalesce(tp, 0) AS tp
  FROM support s
  FULL JOIN predicted p ON s.label = p.label
  FULL JOIN tp t ON coalesce(s.label, p.label) = t.label
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(support AS BIGINT) AS support,
       CAST(predicted_n AS BIGINT) AS predicted_n,
       CAST(tp AS BIGINT) AS tp,
       CASE WHEN predicted_n > 0 THEN
         (floor(CAST(tp AS DOUBLE) / predicted_n * 1000000 + 0.5)
            / 1000000.0) END AS precision,
       CASE WHEN support > 0 THEN
         (floor(CAST(tp AS DOUBLE) / support * 1000000 + 0.5)
            / 1000000.0) END AS recall,
       CASE WHEN predicted_n + support > 0 THEN
         (floor(2.0 * tp / (predicted_n + support) * 1000000 + 0.5)
            / 1000000.0) END AS f1
FROM base
"""


# --------------------------------------------------------------------------
# INET / CIDR arithmetic (reference PG-type parity)
# --------------------------------------------------------------------------

_CIDR_BLOCK = "10.0.0.0/8"


def scalar_inet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INET/CIDR semantics the reference delegates to Postgres
    (src/converters.rs:119-133 accepts INET/CIDR string targets and
    lets PG parse them): parse dotted-quad IPv4 to a 32-bit integer,
    test CIDR-block containment with pure bit arithmetic
    (ip >> (32-p) == net >> (32-p)), and roll up per /8 -- the
    network-provenance accounting a crawl pipeline runs before
    per-network rate decisions. Synthetic IPs derive from event ids
    so the oracle rebuilds them; all arithmetic is exact integer ops,
    one narrow pass + one map-side-combinable rollup.
    """
    e = t(spark, sf_dir, "events")
    oct1 = (F.col("user_id") % 223 + 1).cast("long")
    oct2 = (F.col("event_id") % 256).cast("long")
    oct3 = (F.floor(F.col("event_id") / 256) % 256).cast("long")
    oct4 = (F.col("user_id") % 256).cast("long")
    ip = F.concat_ws(".", oct1, oct2, oct3, oct4)
    parts = F.split(ip, "\\.")
    ip_int = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    net, prefix = _CIDR_BLOCK.split("/")
    p = int(prefix)
    net_parts = [int(x) for x in net.split(".")]
    net_int = (
        net_parts[0] * 16777216 + net_parts[1] * 65536
        + net_parts[2] * 256 + net_parts[3]
    )
    in_block = (
        F.shiftright(ip_int, 32 - p) == F.lit(net_int >> (32 - p))
    )
    d = e.select(
        ip.alias("ip"),
        ip_int.alias("ip_int"),
        parts.getItem(0).cast("long").alias("net8"),
        in_block.alias("in_block"),
        "user_id",
    )
    return d.groupBy("net8").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("in_block").cast("long")).alias("n_in_block"),
        F.min("ip_int").alias("min_ip"),
        F.max("ip_int").alias("max_ip"),
    )


def _inet_oracle_sql() -> str:
    net, prefix = _CIDR_BLOCK.split("/")
    p = int(prefix)
    np_ = [int(x) for x in net.split(".")]
    net_int = np_[0] * 16777216 + np_[1] * 65536 + np_[2] * 256 + np_[3]
    return f"""
WITH ips AS (
  SELECT user_id,
         CAST(user_id % 223 + 1 AS BIGINT) || '.' ||
         CAST(event_id % 256 AS BIGINT) || '.' ||
         CAST(CAST(floor(event_id / 256) AS BIGINT) % 256 AS BIGINT) || '.' ||
         CAST(user_id % 256 AS BIGINT) AS ip
  FROM events
), parsed AS (
  SELECT user_id, ip,
         CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
         + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
         + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
         + CAST(string_split(ip, '.')[4] AS BIGINT) AS ip_int,
         CAST(string_split(ip, '.')[1] AS BIGINT) AS net8
  FROM ips
)
SELECT net8,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CASE WHEN (ip_int >> {32 - p}) = {net_int >> (32 - p)}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_in_block,
       min(ip_int) AS min_ip,
       max(ip_int) AS max_ip
FROM parsed GROUP BY net8
"""


SCALAR_INET_SQL = _inet_oracle_sql()


# --------------------------------------------------------------------------
# Declarative data-quality checks (dbt-test-shaped gates)
# --------------------------------------------------------------------------


def table_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard warehouse data-quality gate as one query: not-null,
    uniqueness, referential integrity (orphan FK detection via
    broadcast anti-join), accepted-range, and accepted-values checks,
    each reporting its violation count and pass/fail. This is the
    pre-flight the reference runs as Postgres constraint enforcement
    at COPY time (src/db.rs:202-239 aborts on violation) -- here the
    checks run BEFORE the sink, on the cluster, without a round trip.

    Scale shape: each check is one scan + one map-side-combinable
    aggregate (the FK check's dimension side is broadcast); the five
    one-row results union driver-free.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")

    def row(check: str, table: str, viol):
        return F.struct(
            F.lit(check).alias("check_name"),
            F.lit(table).alias("table_name"),
            viol.cast("long").alias("n_violations"),
            (viol == 0).alias("passed"),
        )

    # Same-table checks FUSE into one aggregate each (one scan of
    # lineitem for not-null + range, one scan of orders for unique +
    # accepted-values): the one-scan-per-check form read lineitem
    # twice and orders three times for no added parallelism.
    li_checks = li.agg(
        row("not_null:l_orderkey", "lineitem",
            F.count(F.when(F.col("l_orderkey").isNull(), 1)))
        .alias("r1"),
        row("range:l_discount[0,1]", "lineitem",
            F.count(F.when(~F.col("l_discount").between(0.0, 1.0), 1)))
        .alias("r2"),
    ).select(F.explode(F.array("r1", "r2")).alias("r"))
    o_checks = o.agg(
        row("unique:o_orderkey", "orders",
            F.count("*") - F.countDistinct("o_orderkey")).alias("r1"),
        row("accepted:o_orderstatus", "orders",
            F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)))
        .alias("r2"),
    ).select(F.explode(F.array("r1", "r2")).alias("r"))
    orphans = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == c.c_custkey,
            "left_anti",
        ).agg(row("fk:o_custkey->customer", "orders", F.count("*")).alias("r"))
    )
    out = li_checks
    for d in (o_checks, orphans):
        out = out.unionAll(d)
    return out.select("r.check_name", "r.table_name", "r.n_violations",
                      "r.passed")


TABLE_QUALITY_CHECKS_SQL = """
SELECT 'not_null:l_orderkey' AS check_name, 'lineitem' AS table_name,
       count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_violations,
       count(CASE WHEN l_orderkey IS NULL THEN 1 END) = 0 AS passed
FROM lineitem
UNION ALL
SELECT 'unique:o_orderkey', 'orders',
       count(*) - count(DISTINCT o_orderkey),
       count(*) - count(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'fk:o_custkey->customer', 'orders', count(*), count(*) = 0
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'range:l_discount[0,1]', 'lineitem',
       count(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0) THEN 1 END),
       count(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0) THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'accepted:o_orderstatus', 'orders',
       count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END),
       count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END) = 0
FROM orders
"""


# --------------------------------------------------------------------------
# Dedup impact report (per-source duplicate rates)
# --------------------------------------------------------------------------


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounting half of exact dedup: per source, how many docs
    are redundant copies (same sha256 content, not the min-id keeper)
    and what fraction of the stratum survives. The report every
    curation run publishes alongside the deduped corpus.

    Scale shape: group sizes and keepers come from a window over the
    content hash (ONE shuffle, same partitioning dedup itself uses);
    the per-source rollup is a second map-side-combinable aggregate.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256))
    flagged = d.select(
        "source",
        (F.col("doc_id") > F.min("doc_id").over(w)).alias("is_copy"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("is_copy").cast("long")).alias("n_dup_copies"),
        dround(
            F.lit(1.0)
            - F.sum(F.col("is_copy").cast("long")) / F.count("*"), 6
        ).alias("survival_rate"),
    )


DEDUP_RATE_BY_SOURCE_SQL = """
WITH flagged AS (
  SELECT source,
         doc_id > min(doc_id) OVER (PARTITION BY sha256(text)) AS is_copy
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN is_copy THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_copies,
       (floor((1.0 - sum(CASE WHEN is_copy THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0)
         AS survival_rate
FROM flagged GROUP BY source
"""


# --------------------------------------------------------------------------
# CCNet perplexity bucketing (head / middle / tail)
# --------------------------------------------------------------------------


def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank every
    document by its corpus-LM avg_logprob (exact quantized sums from
    the unigram_lm machinery -- IEEE-identical cross-engine), cut at
    the 33rd/67th percentiles, and report each bucket's population.
    Head = most-fluent third, the pretraining-priority slice.

    Scale shape: scores reuse the single-explode tf pipeline; the two
    boundary percentiles are ONE tiny agg broadcast back (at 100 TB
    swap in approx_percentile -- the bucket edges move by noise, the
    plan is unchanged); bucketing is a narrow map + one rollup.
    """
    from ..operators.textstats import unigram_lm_scores

    # Per-doc scores are narrow (|docs| x 3) and consumed twice
    # (percentile bounds + bucketing): materialize once or the whole
    # unigram-LM explode/vocab-join pipeline runs per consumer.
    scores = unigram_lm_scores(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "avg_logprob"
    ).localCheckpoint(eager=False)
    bounds = scores.agg(
        dround(F.percentile("avg_logprob", F.lit(0.33)), 6).alias("t_tail"),
        dround(F.percentile("avg_logprob", F.lit(0.67)), 6).alias("t_head"),
    )
    bucketed = scores.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("avg_logprob") >= F.col("t_head"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t_tail"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "n_tokens",
        "avg_logprob",
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        dround(F.min("avg_logprob"), 6).alias("min_lp"),
        dround(F.max("avg_logprob"), 6).alias("max_lp"),
    )


def _ppl_buckets_oracle_sql() -> str:
    from .ext import TEXT_UNIGRAM_LM_SQL

    return f"""
WITH lm AS ({TEXT_UNIGRAM_LM_SQL}),
bounds AS (
  SELECT floor(quantile_cont(avg_logprob, 0.33) * 1000000 + 0.5)
           / 1000000.0 AS t_tail,
         floor(quantile_cont(avg_logprob, 0.67) * 1000000 + 0.5)
           / 1000000.0 AS t_head
  FROM lm
), bucketed AS (
  SELECT CASE WHEN avg_logprob >= t_head THEN 'head'
              WHEN avg_logprob >= t_tail THEN 'middle'
              ELSE 'tail' END AS bucket,
         n_tokens, avg_logprob
  FROM lm, bounds
)
SELECT bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       (floor(min(avg_logprob) * 1000000 + 0.5) / 1000000.0) AS min_lp,
       (floor(max(avg_logprob) * 1000000 + 0.5) / 1000000.0) AS max_lp
FROM bucketed GROUP BY bucket
"""


TEXT_PERPLEXITY_BUCKETS_SQL = _ppl_buckets_oracle_sql()


# --------------------------------------------------------------------------
# Multimodal payload dedup (content-addressed binary dedup)
# --------------------------------------------------------------------------


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over BINARY payloads: the sha256
    content key the multimodal columns already carry doubles as the
    dedup key (the way image/audio corpora dedup before any decode --
    bytes first, perceptual hashes later). Per mime type: payload
    count, distinct-content count, redundant bytes that dedup
    reclaims. One hash aggregate on (mime, sha) then one rollup; at
    100 TB only 32-byte keys + counts shuffle, never payload bytes.
    """
    from ..operators.multimodal import attach_binary_payload

    d = t(spark, sf_dir, "documents")
    p = attach_binary_payload(d, "text", mime="text/plain").select(
        "mime", "content_sha256", "n_bytes"
    )
    per_content = p.groupBy("mime", "content_sha256").agg(
        F.count("*").alias("copies"),
        F.min("n_bytes").alias("n_bytes"),
    )
    return per_content.groupBy("mime").agg(
        F.sum("copies").cast("long").alias("n_payloads"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("copies") - 1) * F.col("n_bytes"))
        .cast("long")
        .alias("reclaimable_bytes"),
    )


MULTIMODAL_DEDUP_SQL = """
WITH p AS (
  SELECT 'text/plain' AS mime, sha256(text) AS content_sha256,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), per_content AS (
  SELECT mime, content_sha256, count(*) AS copies, min(n_bytes) AS n_bytes
  FROM p GROUP BY mime, content_sha256
)
SELECT mime,
       CAST(sum(copies) AS BIGINT) AS n_payloads,
       count(*) AS n_distinct,
       CAST(sum((copies - 1) * n_bytes) AS BIGINT) AS reclaimable_bytes
FROM per_content GROUP BY mime
"""


# --------------------------------------------------------------------------
# Feature-store rollup (per-user ML feature vector)
# --------------------------------------------------------------------------


def ml_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store materialization every behavioral model
    needs: one row per user with event-type counts (conditional
    aggregates, NOT a pivot shuffle per type), value statistics on
    exact scaled integers, and recency (last event timestamp). ONE
    map-side-combinable aggregate over the log -- the canonical
    wide-feature rollup; new features are new agg columns, the plan
    shape never changes.
    """
    e = t(spark, sf_dir, "events")
    cnt = lambda v: F.count(F.when(F.col("event_type") == v, 1)).alias(  # noqa: E731
        f"n_{v}"
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        cnt("view"),
        cnt("click"),
        cnt("purchase"),
        dsum("value", 4).alias("total_value"),
        dround(
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            / F.lit(10000.0) / F.count("*"),
            6,
        ).alias("avg_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_seen"
        ),
    )


ML_USER_FEATURES_SQL = f"""
SELECT user_id,
       count(*) AS n_events,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       {sql_dsum('value', 4)} AS total_value,
       {sql_dround(
           'sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))'
           ' / 10000.0 / count(*)', 6)} AS avg_value,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Point-in-time join (events against their SCD2 state)
# --------------------------------------------------------------------------


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness -- the feature-store/backtest join
    that must never leak the future: each purchase picks up the
    BROWSING state (SCD2 intervals over the user's non-purchase
    activity) valid at its timestamp -- "what was the user doing when
    they bought". Composed as an as-of-style window: state changes
    and probe events union into one stream per user, the state
    carries forward, so the lookup costs ONE user_id shuffle -- no
    interval self-join, no row explosion (the same carry-forward
    machinery as asof_join_events, operators/asof.py). Rolled up per
    state for a compact audit; purchases before any activity report
    NULL state on both engines.
    """
    e = t(spark, sf_dir, "events")
    activity = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        activity.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            F.col("ts").alias("chg_ts"),
            F.col("event_id").alias("chg_id"),
            F.col("event_type").alias("state"),
        )
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        "value",
    )
    merged = changes.select(
        "user_id",
        F.col("chg_ts").alias("ts"),
        F.col("chg_id").alias("tie"),
        F.lit(0).alias("kind"),
        "state",
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("double").alias("value"),
    ).unionAll(
        probes.select(
            "user_id",
            F.col("p_ts").alias("ts"),
            F.col("p_id").alias("tie"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("string").alias("state"),
            "p_id",
            "value",
        )
    )
    # carry the latest state forward; a probe event (kind=1) sorts
    # after the state change with the same (ts, tie) ordering, and a
    # purchase IS itself a change when it alters the state -- matching
    # the SCD2 interval semantics [valid_from, valid_to).
    wc = Window.partitionBy("user_id").orderBy("ts", "tie", "kind")
    carried = merged.withColumn(
        "cur_state",
        F.last("state", ignorenulls=True).over(
            wc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        carried.filter(F.col("kind") == 1)
        .groupBy(F.col("cur_state").alias("state_at_purchase"))
        .agg(
            F.count("*").alias("n_purchases"),
            dsum("value", 4).alias("total_value"),
        )
    )


JOIN_POINT_IN_TIME_SQL = f"""
WITH changes AS (
  SELECT user_id, ts AS chg_ts, event_id AS chg_id, event_type AS state
  FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_type
        FROM events WHERE event_type != 'purchase')
  WHERE prev_type IS NULL OR event_type != prev_type
), probes AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id, value
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.user_id, p.p_id, p.value,
         (SELECT c.state FROM changes c
          WHERE c.user_id = p.user_id
            AND (c.chg_ts < p.p_ts
                 OR (c.chg_ts = p.p_ts AND c.chg_id <= p.p_id))
          ORDER BY c.chg_ts DESC, c.chg_id DESC LIMIT 1) AS state_at_purchase
  FROM probes p
)
SELECT state_at_purchase,
       count(*) AS n_purchases,
       {sql_dsum('value', 4)} AS total_value
FROM matched GROUP BY state_at_purchase
"""


# --------------------------------------------------------------------------
# Kaplan-Meier retention survival curve
# --------------------------------------------------------------------------


def event_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user retention: for each
    day-since-first-event t, S(t) = prod_{t' <= t} (1 - d_t'/n_t')
    where d_t' = users whose LAST event falls on day t' (churned) and
    n_t' = users still at risk entering t'. The product-limit
    estimator behind every retention curve, censoring-free here
    because the log is complete.

    Scale shape: per-user first/last days fold in ONE
    map-side-combinable aggregate over the log; everything after
    operates on the tiny per-day table (<= observation window rows),
    where the running product is a window in log space with
    scaled-BIGINT quantized terms (exact cross-engine sums, one
    rounding at output).
    """
    e = t(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.date_trunc("day", F.max("ts")).alias("last_day"),
    )
    per_user = spans.select(
        F.datediff(F.col("last_day"), F.col("first_day")).alias("t_churn")
    )
    days = per_user.groupBy("t_churn").agg(F.count("*").alias("d"))
    total = per_user.agg(F.count("*").alias("n"))
    w = Window.orderBy("t_churn").rowsBetween(
        Window.unboundedPreceding, -1
    )
    at_risk = days.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("n") - F.coalesce(F.sum("d").over(w), F.lit(0)),
    )
    # log-space running product with quantized terms: exact integer
    # sums in any order, identical cross-engine.
    lnq = F.floor(
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")) * F.lit(1.0e9)
        + F.lit(0.5)
    ).cast("long")
    w2 = Window.orderBy("t_churn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = at_risk.filter(F.col("d") < F.col("n_risk")).withColumn(
        "survival",
        dround(
            F.exp(F.sum(lnq).over(w2).cast("double") / F.lit(1.0e9)), 6
        ),
    )
    return out.select(
        F.col("t_churn").cast("long").alias("day"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        "survival",
    )


EVENT_SURVIVAL_SQL = """
WITH spans AS (
  SELECT user_id,
         date_diff('day', date_trunc('day', min(ts)),
                   date_trunc('day', max(ts))) AS t_churn
  FROM events GROUP BY user_id
), days AS (
  SELECT t_churn, count(*) AS d FROM spans GROUP BY t_churn
), total AS (
  SELECT count(*) AS n FROM spans
), at_risk AS (
  SELECT t_churn, d,
         n - coalesce(sum(d) OVER (ORDER BY t_churn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM days, total
), lnq AS (
  SELECT t_churn, d, n_risk,
         CAST(floor(ln(1.0 - d / CAST(n_risk AS DOUBLE)) * 1000000000.0
                    + 0.5) AS BIGINT) AS lq
  FROM at_risk WHERE d < n_risk
)
SELECT CAST(t_churn AS BIGINT) AS day,
       CAST(d AS BIGINT) AS n_churned,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       (floor(exp(CAST(sum(lq) OVER (ORDER BY t_churn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / 1000000000.0) * 1000000 + 0.5) / 1000000.0)
         AS survival
FROM lnq
"""


# --------------------------------------------------------------------------
# A/B-test readout (two-proportion z-test)
# --------------------------------------------------------------------------


def ml_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split into control/treatment by a
    content-stable assignment (user_id parity stands in for the
    bucketing service), per-variant high-value-purchase conversion rates, and
    the pooled two-proportion z statistic -- the decision row an
    experimentation platform materializes per metric. One aggregate
    over the log -> a 2-row table -> a 1-row readout; nothing about
    the plan changes at any scale.
    """
    e = t(spark, sf_dir, "events")
    converted = (
        (F.col("event_type") == "purchase") & (F.col("value") > 90.0)
    ).cast("int")
    per_user = e.groupBy("user_id").agg(
        F.max(converted).alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("variant"),
        "converted",
    )
    v = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = v.groupBy().agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias(
            "c0"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias(
            "c1"
        ),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("long").alias("control_users"),
        F.col("c0").cast("long").alias("control_conversions"),
        F.col("n1").cast("long").alias("treatment_users"),
        F.col("c1").cast("long").alias("treatment_conversions"),
        dround(p0, 6).alias("control_rate"),
        dround(p1, 6).alias("treatment_rate"),
        dround((p1 - p0) / se, 6).alias("z_score"),
    )


ML_AB_TEST_SQL = """
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         max(CASE WHEN event_type = 'purchase' AND value > 90.0
             THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), v AS (
  SELECT variant, count(*) AS n_users, sum(converted) AS n_converted
  FROM per_user GROUP BY variant
), wide AS (
  SELECT max(CASE WHEN variant = 0 THEN n_users END) AS n0,
         max(CASE WHEN variant = 0 THEN n_converted END) AS c0,
         max(CASE WHEN variant = 1 THEN n_users END) AS n1,
         max(CASE WHEN variant = 1 THEN n_converted END) AS c1
  FROM v
)
SELECT CAST(n0 AS BIGINT) AS control_users,
       CAST(c0 AS BIGINT) AS control_conversions,
       CAST(n1 AS BIGINT) AS treatment_users,
       CAST(c1 AS BIGINT) AS treatment_conversions,
       (floor(c0 / CAST(n0 AS DOUBLE) * 1000000 + 0.5) / 1000000.0)
         AS control_rate,
       (floor(c1 / CAST(n1 AS DOUBLE) * 1000000 + 0.5) / 1000000.0)
         AS treatment_rate,
       (floor((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
              / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                     * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                     * (1.0 / n0 + 1.0 / n1))
              * 1000000 + 0.5) / 1000000.0) AS z_score
FROM wide
"""


# --------------------------------------------------------------------------
# Corpus novelty signal (first-occurrence n-gram fraction)
# --------------------------------------------------------------------------


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct trigrams
    whose FIRST corpus occurrence (min doc_id, standing in for ingest
    order) is this doc. High-novelty docs introduce new content;
    near-zero novelty flags recombinations of earlier material -- the
    ordering signal for dedup-aware curriculum sampling.

    Scale shape: one shingle explode, one (shingle -> min doc_id)
    aggregate (map-side combinable), one aggregate back to docs
    counting owned-vs-total -- the first-occurrence table joins on
    the SAME shingle partitioning the aggregate produced, so Catalyst
    reuses the exchange. No self-join of the corpus.
    """
    from ..operators.dedup import shingles_of
    from ..operators.textstats import ws_tokens

    d = t(spark, sf_dir, "documents")
    sh = d.withColumn("__toks", ws_tokens("text")).select(
        F.col("doc_id"),
        F.explode(shingles_of(F.col("__toks"), 3)).alias("shingle"),
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
            dround(
                F.sum(
                    (F.col("doc_id") == F.col("first_doc")).cast("long")
                )
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


TEXT_NGRAM_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           [array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]
         )) AS shingle
  FROM toks
), first AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN sh.doc_id = first_doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       (floor(sum(CASE WHEN sh.doc_id = first_doc THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0)
         AS novelty
FROM sh JOIN first USING (shingle)
GROUP BY sh.doc_id
"""


# --------------------------------------------------------------------------
# Running distinct count (first-occurrence flag + running sum)
# --------------------------------------------------------------------------


def event_running_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type over time -- the
    growth curve every funnel dashboard draws. COUNT(DISTINCT) over a
    running frame is O(n^2) state; the linear formulation marks each
    (type, user)'s first event with a row_number window and runs a
    plain SUM over the flags. Daily resolution keeps the output
    readable: one row per (event_type, day) with the cumulative
    unique-user count.

    Scale shape: two windows -- (type, user) for first-occurrence,
    (type) ordered by day over the TINY per-day table for the running
    sum -- plus one map-side-combinable daily rollup between them.
    """
    e = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    flagged = e.withColumn(
        "is_first", (F.row_number().over(w_first) == 1).cast("long")
    ).select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
        "is_first",
    )
    daily = flagged.groupBy("event_type", "day").agg(
        F.sum("is_first").alias("new_users"),
        F.count("*").alias("n_events"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w_run).cast("long").alias(
            "cumulative_unique_users"
        ),
    )


def event_running_unique_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`event_running_unique`'s cumulative-unique curve with BOTH
    order-dependent stages made hot-key-proof: the per-(type, user)
    first-occurrence window becomes a plain min-aggregate (no window
    at all — first day = day of min ts), and the running sum over the
    daily rollup goes through `chunked_cumsum` (weekly buckets +
    bucket-offset stitch). Oracle shared with the plain entry — the
    value-hash pins the chunked cumulative arithmetic exactly.
    """
    from ..operators.chunked_window import chunked_cumsum

    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
    ).agg(F.count("*").alias("n_events"))
    first_day = (
        e.groupBy("event_type", "user_id")
        .agg(F.min("ts").alias("first_ts"))
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("first_ts")),
                          "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count("*").alias("new_users"))
    )
    joined = daily.join(first_day, ["event_type", "day"], "left").select(
        "event_type", "day", "n_events",
        F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"),
    )
    run = chunked_cumsum(
        joined, ["event_type"], "day", "new_users",
        out="cumulative_unique_users", bucket_width_sec=7 * 86400.0,
    )
    return run.select(
        "event_type", "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("new_users").cast("long").alias("new_users"),
        F.col("cumulative_unique_users").cast("long")
        .alias("cumulative_unique_users"),
    )


EVENT_RUNNING_UNIQUE_SQL = """
WITH flagged AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
), daily AS (
  SELECT event_type, day,
         sum(is_first) AS new_users,
         count(*) AS n_events
  FROM flagged GROUP BY event_type, day
)
SELECT event_type, day,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_unique_users
FROM daily
"""


# --------------------------------------------------------------------------
# Maximal shared token spans (ExactSubstr-style dedup, Spark-shaped)
# --------------------------------------------------------------------------

_SPAN_K = 8        # gram width in tokens
_SPAN_MIN_GRAMS = 3  # report pairs sharing a run of >= 3 grams (>= 10 tokens)
_SPAN_MAX_DF = 20  # hot-gram document-frequency cap (declared semantics)
_SPAN_MAX_BUCKET = 64  # total occurrence cap per gram (declared)


def dedup_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring dedup (the semantics of Lee et
    al. 2022's suffix-array ExactSubstr, re-shaped for Spark): find
    doc pairs sharing a verbatim token run of >= K + min_grams - 1
    tokens by matching positioned K-token grams and merging adjacent
    matches with a gaps-and-islands fold. A match at diagonal
    d = pos_a - pos_b that continues at the next position extends the
    island; the longest island gives the longest shared span.

    Scale shape: one positioned-gram explode; hot grams above a
    document-frequency cap are pruned (declared semantics, like every
    posting-list op here -- boilerplate grams carry no span signal
    and cause k^2 fan-out); candidate positions group per gram and
    pair in-bucket; islands are ONE window over (pair, diagonal).
    Never a doc x doc comparison, never a suffix array's global sort.
    """
    from ..operators.textstats import ws_tokens

    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens("text").alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(w) >= {_SPAN_K} THEN"
                f" transform(sequence(1, size(w) - {_SPAN_K} + 1),"
                f" i -> concat_ws(' ', slice(w, i, {_SPAN_K})))"
                " ELSE array() END"
            )
        ).alias("pos", "gram"),
    ).withColumn("gh", F.md5("gram")).drop("gram")
    keep = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("gdf"))
        .filter(F.col("gdf") <= _SPAN_MAX_DF)
        .select("gh")
    )
    pruned = grams.join(keep, "gh", "left_semi")
    # The df cap bounds DOCUMENTS per gram; a gram repeated many
    # times INSIDE one doc (degenerate "a a a ..." text) still makes a
    # quadratic bucket, so total occurrences are capped too (declared
    # semantics, mirrored by the oracle, same stance as
    # max_bucket_size in the LSH ops).
    buckets = pruned.groupBy("gh").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("ms")
    ).filter(
        (F.size("ms") >= 2) & (F.size("ms") <= _SPAN_MAX_BUCKET)
    )
    matches = (
        buckets.select(bucket_pairs(
            "ms", "doc_id", ("da", "db"), aligned={"pos": ("pa", "pb")},
            where="y.doc_id != x.doc_id",
        ))
        .select("p.da", "p.db", "p.pa", "p.pb")
        .dropDuplicates(["da", "db", "pa", "pb"])
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    islands = matches.withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    runs = islands.groupBy("da", "db", "diag", "grp").agg(
        F.count("*").alias("run_grams")
    )
    return (
        runs.groupBy("da", "db")
        .agg(
            F.max("run_grams").alias("max_run"),
            F.sum("run_grams").alias("total_matched_grams"),
        )
        .filter(F.col("max_run") >= _SPAN_MIN_GRAMS)
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            (F.col("max_run") + _SPAN_K - 1)
            .cast("long")
            .alias("longest_span_tokens"),
            F.col("total_matched_grams").cast("long")
            .alias("total_matched_grams"),
        )
    )


DEDUP_EXACT_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(w[i:i+{_SPAN_K - 1}], ' ')) AS gh
  FROM toks, unnest(range(1, len(w) - {_SPAN_K} + 2)) r(i)
  WHERE len(w) >= {_SPAN_K}
), keep AS (
  SELECT gh FROM grams GROUP BY gh
  HAVING count(DISTINCT doc_id) <= {_SPAN_MAX_DF}
), pruned AS (
  SELECT g.* FROM grams g WHERE gh IN (SELECT gh FROM keep)
    AND gh IN (SELECT gh FROM grams GROUP BY gh
               HAVING count(*) BETWEEN 2 AND 64)
), matches AS (
  SELECT DISTINCT
         least(a.doc_id, b.doc_id) AS da,
         greatest(a.doc_id, b.doc_id) AS db,
         CASE WHEN a.doc_id < b.doc_id THEN a.pos ELSE b.pos END AS pa,
         CASE WHEN a.doc_id < b.doc_id THEN b.pos ELSE a.pos END AS pb
  FROM pruned a JOIN pruned b
    ON a.gh = b.gh AND a.doc_id < b.doc_id
), islands AS (
  SELECT da, db, pa - pb AS diag, pa,
         pa - row_number() OVER (PARTITION BY da, db, pa - pb
                                 ORDER BY pa) AS grp
  FROM matches
), runs AS (
  SELECT da, db, diag, grp, count(*) AS run_grams
  FROM islands GROUP BY da, db, diag, grp
)
SELECT da AS id_a, db AS id_b,
       CAST(max(run_grams) + {_SPAN_K - 1} AS BIGINT)
         AS longest_span_tokens,
       CAST(sum(run_grams) AS BIGINT) AS total_matched_grams
FROM runs GROUP BY da, db
HAVING max(run_grams) >= {_SPAN_MIN_GRAMS}
"""


# --------------------------------------------------------------------------
# Corpus card (per source x lang accounting report)
# --------------------------------------------------------------------------


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus card a dataset release ships: per (source, lang)
    stratum -- docs, token/char volume, exact-duplicate rate, and
    share of corpus tokens -- in ONE pass over the corpus plus one
    content-hash window (the same partitioning dedup uses). Every
    number is exact; the token share divides by a broadcast one-row
    total. This is the accounting join of the curation funnel's
    outputs, kept independent so it can run on raw ingest before any
    gate fires.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256))
    toks = F.size(F.split(F.trim("text"), "\\s+")).cast("long")
    base = d.select(
        "source",
        "lang",
        toks.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.col("doc_id") > F.min("doc_id").over(w)).alias("is_copy"),
    )
    strata = base.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum(F.col("is_copy").cast("long")).alias("n_dup_copies"),
    )
    total = base.agg(F.sum("n_tokens").alias("corpus_tokens"))
    return strata.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_dup_copies").cast("long").alias("n_dup_copies"),
        dround(
            F.col("n_tokens") / F.col("corpus_tokens"), 6
        ).alias("token_share"),
    )


CORPUS_REPORT_SQL = """
WITH base AS (
  SELECT source, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         doc_id > min(doc_id) OVER (PARTITION BY sha256(text)) AS is_copy
  FROM documents
), total AS (
  SELECT sum(n_tokens) AS corpus_tokens FROM base
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(CASE WHEN is_copy THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_copies,
       (floor(sum(n_tokens) / CAST(corpus_tokens AS DOUBLE)
              * 1000000 + 0.5) / 1000000.0) AS token_share
FROM base, total
GROUP BY source, lang, corpus_tokens
"""


def sample_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, positive, negative) triplets for
    embedding training, mined deterministically with NO row
    explosion: every doc gets exactly one same-lang positive (the
    circular next doc in content-stable md5 order within its
    language) and one cross-lang negative (the rank-aligned doc of
    the next language in the lang rotation, rank taken modulo that
    language's size).

    Scale shape: one lang-partitioned ranked window (single corpus
    shuffle) feeds BOTH pair sides; the language rotation table is
    |langs| rows under an unpartitioned window (bounded by the label
    domain) and broadcasts; the negative match is a hash equi-join on
    (lang, rank) -- unique key, so candidates = rows, never a
    cross-lang cross join. Membership is reproducible under any
    partitioning (md5 order, doc_id tiebreak). Single-doc languages
    are dropped (their only positive would be the anchor itself).
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.col("doc_id").cast("string"))
    wl = Window.partitionBy("lang").orderBy("key", "doc_id")
    wp = Window.partitionBy("lang")
    # Materialized once: the ranked table feeds langs, anchors AND the
    # negative side -- without the checkpoint each consumer re-runs
    # the scan + lang-partitioned window (3 corpus passes for a table
    # the docstring promises is built in one shuffle).
    rk = (
        d.withColumn("key", key)
        .select(
            "doc_id",
            "lang",
            F.row_number().over(wl).alias("r"),
            F.count("*").over(wp).alias("cnt"),
            F.coalesce(
                F.lead("doc_id", 1).over(wl),
                F.first("doc_id").over(wl),
            ).alias("pos_doc_id"),
        )
        .localCheckpoint(eager=False)
    )
    langs = rk.select("lang", "cnt").distinct()
    wlang = Window.orderBy("lang")
    nxt = langs.select(
        "lang",
        F.coalesce(
            F.lead("lang").over(wlang), F.first("lang").over(wlang)
        ).alias("neg_lang"),
        F.coalesce(
            F.lead("cnt").over(wlang), F.first("cnt").over(wlang)
        ).alias("neg_cnt"),
    )
    anchors = (
        rk.filter(F.col("cnt") >= 2)
        .join(F.broadcast(nxt), "lang")
        .withColumn("tgt", (F.col("r") - 1) % F.col("neg_cnt") + 1)
    )
    neg = rk.select(
        F.col("lang").alias("neg_lang"),
        F.col("r").alias("tgt"),
        F.col("doc_id").alias("neg_doc_id"),
    )
    return anchors.join(neg, ["neg_lang", "tgt"]).select(
        "doc_id", "lang", "pos_doc_id", "neg_lang", "neg_doc_id"
    )


SAMPLE_CONTRASTIVE_PAIRS_SQL = """
WITH rk AS (
  SELECT doc_id, lang,
         row_number() OVER w AS r,
         count(*) OVER (PARTITION BY lang) AS cnt,
         coalesce(lead(doc_id, 1) OVER w,
                  first_value(doc_id) OVER w) AS pos_doc_id
  FROM documents
  WINDOW w AS (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
), langs AS (
  SELECT DISTINCT lang, cnt FROM rk
), nxt AS (
  SELECT lang,
         coalesce(lead(lang) OVER (ORDER BY lang),
                  first_value(lang) OVER (ORDER BY lang)) AS neg_lang,
         coalesce(lead(cnt) OVER (ORDER BY lang),
                  first_value(cnt) OVER (ORDER BY lang)) AS neg_cnt
  FROM langs
), anchors AS (
  SELECT rk.doc_id, rk.lang, rk.pos_doc_id, nxt.neg_lang,
         ((rk.r - 1) % nxt.neg_cnt) + 1 AS tgt
  FROM rk JOIN nxt USING (lang)
  WHERE rk.cnt >= 2
)
SELECT a.doc_id, a.lang, a.pos_doc_id, a.neg_lang,
       n.doc_id AS neg_doc_id
FROM anchors a JOIN rk n ON a.neg_lang = n.lang AND a.tgt = n.r
"""


def ml_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the linear quality classifier against the lang='en'
    eval label, computed as the Mann-Whitney rank statistic WITHOUT a
    global per-row ranking: rows collapse to one hash aggregate per
    DISTINCT quantized score (prob_q6, <= 1e6+1 values by
    construction), the below-value negative counts come from one
    ordered window over that bounded value table, and
    2U = sum n_pos(v) * (2*cum_neg_below(v) + n_neg(v)) gives ties
    the standard half credit. Everything up to the final quantized
    ratio is exact BIGINT arithmetic, so the AUC is bit-stable under
    any partitioning; the per-row sort the textbook formula needs
    never happens (the window is over the score DOMAIN, not the
    corpus).
    """
    scored = _linear_scored(spark, sf_dir)
    logit = F.col("raw_score").cast("double") / F.col("n_tokens")
    prob_q6 = sint(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    lab = scored.select(
        prob_q6.alias("v"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    g = lab.groupBy("v").agg(
        F.sum("y").alias("np"),
        (F.count("*") - F.sum("y")).alias("nn"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    g = g.withColumn("cnb", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    res = g.agg(
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cnb") + F.col("nn"))
        ).alias("u2"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
    )
    d = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    auc_q6 = F.expr("(u2 * 1000000 + d DIV 2) DIV d")
    return res.withColumn("d", d).select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("u2").cast("long").alias("u2"),
        auc_q6.cast("long").alias("auc_q6"),
    )


ML_AUC_EVAL_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest({toks}) AS tok
  FROM documents
), b AS (
  SELECT doc_id, lang,
         CAST(floor({u} * {nb}) AS INT) AS bucket
  FROM toks
), w AS (
  SELECT CAST(i AS INT) AS bucket, CAST(i % 7 - 3 AS BIGINT) AS w
  FROM range({nb}) r(i)
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens, sum(w.w) AS raw_score
  FROM b JOIN w ON b.bucket = w.bucket
  GROUP BY doc_id, lang
), q AS (
  SELECT CAST(floor(
           1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE) / n_tokens)))
           * 1000000 + 0.5) AS BIGINT) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scored
), g AS (
  SELECT v, sum(y) AS np, count(*) - sum(y) AS nn
  FROM q GROUP BY v
), c AS (
  SELECT *,
         coalesce(sum(nn) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
  FROM g
), res AS (
  SELECT sum(np * (2 * cnb + nn)) AS u2,
         sum(np) AS n_pos, sum(nn) AS n_neg
  FROM c
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(u2 AS BIGINT) AS u2,
       CAST((u2 * 1000000 + (2 * n_pos * n_neg) // 2)
            // (2 * n_pos * n_neg) AS BIGINT) AS auc_q6
FROM res
""".replace("{toks}", _CURATION_CLEAN_TOKS_SQL).replace(
    "{u}", sql_md5_unit("tok")
).replace("{nb}", str(_LINEAR_BUCKETS))


def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the linear quality classifier at
    every operating point, without ranking rows: like ml_auc_eval,
    the corpus collapses to one aggregate per DISTINCT quantized
    score, and the descending cumulative positives/negatives over
    that bounded score-domain table give precision and recall at the
    threshold "predict positive iff score >= v". All counts are exact
    BIGINTs; the two ratios are integer-quantized with the rounded
    integer-division formula, so every curve point is bit-stable.
    """
    scored = _linear_scored(spark, sf_dir)
    logit = F.col("raw_score").cast("double") / F.col("n_tokens")
    prob_q6 = sint(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    lab = scored.select(
        prob_q6.alias("v"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    g = lab.groupBy("v").agg(
        F.sum("y").alias("np"),
        (F.count("*") - F.sum("y")).alias("nn"),
    )
    w_desc = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.withColumn("cum_np", F.sum("np").over(w_desc)).withColumn(
        "cum_nn", F.sum("nn").over(w_desc)
    )
    c = c.withColumn(
        "tot_np", F.sum("np").over(Window.partitionBy())
    )
    prec = F.expr(
        "(cum_np * 1000000 + (cum_np + cum_nn) DIV 2)"
        " DIV (cum_np + cum_nn)"
    )
    rec = F.expr("(cum_np * 1000000 + tot_np DIV 2) DIV tot_np")
    return c.select(
        F.col("v").cast("long").alias("threshold_q6"),
        F.col("cum_np").cast("long").alias("tp"),
        F.col("cum_nn").cast("long").alias("fp"),
        prec.cast("long").alias("precision_q6"),
        rec.cast("long").alias("recall_q6"),
    )


ML_PR_CURVE_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest({toks}) AS tok
  FROM documents
), b AS (
  SELECT doc_id, lang,
         CAST(floor({u} * {nb}) AS INT) AS bucket
  FROM toks
), w AS (
  SELECT CAST(i AS INT) AS bucket, CAST(i % 7 - 3 AS BIGINT) AS w
  FROM range({nb}) r(i)
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens, sum(w.w) AS raw_score
  FROM b JOIN w ON b.bucket = w.bucket
  GROUP BY doc_id, lang
), q AS (
  SELECT CAST(floor(
           1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE) / n_tokens)))
           * 1000000 + 0.5) AS BIGINT) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scored
), g AS (
  SELECT v, sum(y) AS np, count(*) - sum(y) AS nn
  FROM q GROUP BY v
), c AS (
  SELECT v, np, nn,
         sum(np) OVER (ORDER BY v DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_np,
         sum(nn) OVER (ORDER BY v DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_nn,
         sum(np) OVER () AS tot_np
  FROM g
)
SELECT CAST(v AS BIGINT) AS threshold_q6,
       CAST(cum_np AS BIGINT) AS tp,
       CAST(cum_nn AS BIGINT) AS fp,
       CAST((cum_np * 1000000 + (cum_np + cum_nn) // 2)
            // (cum_np + cum_nn) AS BIGINT) AS precision_q6,
       CAST((cum_np * 1000000 + tot_np // 2) // tot_np AS BIGINT)
         AS recall_q6
FROM c
""".replace("{toks}", _CURATION_CLEAN_TOKS_SQL).replace(
    "{u}", sql_md5_unit("tok")
).replace("{nb}", str(_LINEAR_BUCKETS))


SPECS: list[QuerySpec] = [
    QuerySpec("ml_pr_curve", ml_pr_curve, ML_PR_CURVE_SQL,
              "full precision/recall curve from the bounded "
              "score-domain table: descending cumulative exact "
              "counts, integer-quantized ratios"),
    QuerySpec("sample_contrastive_pairs", sample_contrastive_pairs,
              SAMPLE_CONTRASTIVE_PAIRS_SQL,
              "deterministic (anchor, positive, negative) triplet "
              "mining: one ranked corpus shuffle feeds both sides, "
              "rank-modulo negative equi-join, no explosion"),
    QuerySpec("ml_auc_eval", ml_auc_eval, ML_AUC_EVAL_SQL,
              "Mann-Whitney ROC AUC without a global per-row sort: "
              "per-distinct-score aggregate + window over the "
              "bounded score domain, exact BIGINT 2U"),
    QuerySpec("sample_weighted", sample_weighted, SAMPLE_WEIGHTED_SQL,
              "Efraimidis-Spirakis A-ES weighted sample without "
              "replacement: content-stable exponential-race keys, "
              "per-partition top-k, corpus never shuffles"),
    QuerySpec("sample_mixture", sample_mixture, SAMPLE_MIXTURE_SQL,
              "domain-mixture rebalancing to target shares: tiny "
              "broadcast rate table + one narrow corpus pass"),
    QuerySpec("text_entropy", text_entropy, TEXT_ENTROPY_SQL,
              "char-distribution quality signals via replace-count "
              "identity: no explode, no shuffle"),
    QuerySpec("ml_linear_score", ml_linear_score, ML_LINEAR_SCORE_SQL,
              "hashed BoW linear quality classifier: broadcast "
              "weight table, exact integer weight sums"),
    QuerySpec("ml_calibration_bins", ml_calibration_bins,
              ML_CALIBRATION_BINS_SQL,
              "reliability bins for the linear classifier: one-shot "
              "scaled-int quantized probs, 10-row exact-integer agg"),
    QuerySpec("scd2_user_state", scd2_user_state, SCD2_USER_STATE_SQL,
              "SCD2 interval build from the event log: single "
              "user_id shuffle, shared window spec, output ~ changes"),
    QuerySpec("scd2_user_state_chunked", scd2_user_state_chunked,
              SCD2_USER_STATE_SQL,
              "hot-key-proof SCD2: chunked_lag for change detection, "
              "chunked_lag under reversed keys for the interval-close "
              "lead (bit-equal to the plain entry)"),
    QuerySpec("event_rollup_incremental", event_rollup_incremental,
              EVENT_ROLLUP_INCREMENTAL_SQL,
              "continuous-aggregate maintenance: mergeable per-shard "
              "partials fold to the exact rollup (merge == recompute)"),
    QuerySpec("dedup_containment", dedup_containment,
              DEDUP_CONTAINMENT_SQL,
              "Broder containment |A∩B|/|A|: one-sided subset/quote "
              "dedup, posting-list buckets, df-capped fan-out"),
    QuerySpec("similarity_mips", similarity_mips, SIMILARITY_MIPS_SQL,
              "exact maximum-inner-product top-k: broadcast queries, "
              "corpus never shuffles; norm-augmentation is the ANN path"),
    QuerySpec("event_ewma", event_ewma, EVENT_EWMA_SQL,
              "per-user EWMA over a bounded ROWS frame: one shuffle, "
              "identical HOF fold on both engines"),
    QuerySpec("event_ewma_chunked", event_ewma_chunked, EVENT_EWMA_SQL,
              "hot-key-proof EWMA: chunked_frame_list assembles the "
              "10-row frame with per-bucket tasks + boundary-tail "
              "carry; bit-equal to the plain entry"),
    QuerySpec("scalar_url", scalar_url, SCALAR_URL_SQL,
              "URL parse/normalize + registrable-domain rollup: "
              "narrow regex pass, map-side-combinable agg"),
    QuerySpec("agg_count_min", agg_count_min, AGG_COUNT_MIN_SQL,
              "portable count-min sketch: 4x256 mergeable counter "
              "table, one map-side-combinable agg, probes vs exact "
              "with the never-underestimate guarantee oracled"),
    QuerySpec("agg_histogram_quantiles", agg_histogram_quantiles,
              AGG_HISTOGRAM_QUANTILES_SQL,
              "mergeable equi-width histogram sketch: 64-cell "
              "counter table, quantile probes with bin-width error "
              "bound; shard merge == rebuild pinned by test"),
    QuerySpec("agg_exact_median_twophase", agg_exact_median_twophase,
              AGG_EXACT_MEDIAN_SQL,
              "exact global median without a global sort: 64-cell "
              "histogram refinement x2 then a ~n/4096 residual "
              "row_number; refine scans prune via min/max stats"),
    QuerySpec("table_merge_upsert", table_merge_upsert,
              TABLE_MERGE_UPSERT_SQL,
              "MERGE INTO semantics in one co-partitioned full-outer "
              "join; merged content verified by exact cent-sum "
              "checksum, durable half = sinks/staging.py"),
    QuerySpec("sample_token_budget", sample_token_budget,
              SAMPLE_TOKEN_BUDGET_SQL,
              "per-language token-budget greedy selection: "
              "content-stable draw order, per-stratum window cumsum"),
    QuerySpec("ml_knn_eval", ml_knn_eval, ML_KNN_EVAL_SQL,
              "per-class precision/recall/F1 over the kNN entry: "
              "exact integer confusion cells, quantized once"),
    QuerySpec("scalar_inet", scalar_inet, SCALAR_INET_SQL,
              "INET/CIDR parity (reference PG-type table): dotted-quad "
              "parse, bit-arithmetic CIDR containment, per-/8 rollup"),
    QuerySpec("table_quality_checks", table_quality_checks,
              TABLE_QUALITY_CHECKS_SQL,
              "declarative data-quality gate: not-null/unique/FK-orphan/"
              "range/accepted-values checks, one scan+agg each, "
              "broadcast anti-join for referential integrity"),
    QuerySpec("dedup_rate_by_source", dedup_rate_by_source,
              DEDUP_RATE_BY_SOURCE_SQL,
              "per-source dedup impact report: one content-hash window "
              "shuffle + one rollup"),
    QuerySpec("text_perplexity_buckets", text_perplexity_buckets,
              TEXT_PERPLEXITY_BUCKETS_SQL,
              "CCNet head/middle/tail split: exact quantized LM scores, "
              "percentile boundaries broadcast, narrow bucketing"),
    QuerySpec("multimodal_dedup", multimodal_dedup, MULTIMODAL_DEDUP_SQL,
              "content-addressed binary dedup: only 32-byte sha keys "
              "shuffle, never payload bytes; reclaimable-bytes report"),
    QuerySpec("ml_user_features", ml_user_features, ML_USER_FEATURES_SQL,
              "feature-store rollup: conditional aggregates (no pivot "
              "shuffle), exact scaled-integer value stats, recency"),
    QuerySpec("join_point_in_time", join_point_in_time,
              JOIN_POINT_IN_TIME_SQL,
              "point-in-time SCD2 lookup via union + carry-forward: "
              "ONE user shuffle, no interval self-join, no future leak"),
    QuerySpec("event_survival", event_survival, EVENT_SURVIVAL_SQL,
              "Kaplan-Meier retention curve: one log aggregate, then "
              "log-space running product on the tiny per-day table"),
    QuerySpec("ml_ab_test", ml_ab_test, ML_AB_TEST_SQL,
              "two-proportion z-test readout: one aggregate over the "
              "log, constant-size everything after"),
    QuerySpec("text_ngram_novelty", text_ngram_novelty,
              TEXT_NGRAM_NOVELTY_SQL,
              "first-occurrence trigram fraction per doc: one explode, "
              "exchange-reusing min-agg + join, no corpus self-join"),
    QuerySpec("event_running_unique", event_running_unique,
              EVENT_RUNNING_UNIQUE_SQL,
              "cumulative distinct users via first-occurrence flags + "
              "running sum: linear state, never a running COUNT(DISTINCT)"),
    QuerySpec("event_running_unique_chunked", event_running_unique_chunked,
              EVENT_RUNNING_UNIQUE_SQL,
              "hot-key-proof cumulative uniques: first-occurrence via "
              "min-aggregate, running sum via chunked_cumsum"),
    QuerySpec("dedup_exact_spans", dedup_exact_spans,
              DEDUP_EXACT_SPANS_SQL,
              "ExactSubstr-style maximal shared token spans: "
              "positioned k-gram buckets + gaps-and-islands over "
              "(pair, diagonal); df-capped, no suffix-array global sort"),
    QuerySpec("corpus_report", corpus_report, CORPUS_REPORT_SQL,
              "dataset-release corpus card: one corpus pass + one "
              "content-hash window, exact per-stratum accounting"),
]
