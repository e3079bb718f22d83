"""Text analysis operators for LLM-data pipelines: tokenization counts,
quality scoring, language-ID heuristic, document fingerprinting.

All hot-path expressions are JVM-side Catalyst built-ins (split,
regexp, length, filter/size higher-order functions) -- no Python UDFs
-- so they run inside whole-stage codegen and scale linearly with no
shuffle (pure narrow map over the documents table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.layout import spread
from . import pairs

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately deterministic and SQL-expressible so the DuckDB oracle
# can replay the exact same scoring.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "es", "los"),
    "zh": ("的", "是", "了", "我", "不"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")

# Simple word tokenizer: runs of letters/digits.
WORD_REGEX = "[A-Za-z0-9]+"

# BPE-ish pre-tokenizer: a GPT-2-style split (contraction suffixes,
# space-prefixed letter runs, digit runs, symbol runs) restricted to
# the regex subset Java regex (Spark) and RE2 (DuckDB) interpret
# identically -- no lookahead, so the original's \s+(?!\S) tail rule
# is approximated by folding whitespace into the following token. The
# final ` ?'+` alternative keeps standalone/leading apostrophes
# ('tis, trailing quotes) as tokens; without it they vanish, a small
# systematic undercount vs the GPT-2 pre-tokenizer.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+| ?'+"


def ws_tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), "\\s+")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-, word-, and BPE-pre-tokenizer token counts per
    document -- the cheap LLM-budget estimators (all JVM regex, one
    narrow pass, no UDF)."""
    df = spread(df)
    return df.withColumns(
        {
            "ws_tokens": F.size(ws_tokens(text_col)).cast("long"),
            "word_tokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(WORD_REGEX), 0)
            ).cast("long"),
            "bpe_tokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
            ).cast("long"),
            "chars": F.length(text_col).cast("long"),
        }
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing (MOSS) rolling-hash document fingerprints (Schleimer,
    Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting"): hash every
    token ``k``-gram, slide a window of ``w`` consecutive gram hashes,
    keep each window's minimum, emit the distinct mins as the doc's
    fingerprint set. Shared partial overlaps between documents surface
    as shared fingerprints -- the standard local-similarity complement
    to whole-document hashing (``fingerprint``) and set-similarity
    dedup (MinHash).

    All expressions are JVM higher-order functions over one row per
    document; no explode before the final distinct set, so shuffle
    volume is fingerprints (~n_tokens/w), not grams. Gram hashes use
    an md5 prefix (not xxhash64) so the DuckDB oracle can reproduce
    them bit-for-bit.
    """
    # Tokenize and hash into MATERIALIZED columns: the gram-hash chain
    # is referenced twice (window count + the min-slices) and the token
    # array three times; inlined, each reference re-evaluates the whole
    # upstream chain (split + per-gram md5).
    base = spread(df).withColumn("__toks", ws_tokens(F.col(text_col)))
    toks = F.col("__toks")
    n_grams = F.size(toks) - (k - 1)
    gram_idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        gram_idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )
    hashed = base.withColumn(
        "__gram_hashes",
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        ),
    )
    hashes = F.col("__gram_hashes")
    n_wins = F.size(hashes) - (w - 1)
    win_idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )
    fps = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice(hashes, j, w)))
    )
    return hashed.select(
        F.col(id_col), F.explode(fps).alias("fingerprint")
    )


def winnow_doc_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_fp_df: int = 100,
) -> DataFrame:
    """Per-doc canonical winnowing-fingerprint SETS after the
    df-[2, cap] filter: (id, fps sorted array, n_fp, ck md5 set key).

    The df filter runs as a WINDOW count, not a groupBy+semi-join:
    the semi-join form derives the winnowing corpus scan TWICE (once
    under the count aggregate, once as the probe side; Catalyst does
    not deduplicate the common subplan) and was measured 2x the cost
    of the single-derivation window at 16x volume (6.9 s vs 3.4 s).
    One shuffle on the fingerprint, no O(|fingerprints|) keep-list
    broadcast anywhere. Dropping df=1 fingerprints is exact for any
    pair semantics (nothing shares them); df>cap is the declared
    boilerplate cap.
    """
    from pyspark.sql.window import Window

    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    wdf = Window.partitionBy("fingerprint")
    fpk = (
        fp.withColumn("__fdf", F.count("*").over(wdf))
        .filter((F.col("__fdf") >= 2) & (F.col("__fdf") <= max_fp_df))
        .drop("__fdf")
    )
    return (
        fpk.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("fingerprint")).alias("fps"))
        .select(
            F.col(id_col).alias("id"), "fps",
            F.size("fps").alias("n_fp"),
            # 16-byte binary set key: unhex halves the ck bytes the
            # bucket/pair shuffles carry vs the 32-char md5 hex string
            # (guide: narrower types), with identical injectivity.
            F.unhex(F.md5(F.concat_ws(
                "\x1f", F.expr("cast(fps as array<string>)")
            ))).alias("ck"),
        )
    )


def passage_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_fp_df: int = 100,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    -- copied-passage detection, the local-overlap complement to
    whole-set Jaccard dedup.

    Like the MinHash/SimHash buckets, each fingerprint's documents are
    GROUPED (collect_list) and paired in-bucket rather than
    self-joined on the fingerprint key: Catalyst does not deduplicate
    a self-join's common subplan, so the join formulation would run
    the whole winnowing pipeline (the expensive corpus scan) twice.
    Fingerprints appearing in more than ``max_fp_df`` documents are
    dropped -- boilerplate a third of the corpus shares cannot
    pinpoint a copied passage, and its in-bucket fan-out is the one
    quadratic risk at corpus scale. The cap is part of the declared
    semantics so the oracle reproduces it exactly.

    Duplication-adaptive per ``operators/pairs.py``: shared_fps is a
    pure set function, so on an exact-duplicate-heavy corpus docs
    collapse to exact-fingerprint-set clusters before pairing. Set
    equality is decided AFTER the df-[2, cap] fingerprint filter,
    which is exact: a df=1 fingerprint can never contribute to any
    pair (nothing shares it), and a df>cap fingerprint is dropped as
    declared semantics, so the filtered set determines every pair
    count. Intra-cluster pairs share their whole filtered set.
    """
    # The plan-hygiene test asserts the un-truncated per-doc set table
    # (``winnow_doc_sets``) scans the corpus exactly once and the
    # post-checkpoint plan not at all.
    docs_arr, cluster, width = pairs.choose_shape(
        df.sparkSession,
        lambda: winnow_doc_sets(df, id_col, text_col, k, w, max_fp_df),
        "ck", F.sum("n_fp"),
    )
    # The direct shape pairs doc ids, the cluster shape set keys over
    # one representative per cluster.
    key = "ck" if cluster else "id"
    if cluster:
        members, sets = pairs.collapse_by_key(docs_arr, ["fps"])
    else:
        sets = docs_arr
    post = sets.select(key, F.explode("fps").alias("fingerprint"))
    buckets = post.repartition(width, "fingerprint").groupBy(
        "fingerprint"
    ).agg(
        F.collect_list(key).alias("ks")
    )
    a, b = f"{key}_a", f"{key}_b"
    shared = (
        buckets.filter(F.size("ks") >= 2)
        .select(pairs.bucket_pairs("ks", names=(a, b)))
        .groupBy(F.col("p." + a).alias(a), F.col("p." + b).alias(b))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    if not cluster:
        return shared
    # Intra-cluster pairs: identical filtered sets share every
    # fingerprint, so shared_fps is the set size itself.
    return pairs.fan_out(
        shared, members, ["shared_fps"],
        [F.col("n_fp").cast("long").alias("shared_fps")],
        intra_where=F.col("n_fp") >= min_shared,
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3, 5),
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, "Scaling Language Models: ... Gopher", appendix A1.1): for
    each word-n-gram size ``n``,

    * ``top{n}_count``     -- occurrences of the document's most
      frequent n-gram (count-desc, gram-asc tiebreak, deterministic);
    * ``top{n}_char_frac`` -- characters covered by that n-gram
      (count x gram length / doc chars; overlapping occurrences mean
      the ratio can exceed 1, as in the paper's definition);
    * ``dup{n}_frac``      -- fraction of the document's n-grams that
      are repeats of an earlier one (1 - distinct/total).

    The paper's line-based signals (duplicate line fraction) are
    meaningless on single-line documents, so the word-n-gram family
    carries the whole repetition axis here.

    Scale shape: ZERO shuffles -- a pure narrow map. The per-doc
    top-gram count does not need a (doc, gram) aggregation: sort the
    gram array and fold it once tracking the longest run
    (O(t log t) per document, JVM-side, embarrassingly parallel).
    ``dup{n}_frac`` is ``array_distinct`` arithmetic on the same
    array. Every document keeps a row; sizes with no n-grams report
    zeros. The first-max-run-wins fold over the ASC-sorted array
    makes the tiebreak "smallest gram among equal counts".
    """
    from ..functions import dround

    base = spread(df).select(
        F.col(id_col),
        F.greatest(F.length(text_col), F.lit(1)).cast("double").alias("__chars"),
        ws_tokens(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")

    def gram_at(n: int):
        # Factory capture (see language_id): a default arg would be
        # introspected by PySpark as a second lambda variable.
        return lambda i: F.concat_ws(" ", F.slice(toks, i, n))

    def run_step(acc: Column, g: Column) -> Column:
        run = F.when(g == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc.getField("best")
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc.getField("best")).alias("best"),
            F.when(better, g).otherwise(acc.getField("bg")).alias("bg"),
        )

    cols: dict[str, Column] = {}
    for n in ns:
        n_g = F.size(toks) - (n - 1)
        idx = F.when(n_g >= 1, F.sequence(F.lit(1), n_g)).otherwise(
            F.array().cast("array<int>")
        )
        grams = F.array_sort(F.transform(idx, gram_at(n)))
        top = F.aggregate(
            grams,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
                F.lit(None).cast("string").alias("bg"),
            ),
            run_step,
        )
        cols[f"__g{n}"] = grams
        cols[f"__top{n}"] = top
    staged = base.withColumns(cols)
    out: dict[str, Column] = {}
    for n in ns:
        grams, top = F.col(f"__g{n}"), F.col(f"__top{n}")
        total = F.size(grams).cast("double")
        nd = F.size(F.array_distinct(grams)).cast("double")
        cnt = top.getField("best")
        out[f"top{n}_count"] = cnt.cast("long")
        out[f"top{n}_char_frac"] = F.when(
            cnt >= 1,
            dround(
                cnt.cast("double")
                * F.length(top.getField("bg"))
                / F.col("__chars"),
                6,
            ),
        ).otherwise(F.lit(0.0))
        out[f"dup{n}_frac"] = F.when(
            total >= 1, dround((total - nd) / total, 6)
        ).otherwise(F.lit(0.0))
    return staged.select(F.col(id_col), *[c.alias(a) for a, c in out.items()])


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features (the standard
    cheap pre-filters for web-scale corpus cleaning)."""
    df = spread(df)
    # Tokenize ONCE into a real column: n_tokens is referenced by
    # three ratios, and inlining would re-split the text per
    # reference (CollapseProject keeps multi-referenced non-cheap
    # expressions in their own Project, so these evaluate once).
    tokenized = df.withColumn("__toks", ws_tokens(text_col))
    toks = F.col("__toks")
    n_toks = F.size(toks)
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, F.lower(x))))
    punct = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    return tokenized.withColumns(
        {
            "n_tokens": n_toks.cast("long"),
            "mean_token_len": (
                F.length(F.regexp_replace(F.col(text_col), "\\s+", ""))
                / F.greatest(n_toks, F.lit(1))
            ),
            "punct_ratio": punct / F.greatest(F.length(text_col), F.lit(1)),
            "stopword_ratio": n_stop / F.greatest(n_toks, F.lit(1)),
        }
    ).drop("__toks")


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language scoring; argmax with deterministic
    alphabetical tiebreak. A real deployment swaps the lexicons for
    character-n-gram profiles; the plan shape (pure column expressions,
    zero shuffle) is the point."""
    df = spread(df)
    toks = ws_tokens(F.lower(F.col(text_col)))

    # Factory capture: a default arg (`lambda x, a=arr:`) would be
    # introspected by PySpark as a second lambda variable.
    def in_markers(arr: Column):
        return lambda x: F.array_contains(arr, x)

    # Materialize the per-language scores as REAL columns before the
    # argmax: greatest() + the when-chain reference every score ~6
    # times, and inlined scores would re-tokenize the text per
    # reference (~30 split+filter evaluations per row). As separate
    # attributes, CollapseProject keeps the non-cheap expressions in
    # their own Project and each evaluates once.
    scores: dict[str, Column] = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, in_markers(arr)))
    scored = df.withColumns(
        {f"__s_{lang}": c for lang, c in scores.items()}
    )
    cols = {lang: F.col(f"__s_{lang}") for lang in scores}
    best = F.greatest(*cols.values())
    # argmax with alphabetical tiebreak: first lang reaching the max.
    pred = F.lit(None).cast("string")
    for lang in sorted(cols, reverse=True):
        pred = F.when(cols[lang] == best, F.lit(lang)).otherwise(pred)
    return scored.withColumns(
        {"lang_pred": pred, "lang_score": best.cast("long")}
    ).drop(*[f"__s_{lang}" for lang in scores])


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 3,
) -> DataFrame:
    """Top-n terms per document by tf-idf (idf = ln(N / df)).

    One explode+count for term frequencies; document frequency as a
    ``count over (partition by term)`` window on that SAME tf table
    (one row per (doc, term) already, so the window count IS df).
    A broadcast-join formulation (tf -> groupBy term -> join back to
    tf) reads nicer but Catalyst does not deduplicate the shared tf
    subplan, so it explodes and aggregates the corpus twice; the
    window touches only the vocabulary-sized tf table. All counts are
    exact integers; only the final score is float (ln), so the oracle
    comparison rounds the score alone.
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    terms = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(ws_tokens(F.lower(F.col(text_col))), lambda x: x != "")
        ).alias("term"),
    )
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    # N as a broadcast single-row agg, not a separate df.count() job:
    # the whole query stays ONE job; the count subplan is a
    # metadata-only parquet row-count scan.
    n_docs = df.agg(F.count("*").cast("double").alias("__n_docs"))
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).crossJoin(F.broadcast(n_docs)).select(
        "doc", "term", "tf", "df",
        (F.col("tf") * F.log(F.col("__n_docs") / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select(
            F.col("doc").alias(id_col), "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("doc_freq"),
            dround("score", 6).alias("tfidf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-unigram language-model score per document -- the
    CCNet-style (Wenzek et al. 2020) perplexity-proxy quality filter,
    with the corpus itself as the LM: documents made of corpus-rare
    tokens score low ``avg_logprob`` / high ``ppl`` and are the usual
    head-cut candidates.

    Plan shape mirrors ``tfidf_top_terms``: one explode to (doc, term)
    counts, corpus term frequency as ``sum(tf) over (partition by
    term)`` on that SAME tf table (no second corpus explode, no
    vocabulary join), total token count as a one-row broadcast agg
    over a text-pruned second scan. Per-term log-probabilities are
    quantized to 1e-6 scaled BIGINTs before the per-doc sum, so the
    sum is order-independent (exact integer addition) and the DuckDB
    oracle reproduces it bit-for-bit regardless of partial-aggregation
    order -- the same scaled-integer trick as the money sums.
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    clean = lambda c: F.filter(ws_tokens(F.lower(c)), lambda x: x != "")  # noqa: E731
    terms = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(clean(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    total = spread(df).agg(
        F.sum(F.size(clean(F.col(text_col)))).cast("double").alias("__total")
    )
    scored = tf.withColumn(
        "ctf", F.sum("tf").over(Window.partitionBy("term"))
    ).crossJoin(F.broadcast(total))
    lpq = F.floor(
        F.col("tf")
        * F.log(F.col("ctf").cast("double") / F.col("__total"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    per_doc = scored.groupBy("doc").agg(
        F.sum("tf").alias("n_tokens"), F.sum(lpq).alias("lp_sum")
    )
    avg = F.col("lp_sum") / F.lit(1000000.0) / F.col("n_tokens")
    return per_doc.select(
        F.col("doc").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        dround(avg, 6).alias("avg_logprob"),
        dround(F.exp(-avg), 4).alias("ppl"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model score per document --
    Jelinek-Mercer smoothing (lambda * P(w2|w1) + (1-lambda) *
    P(w2)), the next rung above ``unigram_lm_scores`` on the CCNet
    quality ladder: word-salad documents whose unigrams look normal
    but whose transitions are improbable score low here.

    Plan shape: doc-bigram counts once (one explode), corpus bigram
    frequency as a window over that SAME tf table, unigram counts
    from a second explode joined on the vocabulary (AQE chooses
    broadcast vs shuffle), total tokens as a one-row broadcast agg.
    Per-bigram log-probabilities are quantized to 1e-6 scaled
    BIGINTs before the per-doc sum -- exact integer addition, so the
    DuckDB oracle is replayed independent of partial-aggregation
    order (same trick as the unigram scorer).
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    clean = F.filter(ws_tokens(F.lower(F.col(text_col))), lambda x: x != "")
    toks = spread(df).select(F.col(id_col).alias("doc"), clean.alias("w"))
    bi = toks.filter(F.size("w") >= 2).select(
        "doc",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> named_struct('w1', w[i - 1], 'w2', w[i]))"
            )
        ).alias("s"),
    )
    tf = bi.groupBy(
        "doc", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2")
    ).agg(F.count("*").alias("tf"))
    cb = tf.withColumn(
        "cb", F.sum("tf").over(Window.partitionBy("w1", "w2"))
    )
    # Vocabulary-sized and consumed by BOTH join sides below:
    # materialize once (lazy checkpoint) or the unigram corpus
    # explode + count re-runs per side (Catalyst does not dedupe a
    # join's shared subplan). toks itself stays unmaterialized by
    # design -- corpus-sized, cheaper to re-derive than to spill.
    uni = (
        toks.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=False)
    )
    ua = uni.select(F.col("term").alias("w1"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("term").alias("w2"), F.col("c1").alias("c2"))
    tot = toks.agg(F.sum(F.size("w")).cast("double").alias("__total"))
    p = (
        F.lit(lam) * F.col("cb").cast("double") / F.col("ca").cast("double")
        + F.lit(1.0 - lam) * F.col("c2").cast("double") / F.col("__total")
    )
    lpq = F.floor(
        F.col("tf") * F.log(p) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    per_doc = (
        cb.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc")
        .agg(F.sum("tf").alias("n_bigrams"), F.sum(lpq).alias("lp_sum"))
    )
    avg = F.col("lp_sum") / F.lit(1000000.0) / F.col("n_bigrams")
    return per_doc.select(
        F.col("doc").alias(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        dround(avg, 6).alias("avg_logprob"),
        dround(F.exp(-avg), 4).alias("ppl"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 25,
) -> DataFrame:
    """Top-n corpus collocations by pointwise mutual information
    (Church & Hanks 1990): pmi(x, y) = ln( p(x,y) / (p(x) p(y)) )
    over word bigrams, with a ``min_count`` support floor (PMI's
    classic low-frequency pathology).

    Scale shape: two corpus explodes (unigram counts, bigram counts)
    plus one text-pruned totals scan -- a single tagged explode would
    read nicer but both count tables join back together and Catalyst
    does not deduplicate the shared subplan, so the fused form would
    re-explode the corpus per join input. The unigram table is
    vocabulary-sized; the joins are plain equi-joins on the term key
    so AQE picks broadcast when the vocabulary fits and falls back to
    a shuffle join when (at web scale) it does not -- deliberately NOT
    a forced broadcast. Final top-n is sort+limit (TakeOrdered), not a
    global window; ``rnk`` is attached after the limit on top_n rows.
    """
    from pyspark.sql.window import Window

    from ..functions import dround

    toks = spread(df).select(
        F.filter(ws_tokens(F.lower(F.col(text_col))), lambda x: x != "").alias("w")
    )
    # Vocabulary-sized and consumed by BOTH join sides below:
    # materialize once (lazy checkpoint) or the unigram corpus
    # explode + count re-runs per side (Catalyst does not dedupe a
    # join's shared subplan). toks itself stays unmaterialized by
    # design -- corpus-sized, cheaper to re-derive than to spill.
    uni = (
        toks.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=False)
    )
    bi = (
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> named_struct('w1', w[i - 1], 'w2', w[i]))"
                )
            ).alias("s")
        )
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= min_count)
    )
    totals = toks.agg(
        F.sum(F.size("w")).cast("double").alias("__nu"),
        F.sum(F.greatest(F.size("w") - 1, F.lit(0))).cast("double").alias("__nb"),
    )
    lc = uni.select(F.col("term").alias("w1"), F.col("c1").alias("left_count"))
    rc = uni.select(F.col("term").alias("w2"), F.col("c1").alias("right_count"))
    pmi = F.log(
        F.col("cb").cast("double") * F.col("__nu") * F.col("__nu")
        / (
            F.col("__nb")
            * F.col("left_count").cast("double")
            * F.col("right_count").cast("double")
        )
    )
    scored = (
        bi.join(lc, "w1")
        .join(rc, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cb").cast("long").alias("occurrences"),
            F.col("left_count").cast("long").alias("left_count"),
            F.col("right_count").cast("long").alias("right_count"),
            dround(pmi, 6).alias("pmi"),
        )
    )
    limited = scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(top_n)
    w = Window.orderBy(F.desc("pmi"), F.asc("bigram"))
    return limited.withColumn("rnk", F.row_number().over(w).cast("long"))


# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): plain character classes, no lookaround/backrefs.
EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_REGEX = "https?://[^\\s]+"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detect and redact emails/URLs (the baseline PII pass every
    training-data pipeline runs before release). Adds per-doc match
    counts and the redacted text plus its content hash, so downstream
    dedup keys on the CLEAN text. Pure JVM regex -- one narrow pass."""
    df = spread(df)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_REGEX, "<EMAIL>"),
        URL_REGEX,
        "<URL>",
    )
    return df.withColumns(
        {
            "n_emails": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_REGEX), 0)
            ).cast("long"),
            "n_urls": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(URL_REGEX), 0)
            ).cast("long"),
            "scrubbed_text": scrubbed,
            "scrubbed_sha256": F.sha2(scrubbed, 256),
        }
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lowercase, strip punctuation,
    collapse whitespace, sha256. Content-addressed dedup key that is
    stable under formatting noise."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    return df.withColumn("fingerprint", F.sha2(normalized, 256))
