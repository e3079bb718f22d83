"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard -- the standard near-dup ladder for training-corpus cleaning.

Algorithms from the public literature: MinHash (Broder 1997,
"On the resemblance and containment of documents"), banded LSH
(Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3),
SimHash (Charikar 2002; Manku et al. 2007 for the chunk-pigeonhole
near-dup search).

Scale posture: nothing here ever builds an all-pairs cross join.
Exact dedup is a hash aggregation on the content key; MinHash/LSH and
shingle-Jaccard generate candidate pairs by *equi-joining on bucket
keys* (band signatures / shared shingles), so the shuffle volume is
proportional to collisions, not n^2. All hashing is Spark-built-in
(xxhash64 / sha2 / crc32), JVM-side, deterministic across runs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.layout import spread
from . import pairs
from .textstats import ws_tokens

# Mersenne prime 2^31-1: universal-hash modulus. 31-bit values keep
# every intermediate (h*a + b, h,a,b < 2^31) below 2^63, so the math
# stays in plain long arithmetic with no overflow even under ANSI mode
# (Spark 4 default) -- no BIGDECIMAL, no wraparound, fully JVM-side.
_P = (1 << 31) - 1


def portable_hash60(col: Column | str) -> Column:
    """Cross-engine deterministic 60-bit hash: the first 15 hex chars
    of md5, parsed as an integer. Bit-identical in DuckDB as
    ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)``, which is
    what makes MinHash/SimHash catalog entries value-exact against
    the oracle. xxhash64 stays the default for production paths
    (one JVM hash vs md5 + hex parse)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _shingle_hash(hash_family: str) -> "Callable[[Column], Column]":
    if hash_family == "xxhash64":
        return lambda c: F.pmod(F.xxhash64(c), F.lit(_P))
    if hash_family == "portable":
        return lambda c: F.pmod(portable_hash60(c), F.lit(_P))
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key: the one with the smallest
    ``order_col``. Deterministic (unlike dropDuplicates, whose survivor
    depends on partition order) and shuffle-optimal: one hash
    aggregation, no sort of the full data."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-TOKENIZED array
    column (JVM-side: transform + array_distinct; no UDF). Take a
    materialized attribute, not the tokenize expression itself: this
    references ``toks`` three times, and an inline split() would be
    re-evaluated per reference (and again by filter pushdown).

    Guarded for texts shorter than ``n`` tokens: ``sequence(1, 0)``
    is DESCENDING in Spark ([1, 0]), so an unguarded upper bound of 0
    would feed slice() a zero start and throw."""
    k = F.size(toks) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.array_distinct(grams)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a raw text column. Prefer
    ``shingles_of`` over a materialized token column in plans -- this
    convenience form embeds the tokenization 3x."""
    return shingles_of(ws_tokens(text), n)


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int,
    max_df: int | None = None,
) -> DataFrame:
    """(id, shingle) rows: one per distinct shingle of each document.
    With ``max_df``, shingles in more than ``max_df`` documents are
    dropped by a WINDOW count, not groupBy+semi-join: the semi-join
    derives the corpus shingle explode twice (no common-subplan dedup
    in Catalyst); the window filters in the one shuffle, with no
    O(|shingles|) keep-list to broadcast."""
    sh = spread(df).withColumn("__toks", ws_tokens(text_col)).select(
        F.col(id_col).alias("id"),
        F.explode(shingles_of(F.col("__toks"), n)).alias("shingle"),
    )
    if max_df is None:
        return sh
    return (
        sh.withColumn(
            "__gdf", F.count("*").over(Window.partitionBy("shingle"))
        )
        .filter(F.col("__gdf") <= max_df)
        .drop("__gdf")
    )


def _hash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash parameters per permutation;
    derived from the index so executors need no broadcast state."""
    out = []
    for i in range(num_hashes):
        a = (seed * 1_000_003 + i * 7_919) % _P or 1
        b = (seed * 7_753 + i * 104_729) % _P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures.

    Shape chosen for scale AND codegen: explode shingles once, hash
    each to one long, compute the num_hashes permuted hashes in a
    single Project, then ONE hash aggregation of plain ``min(col)``
    functions. Nesting the permutations as array transforms instead
    (num_hashes copies of the shingle expression tree) blows the
    whole-stage-codegen method-size limit and falls back to
    interpreted eval -- ~100x slower at sf0.1. Keeping the pmod
    arithmetic in the Project rather than inside the aggregate
    functions roughly halves the generated aggregate class, cutting
    its janino compile time (the dominant fixed cost of this plan).
    Partial (map-side) min aggregation means shuffle volume is
    num_hashes longs per doc, independent of document length.
    """
    sh = _doc_shingles(df, id_col, text_col, n).select(
        "id", _shingle_hash(hash_family)(F.col("shingle")).alias("h")
    )
    # SQL-text expressions, not composed Column objects: each F.pmod(
    # F.col()*F.lit()+F.lit()) chain is ~8 py4j round trips and with
    # num_hashes of them the driver spends ~1s just BUILDING the plan;
    # one parsed string per column is ~5x cheaper (measured 1.07s ->
    # 0.22s) and produces the identical expression tree.
    proj = sh.selectExpr(
        "id",
        *[
            f"pmod(h * {a}L + {b}L, {_P}L) AS h{i}"
            for i, (a, b) in enumerate(_hash_params(num_hashes))
        ],
    )
    return (
        proj.groupBy("id")
        .agg(F.expr("min(h0) AS m0"),
             *[F.expr(f"min(h{i}) AS m{i}") for i in range(1, num_hashes)])
        .selectExpr(
            "id",
            "array(" + ",".join(f"m{i}" for i in range(num_hashes)) + ") AS sig",
        )
    )


def banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, hash_family: str,
    keep: tuple[str, ...] = ("id", "sig"),
) -> DataFrame:
    """``keep`` columns of a signature table, one row per band with the
    band bucket key: the hash of the band's signature slice rendered
    as a comma-joined string (md5 under the portable family, so the
    DuckDB oracle reproduces the buckets byte-for-byte)."""
    rows = num_hashes // bands
    band_hasher = F.xxhash64 if hash_family == "xxhash64" else F.md5
    return sig.select(
        *keep,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: band_hasher(
                    F.concat_ws(
                        ",", F.transform(
                            F.slice("sig", b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        )
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )


def jaccard_est_sql(a: str, b: str, num_hashes: int) -> str:
    """MinHash Jaccard estimate of two signatures: the share of
    permutations on which they agree."""
    return (f"size(filter(zip_with({a}, {b}, (p, q) -> p = q), e -> e))"
            f" / {num_hashes}")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket_size: int = 1024,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    shingle -> minhash signature -> split into ``bands`` bands of
    ``num_hashes/bands`` rows -> group docs by (band, band-hash) ->
    emit in-bucket pairs. Returns (id_a < id_b, jaccard_est).

    Grouping into buckets (collect_list) instead of a band-key
    self-join means the signature aggregation -- the expensive
    full-corpus scan -- runs ONCE; Catalyst does not deduplicate the
    common subplan of a self-join, so the join formulation scans and
    sketches the corpus twice. Shuffle volume is one (sig, band) row
    per doc-band either way; candidates only, never all pairs.
    ``max_bucket_size`` drops degenerate buckets (boilerplate/empty
    text collapsing onto one band hash) whose in-bucket pairing would
    go quadratic at corpus scale; everything in such a bucket pairs
    with everything, so no discriminating near-dup signal is lost.

    Duplication-adaptive (``operators/pairs.py``): both band hashes and
    estimate are pure functions of the signature, so docs with
    identical signatures collapse to one representative. The bucket
    cap counts DOCS (summed cluster sizes), and an intra pair is
    emitted iff its cluster reaches a kept bucket -- exactly the
    uncollapsed reachability.
    """
    est = jaccard_est_sql("x.sig", "y.sig", num_hashes)
    sig, cluster, width = pairs.choose_shape(
        df.sparkSession,
        lambda: minhash_signatures(
            df, id_col, text_col, num_hashes, n, hash_family
        ),
        "sig", F.count_distinct("sig") * bands,
    )
    if not cluster:
        buckets = (
            banded_signatures(sig, num_hashes, bands, hash_family)
            .groupBy("band", "band_hash")
            .agg(F.collect_list(F.struct("id", "sig")).alias("ms"))
            .filter(
                (F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size)
            )
        )
        return (
            buckets.select(pairs.bucket_pairs(
                "ms", "id", score={"jaccard_est": est}))
            .select("p.id_a", "p.id_b", "p.jaccard_est")
            .dropDuplicates(["id_a", "id_b"])
        )
    # 16-byte binary cluster key (md5 over the comma-joined signature)
    # so the member fan-out joins shuffle 16 bytes per row instead of
    # the 32-long array.
    sk = F.unhex(F.md5(F.concat_ws(
        ",", F.transform(F.col("sig"), lambda x: x.cast("string"))
    )))
    members, clusters = pairs.collapse_by_key(
        sig.select("id", "sig", sk.alias("ck")), ["sig"], size="csize"
    )
    # Same-key repartition pins the bucket stage's width against AQE
    # byte-based coalescing (explode_width); the following same-key
    # groupBy reuses the exchange, no shuffle added.
    buckets = (
        banded_signatures(clusters, num_hashes, bands, hash_family,
                          keep=("ck", "sig", "csize"))
        .repartition(width, "band", "band_hash")
        .groupBy("band", "band_hash")
        .agg(
            F.collect_list(F.struct("ck", "sig")).alias("ms"),
            F.sum("csize").alias("nd"),
        )
        .filter((F.col("nd") >= 2) & (F.col("nd") <= max_bucket_size))
    )
    rep_pairs = (
        buckets.select(pairs.bucket_pairs(
            "ms", "ck", ("ck_a", "ck_b"), score={"jaccard_est": est}))
        .select("p.ck_a", "p.ck_b", "p.jaccard_est")
        .dropDuplicates(["ck_a", "ck_b"])
    )
    kept_cks = buckets.select(
        F.explode(F.transform("ms", lambda m: m["ck"])).alias("ck")
    ).distinct()
    multi = clusters.filter(F.col("csize") >= 2).join(kept_cks, "ck")
    # Identical signatures agree on every row: the estimate is
    # size/num_hashes = exactly 1.0.
    return pairs.fan_out(
        rep_pairs, members, ["jaccard_est"],
        [(F.lit(num_hashes) / F.lit(num_hashes)).alias("jaccard_est")],
        intra_members=members.join(multi.select("ck"), "ck")
        .select("ck", "id"),
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64, hash_family: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sign of the sum
    of +-1 votes from each token's xxhash64 bit. Hamming-close
    signatures => near-duplicate texts. Pure column expressions."""
    # Explode distinct tokens to one row each, hash once, compute the
    # per-bit +-1 votes in one Project, then ONE aggregation of plain
    # sum(col) functions (nested array aggregates per bit would exceed
    # the codegen method-size limit, and votes inside the aggregate
    # functions double its generated-code size -- see
    # minhash_signatures). Map-side partial sums keep the shuffle at
    # `bits` longs per doc.
    # 2^63 would overflow signed long; the portable hash only has 60
    # meaningful bits (bits above are always 0 -> constant -1 votes,
    # harmless but wasted), so portable callers pass bits <= 48.
    nbits = min(bits, 63)
    token_hash = (
        F.xxhash64 if hash_family == "xxhash64" else portable_hash60
    )
    if hash_family not in ("xxhash64", "portable"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    tok = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(ws_tokens(text_col))).alias("tk"),
    ).select("id", token_hash(F.col("tk")).alias("h"))
    # SQL-text expressions for the same py4j-build-cost reason as
    # minhash_signatures (nbits * 3 composed-Column chains would cost
    # ~1000 driver round trips per plan).
    proj = tok.selectExpr(
        "id",
        *[f"IF(getbit(h, {i}) = 1, 1, -1) AS b{i}" for i in range(nbits)],
    )
    agg = proj.groupBy("id").agg(
        F.expr("sum(b0) AS v0"),
        *[F.expr(f"sum(b{i}) AS v{i}") for i in range(1, nbits)],
    )
    sig_sql = " + ".join(f"IF(v{i} > 0, {2 ** i}L, 0L)" for i in range(nbits))
    return agg.selectExpr(f"id AS {id_col}", f"({sig_sql}) AS simhash")


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 8,
                       max_bucket_size: int = 1024,
                       bits: int = 64,
                       hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: block on signature chunks, then
    verify hamming distance exactly.

    Pigeonhole completeness: with 4 chunks, a pair differing in at
    most 3 bits MUST share an identical chunk, so blocking is
    lossless for ``max_hamming <= 3``. Beyond that it is recall-based
    (a hamming-4 pair can place one differing bit in every chunk and
    never collide); callers wanting a lossless larger radius should
    raise the chunk count to ``max_hamming + 1`` (Manku et al. 2007's
    construction), trading bucket-key width for bucket size.

    Like ``minhash_lsh_pairs``, buckets are grouped (collect_list)
    rather than self-joined on the chunk key: the signature
    aggregation is the expensive corpus scan and a self-join would
    run it twice. Oversize buckets (a chunk value shared by huge
    cohorts of boilerplate docs) are dropped -- their in-bucket
    pairing is quadratic and carries no discriminating signal.
    """
    sigs = simhash(df, id_col, text_col, bits, hash_family)
    # 4 pigeonhole chunks covering the full signature width:
    # ceil(nbits/4) bits each -- 16 for the default 64(63)-bit
    # signature, 12 for the portable 48-bit one. Floor division would
    # shrink the chunk key space (15-bit chunks for bits=64): merged,
    # bigger buckets that cross max_bucket_size get dropped wholesale,
    # and the top signature bits would never participate in blocking.
    chunk_bits = (min(bits, 63) + 3) // 4
    chunk_mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk_no"),
                    F.shiftright("simhash", i * chunk_bits)
                    .bitwiseAND(F.lit(chunk_mask))
                    .alias("chunk"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("id", "simhash", F.col("c.chunk_no"), F.col("c.chunk"))
    buckets = (
        chunks.groupBy("chunk_no", "chunk")
        .agg(F.collect_list(F.struct("id", "simhash")).alias("ms"))
        .filter(
            (F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size)
        )
    )
    hamming = "CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)"
    return (
        buckets.select(pairs.bucket_pairs(
            "ms", "id", score={"hamming": hamming}))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at or above ``threshold``, by an
    inverted index: count shared shingles per pair.

    ``max_shingle_df`` (declared semantics when set): shingles whose
    global document frequency exceeds the cap are dropped from every
    document's set BEFORE sizes and intersections -- Jaccard over
    non-boilerplate shingles. This bounds the inverted index's
    worst-case fan-out (a shingle shared by k documents produces k^2
    candidate rows; boilerplate headers/footers at corpus scale make
    k unbounded) at the cost of ignoring exactly the shingles that
    carry no discriminating signal.

    Shingles group into per-shingle posting lists (collect_list), and
    everything else -- document sizes, pair intersections -- derives
    from that bucket table. The earlier formulation joined the
    exploded shingle table against itself and against two size
    aggregations, materializing the shingle pipeline (the expensive
    corpus explode) FOUR times in the plan; Catalyst does not
    deduplicate a self-join's common subplan.

    With ``max_shingle_df`` set, hot shingles are pruned with a
    COUNT aggregation (fixed-size state) + broadcast-able semi-join
    BEFORE any posting list is collected: a boilerplate shingle
    shared by millions of docs never concentrates its ids in one
    aggregation buffer, and a surviving list holds at most cap ids.
    That prune re-derives the exploded shingle table (two corpus
    explodes total -- still half the old plan's four, and the explode
    is cheap next to an unbounded collect_list buffer). The cap also
    bounds pair fan-out at cap^2 per shingle (declared semantics,
    reproduced by the oracle). Without a cap the single-scan
    formulation is kept, but it is only safe on corpora known to
    lack boilerplate."""
    sh = _doc_shingles(df, id_col, text_col, n, max_shingle_df)
    # Materialize the capped posting-list table ONCE: both consumers
    # below (sizes, pair_inter) would otherwise re-derive the whole
    # corpus explode + df-prune tree, doubling the scan and shuffle
    # work. Post-cap buckets are bounded (distinct shingles x <=cap
    # ids), so the localCheckpoint is cheap and truncates the
    # expensive lineage; lazy (eager=False) so building the plan
    # stays job-free and the persist folds into the first action.
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list("id").alias("ids"))
        .localCheckpoint(eager=False)
    )
    # Doc sizes from the (capped) posting lists -- no corpus rescan.
    sizes = (
        buckets.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    # In-bucket ordered pairs; count of shared shingles per pair.
    pair_inter = (
        buckets.filter(F.size("ids") >= 2)
        .select(pairs.bucket_pairs("ids"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        pair_inter.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """EXACT shingle-containment pairs: C(A in B) = |A ∩ B| / |A|
    (Broder 1997's second resemblance measure). Containment is the
    one-sided near-dup test Jaccard misses: a short document pasted
    inside a much longer one scores near-zero Jaccard (the union is
    dominated by B) but containment ~1 -- the quote/boilerplate/
    subset-dup case in training-corpus curation. Emits pairs where
    EITHER direction clears ``threshold``, with both directions
    reported.

    Pairing is the bounded posting-list shape of ``ngram_jaccard_pairs``
    (doc-level ``max_shingle_df`` cap applied BEFORE any pairing,
    bounding per-shingle fan-out), duplication-adaptive per
    ``operators/pairs.py``: containment is a pure set function, so on
    an exact-duplicate-heavy corpus docs collapse to exact-shingle-set
    clusters keyed by md5 over the canonically-sorted shingle list
    (\\x1f-joined; shingles are whitespace-tokenized word n-grams, so
    the separator cannot split ambiguously). Each pair bucket carries
    both set sizes aligned to the canonical order, so the pair-count
    aggregation yields (pair, n_a, n_b, inter) complete and no size
    join ever touches the pair table. A PPJoin-style prefix filter was
    measured and rejected: at threshold 0.5 the prefix is ~65% of
    these small post-cap sets and cut candidates only 33% while
    forcing an array join-back per survivor.
    """
    sh = _doc_shingles(df, id_col, text_col, n, max_shingle_df)
    # Per-doc set table: the doc's own distinct-shingle list (bounded
    # by document length) plus its 16-byte binary set key.
    docs_arr, cluster, width = pairs.choose_shape(
        df.sparkSession,
        lambda: sh.groupBy("id")
        .agg(F.sort_array(F.collect_list("shingle")).alias("shs"))
        .select(
            "id", "shs", F.size("shs").alias("n_sh"),
            F.unhex(F.md5(F.concat_ws("\x1f", "shs"))).alias("ck"),
        ),
        "ck", F.sum("n_sh"),
    )
    # (key, n_sh) per posting; the direct shape keys by doc id, the
    # cluster shape by set key over one representative per cluster.
    k = "ck" if cluster else "id"
    if cluster:
        members, sets = pairs.collapse_by_key(docs_arr, ["n_sh", "shs"])
    else:
        sets = docs_arr
    post = sets.select(k, "n_sh", F.explode("shs").alias("shingle"))
    buckets = post.repartition(width, "shingle").groupBy("shingle").agg(
        F.collect_list(F.struct(k, "n_sh")).alias("cs")
    )
    a, b = f"{k}_a", f"{k}_b"
    inter = (
        buckets.filter(F.size("cs") >= 2)
        .select(pairs.bucket_pairs(
            "cs", k, (a, b), aligned={"n_sh": ("n_a", "n_b")}))
        .groupBy(
            F.col("p." + a).alias(a), F.col("p." + b).alias(b),
            F.col("p.n_a").alias("n_a"), F.col("p.n_b").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    ab, ba = "containment_a_in_b", "containment_b_in_a"
    scored = inter.select(
        a, b,
        (F.col("inter") / F.col("n_a")).alias(ab),
        (F.col("inter") / F.col("n_b")).alias(ba),
    ).filter((F.col(ab) >= threshold) | (F.col(ba) >= threshold))
    if not cluster:
        return scored
    # The reported a/b orientation follows the member ids (output
    # contract: id_a < id_b). Identical sets score exactly 1.0 both
    # ways (n/n), so an above-1 threshold (degenerate: containment
    # cannot exceed 1) admits no intra pair.
    fwd = F.col("ida") < F.col("idb")
    return pairs.fan_out(
        scored, members,
        [F.when(fwd, F.col(ab)).otherwise(F.col(ba)).alias(ab),
         F.when(fwd, F.col(ba)).otherwise(F.col(ab)).alias(ba)],
        None if threshold > 1.0 else
        [F.lit(1.0).alias(ab), F.lit(1.0).alias(ba)],
    )
