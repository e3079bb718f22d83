"""Similarity search over embedding columns (ArrayType(FloatType)).

Two tiers, as a 100 TB engine needs both:

* ``cosine_topk`` -- exact brute-force: broadcast the (small) query
  set against the corpus, JVM-side zip_with/aggregate dot products,
  per-query top-k via window rank. Linear scan; the right answer for
  correctness checks and small query batches.
* ``lsh_topk`` -- random-hyperplane LSH (Charikar 2002 sign-random-
  projection): bucket the corpus by sign
  signature, probe only matching buckets. Sub-linear candidate sets at
  the cost of recall; deterministic hyperplanes (seeded) so runs are
  reproducible. An IVF (k-means coarse quantizer) variant slots into
  the same bucket-join shape.

Embeddings here are L2-normalized (dot == cosine); ``cosine`` handles
the general case anyway.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..functions import dround


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank). Queries are
    broadcast -- at 100 TB the corpus never shuffles; each partition
    scores locally and only k rows per query per partition survive to
    the final rank (AQE prunes the rest in the window stage).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("c_vec")
    )
    sim = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dround("sim", 4).alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN majority-vote label propagation: each query takes the mode
    of its k nearest labeled neighbors' labels (cosine; count-desc,
    label-asc tiebreak -- fully deterministic). The semi-supervised
    companion to ``cosine_topk``: auto-labeling new embeddings from an
    already-labeled corpus is the standard cheap classifier in
    training-data pipelines.

    Same scale shape as ``cosine_topk``: queries broadcast, the corpus
    never shuffles, per-partition scoring, only the top-k rows per
    query reach the vote. The vote itself is a two-level aggregation
    over k*|queries| rows -- driver-negligible.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__lbl"),
        as_double(vec_col).alias("c_vec"),
    )
    sim = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        "__lbl",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    votes = (
        sim.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy("query_id", "__lbl")
        .agg(F.count("*").alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__lbl").asc()
    )
    return (
        votes.withColumn("__rv", F.row_number().over(wv))
        .filter(F.col("__rv") == 1)
        .select(
            "query_id",
            F.col("__lbl").cast("long").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python LCG so
    no numpy state leaks into executors; values are plan literals)."""
    state = seed or 1
    planes = []
    for _ in range(n_planes):
        vals = []
        for _ in range(dim):
            # xorshift64* PRNG -> uniform in (-1, 1)
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            vals.append((state % 2_000_001) / 1_000_000.0 - 1.0)
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against fixed hyperplanes."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit * F.lit(2 ** i).cast("long")
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Corpus rows land in one bucket per table; queries probe their
    bucket in every table; exact cosine re-ranks the candidate union.
    Bucket join replaces the all-pairs scan -- at scale, candidates
    per query ~ corpus / 2^n_planes * n_tables.
    """
    # All tables' signatures in ONE pass per side: a single select
    # computes the n_tables bucket ids as an array, posexplode turns
    # them into (table_id, bucket) rows. One scan + one equi-join
    # total, vs. a scan and join per table.
    table_planes = [
        _hyperplanes(dim, n_planes, seed=13 + 101 * ti)
        for ti in range(n_tables)
    ]

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        v = as_double(vec_col)
        sigs = F.array(*[lsh_signature(v, planes) for planes in table_planes])
        return df.select(
            F.col(id_col).alias(id_alias),
            v.alias(vec_alias),
            F.posexplode(sigs).alias("table_id", "bucket"),
        )

    c = with_buckets(corpus, "neighbor_id", "c_vec")
    q = with_buckets(queries, "query_id", "q_vec")
    cand = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cand.select(
        "query_id", "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                dround("sim", 4).alias("cosine_sim"),
                F.col("rank").cast("long").alias("rank"))
    )


def nearest_centroid(cents: Column, v: Column) -> Column:
    """Argmax over a broadcast-folded (centroid_id, cent_vec) array:
    a narrow transform-then-fold, so the corpus never shuffles for
    assignment. The transform scores each centroid's cosine exactly
    ONCE (a fold comparing cosines directly would evaluate each one
    twice -- once in the predicate, once in the kept value); the fold
    then runs over the small (cid, sim) structs. Strict ``>`` keeps
    the first (smallest centroid_id) among equal sims --
    deterministic ties."""
    scored = F.transform(
        cents,
        lambda c: F.struct(
            c.getField("centroid_id").cast("bigint").alias("cid"),
            cosine(v, c.getField("cent_vec")).alias("sim"),
        ),
    )
    return F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("bigint").alias("cid"),
            F.lit(float("-inf")).alias("sim"),
        ),
        lambda acc, s: F.when(
            s.getField("sim") > acc.getField("sim"), s
        ).otherwise(acc),
    ).getField("cid")


def assign_nearest_centroid(
    df: DataFrame,
    cent: DataFrame,
    vec_col: str,
    out_col: str = "cluster_id",
) -> DataFrame:
    """DataFrame-level nearest-centroid assignment: the Arrow-batched
    twin of the ``nearest_centroid`` column fold, for call sites whose
    centroid table is bounded driver state (n_clusters rows -- the
    hash-sampled seeds of SemDeDup / cluster-purity). The kernel
    replicates the fold bit-for-bit: cosine's sequential left-to-right
    float64 sums, strict ``>`` against a -inf start (so NaN sims never
    win), first-win ties in ascending ``centroid_id`` order. One
    deliberate divergence: a zero vector (NaN cosine everywhere)
    yields NULL here, where the column fold under ANSI mode errors
    outright on the 0.0/0.0 division -- the kernel is strictly more
    total. ~10x faster than the interpreted lambda fold at 16
    centroids x 64 dims per row; use the column fold when the
    centroid array is itself a per-row value.

    ``df``'s ``vec_col`` must already be array<double> (``as_double``).
    Appends ``out_col`` (long, nullable); other columns pass through.
    """
    import numpy as np

    rows = cent.select("centroid_id", "cent_vec").collect()
    # A NULL centroid vector can never win the strict-> fold (its
    # cosine is NULL); dropping it here is value-identical and keeps
    # the kernel's np.array build rectangular on NULL-bearing corpora.
    rows = [r for r in rows if r["cent_vec"] is not None]
    if not rows:
        # No centroids (empty corpus sample): nothing is assignable,
        # mirroring the column fold's NULL result over an empty array.
        return df.withColumn(out_col, F.lit(None).cast("long"))
    rows.sort(key=lambda r: r["centroid_id"])
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    cvecs = np.array([r["cent_vec"] for r in rows], dtype=np.float64)
    k, dim = cvecs.shape
    cacc = np.zeros(k)
    for i in range(dim):
        cacc = cacc + cvecs[:, i] * cvecs[:, i]
    cnorm = np.sqrt(cacc)

    @pandas_udf("long")
    def _assign(vs: pd.Series) -> pd.Series:
        nn = [v is not None for v in vs]
        out = [None] * len(vs)
        vals = [np.asarray(v, dtype=np.float64) for v, m in zip(vs, nn) if m]
        if vals:
            x = np.stack(vals)
            dacc = np.zeros((x.shape[0], k))
            nacc = np.zeros(x.shape[0])
            for i in range(dim):
                dacc = dacc + x[:, None, i] * cvecs[None, :, i]
                nacc = nacc + x[:, i] * x[:, i]
            sims = dacc / (np.sqrt(nacc)[:, None] * cnorm[None, :])
            masked = np.where(np.isnan(sims), -np.inf, sims)
            best = np.argmax(masked, axis=1)
            all_nan = np.isnan(sims).all(axis=1)
            picks = iter(zip(best, all_nan))
            for pos, m in enumerate(nn):
                if m:
                    b, an = next(picks)
                    out[pos] = None if an else int(cids[int(b)])
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer
    (the IVF-Flat scheme of Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search", minus the PQ compression).

    Centroid seeds are a deterministic hash-sample of the corpus
    itself, so the DuckDB oracle can replay them bit-exactly. Corpus
    vectors index into their nearest centroid's list; queries probe their
    ``n_probe`` nearest lists; exact cosine re-ranks candidates.
    Candidates per query ~ corpus * n_probe / n_centroids -- and the
    centroid tables are tiny broadcasts, so the corpus never shuffles
    until the (much smaller) candidate re-rank.
    """
    # n_centroids rows, consumed by BOTH broadcast sides (corpus
    # assignment + query probing): materialize once or the corpus
    # TakeOrdered hash-sample re-runs per consumer.
    cent = (
        corpus.select(
            F.col(id_col).alias("centroid_id"), as_double(vec_col).alias("cent_vec")
        )
        .filter(F.col("cent_vec").isNotNull())  # seeds must be encodable
        .withColumn("__h", F.xxhash64(F.col("centroid_id").cast("string")))
        .orderBy("__h")
        .limit(n_centroids)
        .drop("__h")
        .localCheckpoint(eager=False)
    )

    def nearest(df: DataFrame, side_id: str, side_vec: str, keep: int) -> DataFrame:
        scored = df.join(F.broadcast(cent)).select(
            side_id,
            side_vec,
            "centroid_id",
            cosine(F.col(side_vec), F.col("cent_vec")).alias("c_sim"),
        )
        w = Window.partitionBy(side_id).orderBy(
            F.col("c_sim").desc(), F.col("centroid_id").asc()
        )
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= keep)
            .drop("__r", "c_sim")
        )

    c = nearest(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(vec_col).alias("c_vec")),
        "neighbor_id", "c_vec", 1,
    )
    q = nearest(
        queries.select(F.col(id_col).alias("query_id"),
                       as_double(vec_col).alias("q_vec")),
        "query_id", "q_vec", n_probe,
    )
    cand = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cand.select(
        "query_id", "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                dround("sim", 4).alias("cosine_sim"),
                F.col("rank").cast("long").alias("rank"))
    )


def cosine_near_pairs_blocked(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    max_block_size: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within metadata blocks.

    Blocking on a key (here ``label``) is the classic way to keep
    near-dup detection out of n^2 territory when a cheap partitioner
    exists; within a block the join is an equi-join on the block key.

    ``max_block_size`` is declared semantics, same as the LSH/SimHash
    bucket caps: a block's in-block pairing is quadratic in its size,
    so one hot label (the degenerate "unlabeled" bucket at corpus
    scale) would melt an executor. Oversize blocks are dropped -- a
    block that big carries no discriminating signal; sub-bucket it
    with an LSH signature (``lsh_topk``'s plane hashing) if its pairs
    are genuinely needed."""
    sizes_ok = (
        df.groupBy(F.col(block_col).alias("block"))
        .agg(F.count("*").alias("__bn"))
        .filter(F.col("__bn") <= max_block_size)
        .select("block")
    )
    # Prune ONCE before deriving both join sides, so oversize blocks'
    # rows never reach either projection or the join.
    kept = df.join(
        F.broadcast(sizes_ok),
        df[block_col] == sizes_ok.block, "left_semi",
    )
    a = kept.select(
        F.col(block_col).alias("block"), F.col(id_col).alias("id_a"),
        as_double(vec_col).alias("v_a"),
    )
    b = kept.select(
        F.col(block_col).alias("block"), F.col(id_col).alias("id_b"),
        as_double(vec_col).alias("v_b"),
    )
    sim = cosine(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("block", "id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("block", "id_a", "id_b", dround("sim", 4).alias("cosine_sim"))
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length double arrays,
    as a JVM fold (index-order summation on both engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    max_queries: int = 4096,
) -> DataFrame:
    """Product-quantization ANN (Jegou, Douze & Schmid 2011 -- the PQ
    half that ``ivf_topk`` leaves out): split the ``dim`` dimensions
    into ``m`` subspaces, build one ``n_codes``-entry codebook per
    subspace, encode every corpus vector as ``m`` small codes, and
    answer queries by asymmetric distance computation (ADC): exact
    query subvector vs quantized corpus code, summed across
    subspaces. Codebooks are an md5-hash-sample of the corpus
    (deterministic AND portable, so the DuckDB oracle replays
    encoding and ADC bit-compatibly).

    Scale shape: the codebook is one broadcast row (m * n_codes *
    dim/m doubles); corpus encoding is a narrow map (argmin fold per
    subspace, corpus never shuffles); ADC scans the m-byte codes --
    at 100 TB the raw vectors are read once at build time and never
    again. Brute-force ADC is the baseline; compose with the IVF
    lists to prune candidates. Metric is L2 (the paper's), ascending.

    Defaults (m=16 4-dim subspaces, 16 codes) are tuned for the
    64-dim test corpus: sampled (untrained) codebooks reach ~0.24
    recall@10 there -- an honest baseline, ~12x random; per-subspace
    Lloyd refinement is the production upgrade and the reason
    recall, not exactness, is the quality axis (the oracle replays
    the computation bit-compatibly either way).
    """
    import numpy as np

    sub = dim // m
    e = corpus.select(
        F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
    ).filter(F.col("cv").isNotNull())  # NULL vectors are unencodable
    # Deterministic md5-ordered sample -> driver-held codebook. Same
    # bounded-state class as the broadcast query side below: m *
    # n_codes * sub doubles, corpus-size-independent. An earlier
    # all-expression variant kept the codebook as one broadcast row
    # and folded encode/ADC through zip_with/aggregate lambdas --
    # higher-order functions evaluate interpreted (never codegen), so
    # the vectorized numpy kernels below are ~4x faster on the SAME
    # arithmetic in the SAME order (sequential left-to-right folds,
    # replicated element-for-element, so results stay bit-identical
    # and the DuckDB oracle still matches).
    sample_rows = (
        e.withColumn(
            "__h",
            F.conv(
                F.substring(F.md5(F.col("cid").cast("string")), 1, 8), 16, 10
            ).cast("long"),
        )
        .orderBy("__h", "cid")
        .limit(n_codes)
        .select("__h", "cid", "cv")
        .collect()  # collect preserves the orderBy order
    )
    out_schema = (
        "query_id long, neighbor_id long, adc_dist double, rank long"
    )
    if not sample_rows:
        # Empty corpus: no codebook, no candidates.
        e_spark = corpus.sparkSession
        return e_spark.createDataFrame([], out_schema)
    cb_np = np.array([r["cv"] for r in sample_rows], dtype=np.float64)

    def encode_batches(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            # NULL vectors are unencodable -- drop them here (the
            # expression fold produced meaningless NULL-ish codes).
            pdf = pdf[pdf["cv"].notna()]
            if len(pdf) == 0:
                continue
            v = _np.stack(
                [_np.asarray(x, dtype=_np.float64) for x in pdf["cv"]]
            )
            codes = _np.empty((len(v), m), dtype=_np.int32)
            for j in range(m):
                base = j * sub
                # Sequential fold over the sub dims, elementwise
                # vectorized over (row, code): bit-equal to the
                # _l2sq left-to-right sum. First minimum wins ties
                # (argmin), matching the strict-< fold.
                acc = _np.zeros((v.shape[0], cb_np.shape[0]))
                for i in range(sub):
                    diff = v[:, None, base + i] - cb_np[None, :, base + i]
                    acc = acc + diff * diff
                codes[:, j] = _np.argmin(acc, axis=1) + 1
            yield _pd.DataFrame(
                {"neighbor_id": pdf["cid"].values, "codes": list(codes)}
            )

    enc = e.mapInPandas(
        encode_batches, schema="neighbor_id long, codes array<int>"
    )
    # ADC lookup tables, one per query: T[j][code] = exact query
    # subvector vs codebook entry, same sequential per-dim fold.
    # BOUNDED-QUERIES PRECONDITION (same contract class as
    # assign_nearest_centroid's driver-held centroid table): the
    # query side is collected to the driver and its ADC tables ship
    # inside the mapInPandas closure, so it must be a query SET (top-k
    # lookups), never a second corpus. Enforced, not just documented
    # -- an unbounded queries input would OOM the driver/executors
    # where a broadcast join degrades gracefully.
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk collected more than max_queries={max_queries} query "
            "vectors; the query side is driver-held bounded state -- "
            "batch the queries or raise max_queries deliberately"
        )
    q_tables = []
    for r in q_rows:
        if r["qv"] is None:
            continue  # NULL query vector: no meaningful distances
        qv = np.asarray(r["qv"], dtype=np.float64)
        tbl = np.zeros((m, cb_np.shape[0]))
        for j in range(m):
            base = j * sub
            for i in range(sub):
                diff = qv[base + i] - cb_np[:, base + i]
                tbl[j] = tbl[j] + diff * diff
        q_tables.append((r["query_id"], tbl))

    def adc_batches(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _np.stack(pdf["codes"].values) - 1  # 0-based
            nid = pdf["neighbor_id"].values
            for qid, tbl in q_tables:
                # Sequential sum across subspaces j = 0..m-1, the
                # same order the expression fold added them in.
                adc = tbl[0, codes[:, 0]]
                for j in range(1, m):
                    adc = adc + tbl[j, codes[:, j]]
                yield _pd.DataFrame(
                    {"query_id": qid, "neighbor_id": nid, "adc": adc}
                )

    scored = enc.mapInPandas(
        adc_batches, schema="query_id long, neighbor_id long, adc double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dround("adc", 6).alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.3,
    max_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): coarse-cluster the
    embedding space, then within each cluster drop every point with a
    near-duplicate (cosine >= ``threshold``) of smaller id. The
    greedy-by-id rule replaces the paper's keep-one-per-group choice
    -- identical when duplicate groups are cliques, and deterministic
    + oracle-replayable always.

    Cluster seeds are a md5-hash-sample of the corpus (deterministic
    AND portable, unlike xxhash64, so the DuckDB oracle replays them
    bit-exactly).
    Assignment is the ``assign_nearest_centroid`` Arrow kernel over
    the driver-held bounded centroid table -- the corpus never
    shuffles for it, and the kernel replicates the column fold's
    float semantics bit-for-bit.

    In-cluster detection is GROUPED, not self-joined (the same choice
    as the MinHash/SimHash buckets): clusters are co-located with ONE
    shuffle and each cluster's pairwise "has an earlier
    near-duplicate" test runs as an Arrow-batched numpy kernel inside
    ``applyInPandas`` -- the sequential left-to-right float64 folds of
    the ``cosine`` expression (dot then the two norms) are replicated
    element-for-element across the (x, y) matrix, so the kept/removed
    decisions are bit-identical to the earlier all-expression
    filter/exists variant (which evaluated the same quadratic
    interpreted, since higher-order lambdas never reach codegen).
    The per-cluster check is quadratic in cluster size, identical to
    the pair-join's blowup, so clusters over ``max_cluster_size``
    skip pairing (an O(size) early-out before any matrix is
    allocated) but still appear in the accounting with zero
    removals.

    Returns per-cluster accounting: cluster_id, size, n_removed,
    n_kept.
    """
    cent = (
        df.select(
            F.col(id_col).alias("centroid_id"),
            as_double(vec_col).alias("cent_vec"),
        )
        .filter(F.col("cent_vec").isNotNull())  # seeds must be encodable
        .withColumn(
            "__h",
            F.conv(
                F.substring(F.md5(F.col("centroid_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long"),
        )
        .orderBy("__h", "centroid_id")
        .limit(n_clusters)
        .drop("__h")
    )
    assigned = assign_nearest_centroid(
        df.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("__v")
        ),
        cent,
        "__v",
    )
    cap = max_cluster_size
    thr = threshold

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        size = len(pdf)
        key = pdf["cluster_id"].iloc[0]
        # The NULL-cluster group (zero/NULL vectors are unassignable;
        # see assign_nearest_centroid) gets an accounting row with no
        # pairing -- cosine against a zero vector is undefined, so
        # nothing in it can have a "near-duplicate".
        cluster = None if pd.isna(key) else int(key)
        n_removed = 0
        if cluster is not None and 2 <= size <= cap:
            ids = pdf["id"].to_numpy()
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
            )
            dim = v.shape[1]
            # Sequential folds over the dims, vectorized over rows /
            # pairs: 0.0 + x1*y1 + x2*y2 + ... exactly as the
            # zip_with/aggregate expressions added them.
            nacc = np.zeros(size)
            dots = np.zeros((size, size))
            for i in range(dim):
                nacc = nacc + v[:, i] * v[:, i]
                dots = dots + v[:, None, i] * v[None, :, i]
            norm = np.sqrt(nacc)
            cos = dots / (norm[:, None] * norm[None, :])
            mask = (ids[None, :] < ids[:, None]) & (cos >= thr)
            n_removed = int(mask.any(axis=1).sum())
        return pd.DataFrame(
            {
                "cluster_id": [cluster],
                "size": [size],
                "n_removed": [n_removed],
                "n_kept": [size - n_removed],
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        per_cluster,
        schema="cluster_id long, size long, n_removed long, n_kept long",
    )
