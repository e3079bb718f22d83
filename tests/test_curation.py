"""Semantic properties of the curation catalog (plans/curation.py)
beyond DuckDB parity: sampling-distribution sanity, entropy bounds,
SCD2 interval invariants, and the merge==recompute rollup identity.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from s3_parquet_to_postgres_spark.functions import md5_unit
from s3_parquet_to_postgres_spark.plans import curation as C


def test_md5_unit_matches_python_md5(spark):
    import hashlib

    df = spark.range(1, 200).select(
        F.col("id"), md5_unit("id").alias("u")
    )
    for row in df.collect():
        h = hashlib.md5(str(row.id).encode()).hexdigest()[:8]
        expect = (int(h, 16) + 0.5) / 2**32
        assert row.u == expect, row.id


def test_sample_weighted_biases_toward_long_docs(spark, sf_dir):
    out = C.sample_weighted(spark, sf_dir).collect()
    assert len(out) == 25
    assert len({r.doc_id for r in out}) == 25  # without replacement
    sampled_mean = sum(r.n_chars for r in out) / len(out)
    corpus_mean = (
        C.t(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    # size-biased sampling must pull the mean length up
    assert sampled_mean > corpus_mean


def test_sample_weighted_keys_are_deterministic(spark, sf_dir):
    a = {(r.doc_id, r.keyq) for r in C.sample_weighted(spark, sf_dir).collect()}
    b = {(r.doc_id, r.keyq) for r in C.sample_weighted(spark, sf_dir).collect()}
    assert a == b


def test_sample_mixture_hits_target_shares(spark, sf_dir):
    rows = {r.domain: r for r in C.sample_mixture(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    total_kept = sum(r.n_kept for r in rows.values())
    # kept shares should approximate the declared 0.5/0.3/0.2 mixture
    for dom, target in C._MIX_TARGETS.items():
        share = rows[dom].n_kept / total_kept
        assert abs(share - target) < 0.12, (dom, share, target)
    # acceptance never exceeds the stratum
    for r in rows.values():
        assert 0 < r.n_kept <= r.n_docs


def test_text_entropy_bounds(spark, sf_dir):
    out = C.text_entropy(spark, sf_dir)
    mx = math.log2(len(C._ALPHABET))
    bad = out.filter(
        (F.col("entropy_bits") < 0) | (F.col("entropy_bits") > mx + 1e-9)
    ).count()
    assert bad == 0
    # distinct char count and other_chars are consistent with length
    incoherent = out.filter(
        (F.col("other_chars") < 0)
        | (F.col("other_chars") > F.col("n_chars_text"))
        | (F.col("distinct_alpha_chars") > len(C._ALPHABET))
    ).count()
    assert incoherent == 0
    # entropy > 0 whenever at least two distinct alphabet chars occur
    zero_but_varied = out.filter(
        (F.col("distinct_alpha_chars") >= 2)
        & (F.col("other_chars") == 0)
        & (F.col("entropy_bits") <= 0)
    ).count()
    assert zero_but_varied == 0


def test_scd2_intervals_are_well_formed(spark, sf_dir):
    out = C.scd2_user_state(spark, sf_dir)
    # exactly one open (current) interval per user
    per_user = (
        out.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("long")).alias("open_n"))
        .collect()
    )
    assert all(r.open_n == 1 for r in per_user)
    # intervals never invert
    bad = out.filter(
        F.col("valid_to").isNotNull()
        & (F.col("valid_to") < F.col("valid_from"))
    ).count()
    assert bad == 0
    # no adjacent duplicate states within a user
    w_bad = (
        out.withColumn(
            "prev_state",
            F.lag("state").over(
                Window.partitionBy("user_id").orderBy("valid_from")
            ),
        )
        .filter(F.col("state") == F.col("prev_state"))
        .count()
    )
    assert w_bad == 0


def test_rollup_merge_equals_recompute(spark, sf_dir):
    merged = {
        r.hour: (r.n_events, r.total_value)
        for r in C.event_rollup_incremental(spark, sf_dir).collect()
    }
    e = C.t(spark, sf_dir, "events")
    direct = {
        r.hour: (r.n_events, r.total_value)
        for r in e.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00"
            ).alias("hour")
        )
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(
                    F.floor(
                        F.col("value") * F.lit(10000.0) + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / F.lit(10000.0)
            ).alias("total_value"),
        )
        .collect()
    }
    assert merged == direct


def test_linear_score_output_domain(spark, sf_dir):
    out = C.ml_linear_score(spark, sf_dir)
    n_docs = C.t(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    bad = out.filter(
        (F.col("quality_prob") <= 0) | (F.col("quality_prob") >= 1)
    ).count()
    assert bad == 0
    # weight table is bounded by construction: |mean weight| <= 3
    assert (
        out.filter(
            F.abs(F.col("raw_score").cast("double") / F.col("n_tokens"))
            > 3.0
        ).count()
        == 0
    )


def test_containment_catches_subset_jaccard_misses(spark):
    # doc 1 is verbatim inside doc 2 but tiny relative to it:
    # jaccard low, containment(1 in 2) == 1.0
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated text body here")],
        ["doc_id", "text"],
    )
    from s3_parquet_to_postgres_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    pairs = {
        (r.id_a, r.id_b): r
        for r in containment_pairs(df, threshold=0.5,
                                   max_shingle_df=None).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)].containment_a_in_b == 1.0
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert jac.get((1, 2), 0.0) < 0.5  # jaccard alone would miss it


def test_mips_matches_numpy_brute_force(spark, sf_dir):
    import numpy as np

    out = C.similarity_mips(spark, sf_dir)
    got = {
        (r.query_id, r.rank): r.neighbor_id for r in out.collect()
    }
    e = C.t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in e])
    mat = np.array([r.embedding for r in e], dtype=np.float64)
    for q in [r for r in e if r.vec_id < 5]:
        ips = mat @ np.array(q.embedding, dtype=np.float64)
        order = sorted(
            [(ips[i], -ids[i]) for i in range(len(ids)) if ids[i] != q.vec_id],
            reverse=True,
        )
        top1 = -order[0][1]
        assert got[(q.vec_id, 1)] == top1


def test_ewma_frame_semantics(spark, sf_dir):
    out = C.event_ewma(spark, sf_dir)
    e = C.t(spark, sf_dir, "events")
    # per-user earliest event: ewma == value (frame of one)
    first = (
        e.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter("rn = 1")
        .select("event_id", "value")
    )
    joined = out.join(first, "event_id").collect()
    assert joined
    for r in joined:
        assert abs(r.ewma - r[2]) < 1e-6  # ewma vs first.value


def test_scalar_url_roundtrip_and_domains(spark, sf_dir):
    rows = C.scalar_url(spark, sf_dir).collect()
    assert len(rows) == 20  # one host per source
    for r in rows:
        assert r.domain == "example.org"
        assert r.host.endswith(".example.org")
        assert not r.host.startswith("www.")
        assert r.id_roundtrip_ok == r.n_urls


def test_count_min_never_underestimates_and_is_tight_here(spark, sf_dir):
    rows = {r.probe_key: r for r in C.agg_count_min(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for r in rows.values():
        assert r.never_under
        assert r.cms_estimate >= r.exact_count


def test_count_min_is_mergeable_across_shards(spark, sf_dir):
    # CMS counter tables from disjoint shards ADD: building the table
    # on each half and summing cells == building it on the whole.
    li = C.t(spark, sf_dir, "lineitem")

    def table(df):
        cells = df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        C._cms_bucket(F.col("l_partkey"), j).alias("bucket"),
                    )
                    for j in range(C._CMS_DEPTH)
                ])
            ).alias("c")
        ).groupBy("c.j", "c.bucket").agg(F.count("*").alias("cnt"))
        return {(r.j, r.bucket): r.cnt for r in cells.collect()}

    whole = table(li)
    a = table(li.filter(F.col("l_orderkey") % 2 == 0))
    b = table(li.filter(F.col("l_orderkey") % 2 == 1))
    merged = dict(a)
    for k, v in b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_token_budget_cut_is_exact(spark, sf_dir):
    out = C.sample_token_budget(spark, sf_dir).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.cum_tokens)
        # every selected doc STARTS within budget
        for r in rows:
            assert r.cum_tokens - r.n_tokens < C._TOKEN_BUDGET
        # cum_tokens is a consistent running sum
        run = 0
        for r in rows:
            run += r.n_tokens
            assert r.cum_tokens == run


def test_knn_eval_metrics_are_consistent(spark, sf_dir):
    rows = C.ml_knn_eval(spark, sf_dir).collect()
    assert rows
    n_queries = sum(r.support for r in rows)
    assert sum(r.predicted_n for r in rows) == n_queries
    for r in rows:
        assert r.tp <= min(r.support, r.predicted_n)
        if r.precision is not None:
            assert 0.0 <= r.precision <= 1.0
        if r.recall is not None:
            assert 0.0 <= r.recall <= 1.0


def test_quality_checks_all_pass_on_clean_data(spark, sf_dir):
    rows = {r.check_name: r for r in
            C.table_quality_checks(spark, sf_dir).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r.passed and r.n_violations == 0, r


def test_quality_checks_catch_injected_violations(spark, sf_dir, tmp_path):
    import os
    import shutil

    # Corrupt a copy of the tables: an orphan FK and a bad status.
    bad_dir = str(tmp_path / "bad")
    os.makedirs(bad_dir)
    for t in ["lineitem", "customer", "region", "nation", "supplier",
              "part", "events", "documents", "embeddings"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{bad_dir}/{t}.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(99999999))
        .otherwise(F.col("o_custkey")),
    ).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 200 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus")),
    ).write.parquet(f"{bad_dir}/orders.parquet")

    rows = {r.check_name: r for r in
            C.table_quality_checks(spark, bad_dir).collect()}
    assert not rows["fk:o_custkey->customer"].passed
    assert rows["fk:o_custkey->customer"].n_violations > 0
    assert not rows["accepted:o_orderstatus"].passed
    assert rows["not_null:l_orderkey"].passed  # untouched check still green


def test_dedup_rate_matches_exact_dedup(spark, sf_dir):
    rows = C.dedup_rate_by_source(spark, sf_dir).collect()
    d = C.t(spark, sf_dir, "documents")
    total_docs = d.count()
    keepers = d.groupBy(F.sha2("text", 256)).count().count()
    assert sum(r.n_docs for r in rows) == total_docs
    assert sum(r.n_dup_copies for r in rows) == total_docs - keepers
    for r in rows:
        assert 0 < r.survival_rate <= 1.0


def test_perplexity_buckets_partition_the_corpus(spark, sf_dir):
    rows = {r.bucket: r for r in
            C.text_perplexity_buckets(spark, sf_dir).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    n = C.t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == n
    # thirds-ish split and ordered score ranges
    for r in rows.values():
        assert r.n_docs > 0.2 * n
    assert rows["tail"].max_lp <= rows["middle"].min_lp + 1e-9
    assert rows["middle"].max_lp <= rows["head"].min_lp + 1e-9


def test_multimodal_dedup_accounting(spark, sf_dir):
    rows = C.multimodal_dedup(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0].mime == "text/plain"
    r = rows[0]
    n_docs = C.t(spark, sf_dir, "documents").count()
    assert r.n_payloads == n_docs
    assert 0 < r.n_distinct <= r.n_payloads
    if r.n_distinct < r.n_payloads:
        assert r.reclaimable_bytes > 0


def test_user_features_consistency(spark, sf_dir):
    rows = C.ml_user_features(spark, sf_dir).collect()
    e = C.t(spark, sf_dir, "events")
    assert len(rows) == e.select("user_id").distinct().count()
    for r in rows:
        assert r.n_view + r.n_click + r.n_purchase <= r.n_events
        assert abs(r.avg_value - r.total_value / r.n_events) < 1e-4


def test_point_in_time_never_leaks_future(spark, sf_dir):
    # brute-force check on a sample of purchases: reported state must
    # equal the last non-purchase event type at-or-before the purchase
    rows = {r.state_at_purchase: r.n_purchases
            for r in C.join_point_in_time(spark, sf_dir).collect()}
    e = C.t(spark, sf_dir, "events").collect()
    by_user = {}
    for r in e:
        by_user.setdefault(r.user_id, []).append(r)
    expect = {}
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        state = None
        for r in evs:
            if r.event_type != "purchase":
                state = r.event_type
            else:
                expect[state] = expect.get(state, 0) + 1
    assert rows == expect


def test_survival_curve_is_monotone_and_bounded(spark, sf_dir):
    rows = sorted(C.event_survival(spark, sf_dir).collect(),
                  key=lambda r: r.day)
    assert rows
    prev = 1.0
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev + 1e-9  # KM curves never increase
        prev = r.survival
        assert r.n_churned <= r.n_at_risk
    # at-risk counts strictly decrease across days
    risks = [r.n_at_risk for r in rows]
    assert risks == sorted(risks, reverse=True)


def test_ab_test_readout_consistency(spark, sf_dir):
    r = C.ml_ab_test(spark, sf_dir).first()
    assert r.control_users > 0 and r.treatment_users > 0
    assert 0 < r.control_rate < 1 and 0 < r.treatment_rate < 1
    assert abs(
        r.control_rate - r.control_conversions / r.control_users
    ) < 1e-4
    # z sign agrees with the rate difference
    if r.treatment_rate > r.control_rate:
        assert r.z_score > 0
    elif r.treatment_rate < r.control_rate:
        assert r.z_score < 0


def test_novelty_bounds_and_first_doc_is_fully_novel(spark, sf_dir):
    rows = C.text_ngram_novelty(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.n_novel <= r.n_shingles
    # the lowest doc_id owns every one of its shingles
    first = by_id[min(by_id)]
    assert first.novelty == 1.0


def test_running_unique_matches_brute_force(spark, sf_dir):
    rows = C.event_running_unique(spark, sf_dir).collect()
    got = {(r.event_type, r.day): r.cumulative_unique_users for r in rows}
    e = C.t(spark, sf_dir, "events").collect()
    seen: dict = {}
    days: dict = {}
    for r in sorted(e, key=lambda r: (r.ts, r.event_id)):
        day = r.ts.strftime("%Y-%m-%d")
        seen.setdefault(r.event_type, set()).add(r.user_id)
        days.setdefault(r.event_type, {})[day] = None
    # brute force: distinct users up to and including each day
    for et in days:
        users = set()
        per_day = {}
        for r in sorted(
            (x for x in e if x.event_type == et),
            key=lambda r: (r.ts, r.event_id),
        ):
            users.add(r.user_id)
            per_day[r.ts.strftime("%Y-%m-%d")] = len(users)
        for day, n in per_day.items():
            assert got[(et, day)] == n


def test_exact_spans_match_true_common_substrings(spark, sf_dir):
    out = C.dedup_exact_spans(spark, sf_dir).collect()
    assert out
    docs = {
        r.doc_id: r.text.strip().split()
        for r in C.t(spark, sf_dir, "documents").collect()
    }

    def longest_common_run(a, b):
        # token-level longest common substring, O(len_a * len_b) on
        # the few reported pairs only
        best = 0
        prev = [0] * (len(b) + 1)
        for i in range(1, len(a) + 1):
            cur = [0] * (len(b) + 1)
            for j in range(1, len(b) + 1):
                if a[i - 1] == b[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    for r in out:
        true_run = longest_common_run(docs[r.id_a], docs[r.id_b])
        # df-pruning can only shorten the detected span, never invent one
        assert r.longest_span_tokens >= C._SPAN_K + C._SPAN_MIN_GRAMS - 1
        assert true_run >= r.longest_span_tokens


def test_exact_spans_on_synthetic_known_span(spark):
    shared = " ".join(f"s{i}" for i in range(20))  # 20-token span
    df = spark.createDataFrame(
        [
            (1, "aa bb " + shared + " cc dd"),
            (2, "xx yy zz " + shared + " qq"),
            (3, " ".join(f"u{i}" for i in range(40))),
        ],
        ["doc_id", "text"],
    )
    import s3_parquet_to_postgres_spark.plans.curation as CC
    from unittest import mock

    with mock.patch.object(CC, "t", lambda spark, sf, name: df):
        rows = {(r.id_a, r.id_b): r
                for r in CC.dedup_exact_spans(spark, "ignored").collect()}
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)].longest_span_tokens == 20


def test_corpus_report_accounting_closes(spark, sf_dir):
    rows = C.corpus_report(spark, sf_dir).collect()
    d = C.t(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    # dup copies across strata equal the global dedup delta
    keepers = d.groupBy(F.sha2("text", 256)).count().count()
    assert sum(r.n_dup_copies for r in rows) == d.count() - keepers


_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
# containment/passage: a subset doc against a longer host; minhash: a
# near-identical text whose signature shares bands with the base.
_SECOND = {
    "containment": _BASE + " " + " ".join(
        f"w{i} x{i} y{i}" for i in range(12)),
    "passage": _BASE + " " + " ".join(f"w{i} x{i} y{i}" for i in range(12)),
    "minhash": _BASE + " lambda",
}


@pytest.mark.parametrize("op", ["containment", "passage", "minhash"])
def test_pair_shapes_agree_on_dup_heavy_corpus(spark, monkeypatch, op):
    """The duplication-adaptive shape switch is a pure plan choice:
    the cluster-collapse pairing and the direct id-level pairing must
    return BIT-IDENTICAL rows on the same corpus. Every text appears
    4x (dup ratio 4 > the 1.5 switch), so the natural call takes the
    cluster path; patching ``pairs.choose_shape`` forces the direct
    one. Covers intra pairs (copies: containment 1.0, shared_fps =
    n_fp, jaccard_est 1.0) and cross pairs (subset doc vs host; near
    text vs base), plus minhash's doc-count bucket cap."""
    import s3_parquet_to_postgres_spark.operators.dedup as D
    from s3_parquet_to_postgres_spark.operators import pairs
    from s3_parquet_to_postgres_spark.operators.textstats import (
        passage_overlap_pairs,
    )

    other = "one two three four five six seven eight nine ten eleven"
    rows = []
    for text in (_BASE, _SECOND[op], other):
        for _ in range(4):
            rows.append((len(rows), text))
    rows.append((len(rows), "lonely unique document with enough words here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    run = {
        "containment": lambda **kw: D.containment_pairs(
            df, threshold=0.5, max_shingle_df=100),
        "passage": lambda **kw: passage_overlap_pairs(df),
        "minhash": lambda **kw: D.minhash_lsh_pairs(df, **kw),
    }[op]
    assert pairs.CLUSTER_COLLAPSE_MIN_DUP == 1.5
    choose = pairs.choose_shape

    def both(**kw):
        measured, out = [], []
        for force_direct in (False, True):
            def shape(*a, **k):
                table, cluster, width = choose(*a, **k)
                measured.append(cluster)
                return table, cluster and not force_direct, width

            with monkeypatch.context() as m:
                m.setattr(pairs, "choose_shape", shape)
                out.append(sorted(map(tuple, run(**kw).collect())))
        assert measured == [True, True]  # ratio 4 measures as cluster
        return out

    cl, di = both()
    assert cl == di
    if op != "minhash":
        assert len(cl) >= 6 + 6 + 16  # intra x2 + cross
        return
    # three clusters of 4 copies each -> >= 18 intra pairs at est 1.0
    assert sum(1 for _, _, e in cl if e == 1.0) >= 18
    # base vs near share bands (stable under the fixed xxhash64
    # family) -> at least one member-fanned cross pair
    assert any(e < 1.0 for _, _, e in cl)
    # doc-count cap: 4-copy clusters exceed a cap of 3 in every
    # bucket, so their pairs vanish identically on both paths
    cl3, di3 = both(max_bucket_size=3)
    assert cl3 == di3
