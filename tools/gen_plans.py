"""Regenerate PLANS.md: annotated `explain('formatted')` output for a
representative slice of the catalog, at sf0.1 on local[8].

Usage: python tools/gen_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from s3_parquet_to_postgres_spark.plans import all_queries  # noqa: E402
from s3_parquet_to_postgres_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MAX_LINE = 118

# (query name, annotation) -- what each plan demonstrates at scale.
SECTIONS = [
    (
        "agg_bootstrap_ci",
        "Poisson bootstrap as ONE Arrow-batched partial-sum pass: the"
        " per-row hash + 16-weight ladder runs in a mapInPandas kernel"
        " emitting one 34-cell int64 state row per partition, so the only"
        " exchange after the explicit rebalance carries partition-count"
        " rows; the 16-replicate fan-out happens after aggregation on"
        " scalars, never on rows.",
    ),
    (
        "tpch_q3_shipping_priority",
        "Filter pushdown into both parquet scans, broadcast of the filtered"
        " customer dimension, one shuffle per fact join key, partial/final"
        " aggregation, TakeOrderedAndProject for the top-k (no global sort).",
    ),
    (
        "ref_project_rename_cast",
        "The reference's whole pipeline (project/rename/cast, reference:"
        " src/runner.rs:17-45) is a single narrow stage: scan with pruned"
        " ReadSchema, one Project, no exchange.",
    ),
    (
        "dedup_minhash_lsh",
        "Sketches as flat aggregations: ONE corpus scan, one explode, the 32"
        " permuted hashes computed in a Project feeding a partial/final"
        " min-aggregation into a checkpointed signature table (r11: one"
        " stats job on it picks duplication-adaptive banding -- per-doc on"
        " low-dup corpora as shown here, per-DISTINCT-signature with member"
        " fan-out above the 1.5x switch), band buckets grouped with"
        " collect_list (no self-join, so the expensive signature subplan is"
        " not duplicated), in-bucket pairing via a higher-order transform."
        " No n^2 stage; the max_bucket_size guard bounds pairing fan-out"
        " under degenerate collisions.",
    ),
    (
        "similarity_topk_cosine",
        "Exact top-k cosine: query vectors broadcast, dot products as"
        " JVM-side higher-order aggregate expressions over the embedding"
        " arrays, per-query top-k via window rank over a hash-partitioned"
        " exchange -- never a global sort of all scores.",
    ),
    (
        "event_sessionize",
        "Session windows as a first-class aggregation (MergingSessions"
        " operator); partial merge before the exchange bounds shuffle"
        " volume by session count, not event count.",
    ),
    (
        "event_sessionize_chunked",
        "The straggler-proof variant (operators/chunked_window.py): rows"
        " hash-shuffle on (user_id, time-bucket) so a pathologically hot"
        " key spreads across tasks; the stitch window runs over the"
        " one-row-per-(key,bucket) summary aggregate -- data-volume-"
        "independent -- and the offsets join back on the composite key."
        " Same oracle, bit-equal output to event_sessionize's"
        " single-task-per-user window.",
    ),
    (
        "corpus_curation_pipeline",
        "The full curation funnel: every per-doc signal (token count, the"
        " five-language marker scores as ONE struct-fold traversal, the"
        " PII-scrubbed sha256 content key) comes out of a single narrow"
        " Project over a single corpus scan, evaluated exactly once per"
        " row; the quality/language gates filter AFTER the dedup window"
        " (value-identical, and deliberately so -- gating earlier"
        " predicate-pushes every signal expression into the scan, 7x the"
        " evaluations); WindowGroupLimit pre-filters rank=1 map-side and"
        " the final per-(split, lang) aggregate is partial before its"
        " exchange.",
    ),
    (
        "text_repetition",
        "Gopher repetition signals as a shuffle-free narrow map: every"
        " n-gram statistic (top-gram count via sort + run-length fold,"
        " duplicate fraction via array_distinct) is a per-row array"
        " expression -- no explode, no aggregation, no key shuffle; the"
        " single round-robin Exchange is spread()'s parallelism"
        " repartition for the one-file local input and carries no"
        " grouping semantics. Scales embarrassingly parallel.",
    ),
    (
        "dedup_semantic",
        "SemDeDup: centroid argmax as a broadcast transform-then-fold (the"
        " corpus never shuffles for assignment), ONE shuffle to co-locate"
        " clusters, in-cluster greedy-by-id removal as grouped array"
        " expressions (filter/exists) instead of a self-join -- the"
        " assignment subplan is evaluated once, not four times; a window"
        " count gates the collect so a hot cluster cannot materialize a"
        " giant row.",
    ),
    (
        "event_user_anomaly",
        "Per-user outlier detection in ONE shuffle: mean/std/count as"
        " windows over the user partition and the top-1 row_number reusing"
        " the SAME partitioning -- no stats-table join-back (which would"
        " scan the event log twice).",
    ),
    (
        "text_entropy",
        "Character-distribution quality signals with NO shuffle and NO"
        " explode: the 27 per-char counts are replace-count expressions in"
        " one narrow Project (whole-stage codegen end to end); the only"
        " exchange is spread()'s parallelism repartition. The shape every"
        " per-doc signal should have at 100 TB.",
    ),
    (
        "ml_linear_score",
        "Hashed bag-of-words classifier: token explode feeds a BROADCAST"
        " hash join against the weight table (never a shuffle of the"
        " token stream against weights) and a partial/final per-doc sum"
        " -- the one shuffle carries (doc_id, partial aggregates), not"
        " tokens.",
    ),
    (
        "agg_count_min",
        "Count-min sketch: the depth-wise explode collapses via partial"
        " aggregation to at most 1024 counter cells per partition before"
        " the single exchange -- constant shuffle state at any corpus"
        " size, and the counter table is broadcast to the probe side.",
    ),
    (
        "sample_weighted",
        "Weighted sampling without replacement: per-row exponential-race"
        " keys in a narrow Project, then TakeOrderedAndProject -- per-"
        "partition top-k heaps, only k rows per partition reach the"
        " driver-side merge; the corpus never shuffles.",
    ),
    (
        "join_spatial_grid",
        "Grid-bucketed spatial radius join (the geohash pattern): points"
        " bucket to cells sized >= the radius, one side takes a narrow 9x"
        " neighborhood explode (a Generate, not a join), candidates meet"
        " in a single hash equi-join on cell id with the per-cell cap"
        " bounding any hot cell -- never an all-pairs cross product, and"
        " the haversine refine runs post-join in whole-stage codegen.",
    ),
    (
        "ml_logreg_train",
        "In-engine model training: the (doc, bucket, cnt) feature table is"
        " built once and checkpointed; each gradient-descent round joins"
        " the BROADCAST 16-row weight vector, partial/final-aggregates"
        " per-doc margins and per-bucket gradients -- per-round shuffle"
        " volume is |docs| longs regardless of corpus width, the"
        " model-fits-in-a-broadcast pattern.",
    ),
    (
        "layout_zorder_stats",
        "Data-layout planning readout: global min/max from ONE tiny"
        " aggregate broadcast back (no global-window rank), Morton key as"
        " pure integer bit interleaving in a Project, per-(layout, file)"
        " footer stats via a map-side-combinable aggregate to 32 rows --"
        " the probe accounting then runs on the 32-row stats table, not"
        " on data.",
    ),
    (
        "ml_pca_power",
        "Gram-matrix training in one corpus scan: the per-row nested"
        " transform explodes d^2 quantized products into a"
        " partial/final-aggregated 4096-cell integer matrix (constant"
        " partial state per partition); all four power iterations run on"
        " the normalized 4096-row Gram against a 64-row BROADCAST vector"
        " -- the corpus is never rescanned or reshuffled.",
    ),
    # Round-5 rewrites: the three plans changed to remove the
    # unpartitioned-global-window class / self-join pair machinery.
    (
        "ml_rfm_segments",
        "Distributed exact quintiles with NO unpartitioned Window (the"
        " round-4 verdict's one perf-weak flag): each RFM axis gets a"
        " range-repartitioned sort whose per-partition row_number is"
        " offset by a bounded (num-partitions-sized) collected prefix"
        " table, then ntile derives positionally from (row, N). Every"
        " stage is many-task; nothing corpus-sized crosses one task.",
    ),
    (
        "tpch_q15_top_supplier",
        "Scalar-max-of-rollup without a global window: the revenue"
        " rollup is lazily checkpointed ONCE (Scan ExistingRDD in this"
        " plan -- the single lineitem scan lives in the checkpoint's"
        " materialization job) and both consumers read it: the 1-row max"
        " aggregate broadcast-joins back onto the rollup for the"
        " equality filter. tpch_q11 uses the same shape for its"
        " value-share threshold.",
    ),
    (
        "ml_item_cf",
        "Bounded item-pair generation entirely map-side: ONE collect_set"
        " aggregation (r10) fuses basket dedup, pk-sort and the cap --"
        " map-side partial sets dedup before the single corpus-width"
        " exchange -- and each capped basket array emits exactly its"
        " C(b,2) i<j pair structs via nested array transforms: no"
        " self-join operator, no b^2 transient rows. The r9 shape spent"
        " TWO exchanges (distinct + cap-window) on the same prefix; a"
        " window-dedup one-exchange alternative was measured and"
        " rejected (SCALE_CHECK r10 64x note).",
    ),
    (
        "graph_pagerank",
        "Iterative PageRank over the winnowing passage-overlap graph,"
        " r11 shape: the edge build (duplication-adaptive passage"
        " pairing, single-subtree symmetrize, grouped adjacency"
        " checkpointed once) and all 10 power-iteration rounds run as"
        " non-adaptive construction-time jobs -- each round an"
        " exchange-free shuffled-hash join against the co-partitioned"
        " adjacency plus ONE message-aggregation exchange at a width"
        " sized from the measured edge count (6 jobs end-to-end vs 26"
        " under per-stage AQE jobs + per-round broadcast builds). The"
        " plan shown is therefore the final segment: a scan of the"
        " checkpointed rank table + the dround projection; the"
        " machinery's own plans are in plans/r11/ and the operator"
        " docstring (operators/components.pagerank).",
    ),
    (
        "dedup_containment",
        "Exact shingle-containment pairs, r10 cluster-collapse shape:"
        " docs group by md5 of their (df-window-capped) shingle set;"
        " pair counting runs once per cluster pair with both set sizes"
        " carried inside the posting structs, so the pair table never"
        " joins a size aggregation; member-level output (incl."
        " containment-1.0 intra pairs) expands via equi-joins on the"
        " set key. Cluster size is structurally <= the df cap, so"
        " intra fan-out is bounded at C(cap,2) per cluster. The df cap"
        " itself is a window count -- one shuffle, no second corpus"
        " derivation, no keep-list broadcast.",
    ),
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    lines = [
        line[:MAX_LINE] for line in buf.getvalue().rstrip().splitlines()
    ]
    return "\n".join(lines)


def main() -> None:
    spark = build_session(
        "gen-plans", master="local[8]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    out = [
        "# PLANS — physical plans of representative queries (sf0.1, local[8])",
        "",
        "Generated by `python tools/gen_plans.py` from"
        " `df.explain('formatted')`.",
        "",
    ]
    for name, note in SECTIONS:
        df = queries[name](spark, SF_DIR)
        out += [f"\n## {name}", "", note, "", "```",
                explain_str(df), "```"]
    out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
