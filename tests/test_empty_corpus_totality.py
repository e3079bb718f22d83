"""Totality sweeps: every catalog query must execute (possibly to an
empty or NULL-filled result) over (a) a dataset whose ten tables exist
but hold ZERO rows, and (b) a dataset whose content columns are half
NULL.

Why this matters at 100 TB: a real lake has empty partitions, empty
daily shards, and filters that eliminate every row before an
aggregate. Under Spark 4's default ANSI mode a ratio computed off a
zero count throws DIVIDE_BY_ZERO instead of going NULL, and
driver-side kernels that collect bounded state can meet None/zero
rows -- so "works on the test corpus" does not imply "total". The
round-3 advisor found exactly this class in ml_pca_power; this sweep
found and pinned three more (event_funnel_windowed, ml_logreg_train,
agg_bootstrap_ci rate/mean divisions; ml_kmeans_embeddings MLlib fit
on zero rows).

One test, all queries: per-query parametrization would pay the
fixture/session bookkeeping 230x; a single pass with a collected
failure list keeps the sweep ~a couple of minutes and reports every
offender at once.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from s3_parquet_to_postgres_spark.catalog import TABLES
from s3_parquet_to_postgres_spark.plans import all_queries

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(f"{SRC}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


def test_every_catalog_query_is_total_on_empty_tables(spark, empty_sf_dir):
    failures = []
    for name, fn in all_queries().items():
        try:
            fn(spark, empty_sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001 - collecting, not masking
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:160]}")
    assert not failures, (
        f"{len(failures)} catalog queries crash on empty input:\n  "
        + "\n  ".join(failures)
    )


# Content columns a real lake routinely leaves NULL; every other
# column keeps its value so the queries still have work to do.
NULLABLE = {
    "documents": ["text", "lang", "source"],
    "embeddings": ["embedding", "label"],
    "events": ["event_type"],
    "orders": ["o_orderstatus", "o_totalprice"],
    "lineitem": ["l_discount", "l_shipdate"],
    "customer": ["c_name", "c_acctbal"],
}


@pytest.fixture(scope="session")
def nullheavy_sf_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc

    d = tmp_path_factory.mktemp("sf_nullheavy")
    for t in TABLES:
        tb = pq.read_table(f"{SRC}/{t}.parquet")
        cols = NULLABLE.get(t, [])
        if cols:
            n = tb.num_rows
            mask = pa.array([(i % 2 == 0) for i in range(n)])
            new_cols = []
            for name in tb.column_names:
                col = tb[name]
                if name in cols:
                    col = pc.if_else(
                        mask, pa.nulls(n, col.type), col.combine_chunks()
                    )
                new_cols.append(col)
            tb = pa.table(new_cols, names=tb.column_names)
        pq.write_table(tb, str(d / f"{t}.parquet"))
    return str(d)


def test_every_catalog_query_is_total_on_null_heavy_tables(
    spark, nullheavy_sf_dir
):
    """Half-NULL content columns (text, embedding, event_type, lang,
    amounts): the second totality axis. This sweep originally found 11
    crashers -- NULL vectors breaking centroid/codebook np builds,
    NULL payloads in multimodal kernels, None-vs-str driver sorts
    (markov, IPF raking), NaN-smuggled int64 overflow in the bootstrap
    partials, and MLlib kmeans fit on NULL features -- all now
    guarded with NULL-in/NULL-out or explicit exclusion semantics."""
    failures = []
    for name, fn in all_queries().items():
        try:
            fn(spark, nullheavy_sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001 - collecting, not masking
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:160]}")
    assert not failures, (
        f"{len(failures)} catalog queries crash on NULL-heavy input:\n  "
        + "\n  ".join(failures)
    )
