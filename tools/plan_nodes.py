"""Print the pre-AQE physical-plan node names of catalog entries, one
line per entry in tree order, so two checkouts can be compared with
``diff``: a refactor that keeps every plan shape prints the same text.

Usage:
    python tools/plan_nodes.py <sf_dir> [--force-cluster] [query ...] > nodes.txt

Plans are built over the tables in ``sf_dir`` under the test suite's
session settings (local[8], 8 shuffle partitions); the plan-metrics
pins use the sf0.001 tables.
``--force-cluster`` sets the duplication threshold of
``operators/pairs.py`` to 0, so every pair operator plans its
cluster-collapse shape instead of the direct one.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from s3_parquet_to_postgres_spark.operators import pairs  # noqa: E402
from s3_parquet_to_postgres_spark.plans import all_queries  # noqa: E402
from s3_parquet_to_postgres_spark.session import build_session  # noqa: E402


def _walk(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk(node.children().apply(i))


def main() -> None:
    sf_dir, args = sys.argv[1], sys.argv[2:]
    if "--force-cluster" in args:
        args.remove("--force-cluster")
        pairs.CLUSTER_COLLAPSE_MIN_DUP = 0.0
    spark = build_session(
        app_name="plan_nodes", master="local[8]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in args or sorted(queries):
        plan = queries[name](spark, sf_dir)._jdf.queryExecution().sparkPlan()
        print(f"{name}: {' '.join(n.nodeName() for n in _walk(plan))}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
