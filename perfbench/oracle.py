"""Oracle answers for the catalog workload.

The catalog inputs keep their content for every seed and only permute
row order, so each query's answer is fixed per input size. This script
runs the package's ``oracle_sql()`` for the eight catalog queries
through DuckDB and stores each answer's sorted column names, row count
and order-insensitive hash in ``catalog_expected.json``; a run compares
the engine's results with them. The graph oracle alone takes tens of
seconds in DuckDB at full size, which is why it is not rerun on every run.

    python3 perfbench/oracle.py            # rewrite catalog_expected.json
    python3 perfbench/oracle.py --check tiny --seed 5
                                           # recompute one size, compare

Run from the root of a checkout; temporary files go under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def answers(scale: str, seed: int) -> dict[str, list]:
    import duckdb

    from perfbench import inputs
    from perfbench.workloads import CATALOG_QUERIES, SIZES, canonical
    from s3_parquet_to_postgres_spark.plans import all_oracle_sql

    data = os.path.join(ROOT, ".perfbench", f"oracle-{os.getpid()}")
    try:
        inputs.write_catalog(data, SIZES[scale]["docs"],
                             SIZES[scale]["vecs"], seed)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sql = all_oracle_sql()
        out = {q: list(canonical(con.execute(sql[q]).df()))
               for q in CATALOG_QUERIES}
        con.close()
        return out
    finally:
        shutil.rmtree(data, ignore_errors=True)
        parent = os.path.dirname(data)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", metavar="SCALE",
                    help="recompute one size and compare with the file")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import EXPECTED_PATH, SIZES

    if args.check:
        with open(EXPECTED_PATH) as fh:
            stored = json.load(fh)[args.check]
        got = answers(args.check, args.seed)
        bad = [q for q in got if got[q] != stored[q]]
        print(json.dumps({"scale": args.check, "seed": args.seed,
                          "mismatched": bad}))
        return 1 if bad else 0
    expected = {scale: answers(scale, args.seed) for scale in SIZES}
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
