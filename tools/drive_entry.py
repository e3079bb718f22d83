"""Drive the driver contract: __spark_entry__.entry + queries() vs oracle_sql() via DuckDB at sf0.01."""
import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import numpy as np
import __spark_entry__ as entrymod
from s3_parquet_to_postgres_spark.catalog import TABLES
from s3_parquet_to_postgres_spark.session import build_session

SF_DIR = __import__("os").environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")


def canon_value(v):
    """Render one cell. Arrays/maps canonicalize recursively and
    container-blind (Spark toPandas yields lists/ndarrays, DuckDB
    yields ndarrays — only element values may leak into the hash).
    NOTE: this tool and tests/oracle_harness.py support array-typed
    outputs; the EXTERNAL driver's canonicalizer is not known to, so
    array-returning catalog entries stay outside the FLAGSHIP driver
    window (see plans/registry.py)."""
    if isinstance(v, np.floating):
        v = float(v)  # exact: float32 elements render as Arrow-off floats do
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_value(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{canon_value(v[k])}" for k in sorted(v)
        ) + "}"
    return str(v)


def canon(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = []
    for _, r in df_pandas[cols].iterrows():
        rows.append("\x1f".join(canon_value(v) for v in r))
    rows.sort()
    return cols, len(rows), hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    only = set(sys.argv[1:])
    spark = build_session(
        app_name="drive_entry", master="local[8]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false"},
    )
    res = entrymod.entry(spark)
    print(f"SMOKE entry() rows={res.count()}", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    from s3_parquet_to_postgres_spark.operators.ranking import drain_pins

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_fail = n_noora = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        drain_pins()  # previous query fully materialized; free its pins
        try:
            sp = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}", flush=True)
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS {name}: rows={len(sp)} (no oracle)", flush=True)
            n_noora += 1
            continue
        try:
            du = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {type(e).__name__}: {str(e)[:200]}", flush=True)
            n_fail += 1
            continue
        sc, sn, sh = canon(sp)
        dc, dn, dh = canon(du)
        if sn == dn and sc == dc and sh == dh:
            print(f"OK {name}: rows={sn}", flush=True)
            n_ok += 1
        else:
            print(
                f"FAIL {name}: rows {sn} vs {dn}; cols {'=' if sc == dc else f'{sc} vs {dc}'}; "
                f"hash {'=' if sh == dh else 'MISMATCH'}",
                flush=True,
            )
            n_fail += 1
    print(f"RESULT ok={n_ok} fail={n_fail} rows_only={n_noora}", flush=True)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
