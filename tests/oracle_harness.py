"""Local replica of the driver's DuckDB oracle comparison: row count,
column names, and order-insensitive value equality. Stricter than a
hash -- mismatches print the offending rows."""

from __future__ import annotations

import math

import duckdb
import numpy as np

from s3_parquet_to_postgres_spark.catalog import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_value(v):
    if v is None:
        return "<null>"
    if isinstance(v, np.floating):
        # Exact widening: an Arrow float32 array element renders like
        # the Python float that toPandas yields with Arrow off.
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)  # shortest round-trip repr: exposes bit diffs
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, int):
        return f"int:{v}"
    # Arrays/maps canonicalize recursively and container-blind:
    # Spark's toPandas yields numpy arrays / lists where DuckDB's
    # .df() yields numpy arrays, so the container type must not leak
    # into the rendering -- only element values (and NULL slots) do.
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_value(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{_norm_value(v[k])}" for k in sorted(v)
        ) + "}"
    return f"{type(v).__name__}:{v}"


def _normalize(df_pandas) -> tuple[list[str], list[tuple]]:
    cols = sorted(df_pandas.columns)
    data = df_pandas[cols]
    rows = sorted(
        tuple(_norm_value(v) for v in row)
        for row in data.itertuples(index=False, name=None)
    )
    return cols, rows


def compare(spark_df, con, sql: str, name: str = "") -> None:
    spark_pd = spark_df.toPandas()
    duck_pd = con.sql(sql).df()
    s_cols, s_rows = _normalize(spark_pd)
    d_cols, d_rows = _normalize(duck_pd)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    if s_rows != d_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
