"""Parquet source: scan + fail-fast field resolution.

The reference opens each file, walks the footer schema into a
name->type map, and errors on any desired field not present
(reference: src/parquet_ops.rs:31-83, "Field '{}' not found" at :47).
Spark's scan is the vectorized columnar reader with footer-level
column pruning -- strictly better than the reference's decode-all-
then-drop row loop (reference: src/runner.rs:32, src/db.rs:183-186) --
so this module only adds the reference's *analysis* behavior:
explicit, early resolution errors and support for dotted column names
(e.g. iris 'sepal.length', reference: src/parquet_ops.rs:264-288),
which need backtick quoting in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class FieldResolutionError(ValueError):
    """A desired field does not exist in the source schema."""


def scan_parquet(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Open one or many parquet files/dirs as a DataFrame. A corrupt
    file surfaces as a Spark read error at action time, matching the
    reference's footer-parse abort (reference:
    src/parquet_ops.rs:25-29)."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.parquet(*paths)


def resolve_fields(df: DataFrame, desired_fields: list[str] | tuple[str, ...]) -> list[str]:
    """Validate that every desired field exists (case-sensitive, like
    the reference's HashMap lookup). Returns the fields in config
    order; duplicates are allowed (reference: src/parquet_ops.rs:248-259).
    """
    available = set(df.columns)
    missing = [f for f in desired_fields if f not in available]
    if missing:
        raise FieldResolutionError(
            f"Field(s) not found in source schema: {missing}; "
            f"available: {sorted(available)}"
        )
    return list(desired_fields)
