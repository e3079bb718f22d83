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


def scan_parquet(
    spark: SparkSession,
    paths: str | list[str],
    merge_schema: bool = False,
    on_corrupt: str = "fail",
) -> DataFrame:
    """Open one or many parquet files/dirs as a DataFrame.

    ``merge_schema=True`` reconciles schema DRIFT across files (a
    landing zone where newer files carry added columns): the scan
    unions all footer schemas and older files read the missing
    columns as NULL. Off by default -- the reference resolves fields
    per file and a silent schema union can mask a config mistake;
    turning it on is an explicit operational choice.

    ``on_corrupt`` is the corrupt-input policy: ``"fail"`` (default)
    surfaces a Spark read error at action time, matching the
    reference's footer-parse abort (reference:
    src/parquet_ops.rs:25-29); ``"skip"`` sets ignoreCorruptFiles for
    this scan only, dropping unreadable files and keeping the batch
    alive -- the triage mode for a landing zone with a known-bad
    object, logged by Spark per skipped file.
    """
    if on_corrupt not in ("fail", "skip"):
        raise ValueError(f"on_corrupt must be fail|skip, got {on_corrupt!r}")
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if on_corrupt == "skip":
        # ignoreCorruptFiles drops unreadable files at SCAN time, but
        # schema INFERENCE can still abort if the file it samples is
        # the corrupt one (observed: UNABLE_TO_INFER_SCHEMA). Infer
        # defensively from the readable paths and pass the schema
        # explicitly. DANGER handled here: with a forced schema,
        # ignoreCorruptFiles also swallows schema-CONVERSION failures,
        # silently dropping HEALTHY files whose types drifted (e.g.
        # int -> long). So conflicting field types across readable
        # paths are a loud error, never a silent loss.
        reader = reader.option("ignoreCorruptFiles", "true")
        schemas = []
        for p in paths:
            try:
                schemas.append(spark.read.parquet(p).schema)
            except Exception:
                continue  # fully-corrupt path: contributes no schema
        if not schemas:
            raise IOError(
                f"no readable parquet among {len(paths)} path(s)"
            )
        from pyspark.sql.types import StructType

        fields: dict[str, object] = {}
        for sch in schemas:
            for f in sch.fields:
                prev = fields.get(f.name)
                if prev is not None and prev.dataType != f.dataType:
                    raise ValueError(
                        f"type drift on column {f.name!r} across paths "
                        f"({prev.dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()}): with "
                        "on_corrupt='skip' a forced schema would make "
                        "Spark silently drop the mismatched (healthy) "
                        "files as corrupt. Read the drifted paths "
                        "separately and cast, or use merge_schema with "
                        "on_corrupt='fail'."
                    )
                fields.setdefault(f.name, f)
        reader = reader.schema(StructType(list(fields.values())))
    return reader.parquet(*paths)


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
