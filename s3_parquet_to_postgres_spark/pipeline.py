"""End-to-end batch pipeline: the Spark analogue of runner::run.

Reference drain loop (reference: src/runner.rs:47-112):
pop a batch of S3 keys -> download -> per file: scan, project, rename,
convert, COPY into PG -> mark completed -> delete local file.

Spark version: the download/stage/delete steps vanish (executors read
s3a:// directly); a whole batch of files becomes ONE distributed scan;
projection/rename/cast collapse into a single Catalyst plan whose
column pruning reaches the parquet footer. The work-list manifest and
fail-fast destination validation carry over unchanged. Per-file
completion marking is preserved so resume granularity matches the
reference (a crashed run re-processes at most one in-flight batch,
deduped by the completed log).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .config import JobSpec
from .operators.casts import build_cast_plan
from .operators.project import project_rename
from .sources.parquet import scan_parquet
from .sources.work_list import WorkList


@dataclass
class BatchResult:
    keys: list[str]
    rows_written: int


def transform(
    df: DataFrame,
    spec: JobSpec,
    column_targets: dict[str, str] | None = None,
) -> DataFrame:
    """The reference's per-file "query": project -> rename -> cast
    (reference: src/runner.rs:17-45). One narrow, shuffle-free plan.
    Nested-column rejection (require_flat) is NOT applied here: it
    belongs to the flat-destination (Postgres) sinks -- a parquet
    sink writes nested types natively. __main__ gates the PG paths."""
    out = project_rename(df, spec.projection.desired_fields, spec.projection.renames)
    if column_targets:
        out = build_cast_plan(out, column_targets)
    return out


def run(
    spark: SparkSession,
    spec: JobSpec,
    sink_fn: Callable[[DataFrame], int],
    column_targets: dict[str, str] | None = None,
) -> list[BatchResult]:
    """Drain the work list through the transform into the sink.

    ``sink_fn`` receives the transformed DataFrame for one batch and
    returns rows written: the CLI's COPY writer (``CopySink.write``,
    BINARY or TEXT) or its Parquet writer. ``column_targets`` maps
    output columns to Postgres type names for the cast plan; the CLI
    casts inside its COPY writer instead, so that a batch whose types
    the cast plan does not cover can still go as TEXT. Raises on the
    first failed batch -- fail-fast, nothing marked completed
    (reference: src/db.rs:202-239).
    """
    if spec.source.work_lists_dir is None:
        raise ValueError("spec.source.work_lists_dir is required for run()")
    wl = WorkList(spec.source.work_lists_dir)
    stage_root: str | None = None
    own_stage_root = False
    client = None
    if spec.source.endpoint is not None:
        # Endpoint mode: the reference's download-then-read path
        # (src/s3_download.rs + the runner's per-file delete,
        # src/runner.rs:47-112) for Spark images without S3A jars.
        # ETag-verified staging, <=5 concurrent GETs, per-batch delete
        # after the completed log commits.
        #
        # Staging writes to a DRIVER-local directory, so executors on
        # other nodes cannot read it: endpoint mode is only valid
        # under a local master, unless the operator points stage_dir
        # at a filesystem shared with every executor (NFS/EFS-class)
        # and thereby asserts readability. Fail fast here rather than
        # let executors die on FileNotFound mid-scan.
        import tempfile

        from .config import ConfigError
        from .sources.s3http import S3HttpClient

        master = spark.sparkContext.master or ""
        if not master.startswith("local") and spec.source.stage_dir is None:
            raise ConfigError(
                "s3.endpoint staging downloads to a driver-local "
                f"directory, but master is {master!r}: executors on "
                "other nodes cannot read driver-local files. Either "
                "run under a local master, set s3.stage_dir to a "
                "filesystem shared with every executor, or drop "
                "s3.endpoint and use the direct s3a:// read path."
            )
        if spec.source.bucket is None:
            raise ConfigError(
                "s3.endpoint staging requires s3.bucket (work-list "
                "keys resolve to s3a:// URLs via the bucket; without "
                "it bare keys cannot be staged)."
            )
        client = S3HttpClient(
            spec.source.endpoint,
            extra_headers=dict(spec.source.endpoint_headers),
        )
        stage_root = spec.source.stage_dir or tempfile.mkdtemp(
            prefix="s3stage-"
        )
        own_stage_root = spec.source.stage_dir is None
    results: list[BatchResult] = []
    batch_no = 0
    batch_dir: str | None = None
    try:
        while True:
            batch = wl.next_batch(spec.source.download_batch_size)
            if not batch:
                break
            paths = [spec.source.key_to_path(k) for k in batch]
            batch_dir = None
            if client is not None:
                batch_dir = f"{stage_root}/batch-{batch_no}"
                paths = client.stage(paths, batch_dir)
            df = transform(scan_parquet(spark, paths), spec, column_targets)
            rows = sink_fn(df)
            for key in batch:
                wl.mark_completed(key)
            if batch_dir is not None:
                from .sources.s3http import unstage

                unstage(batch_dir)
                batch_dir = None
            results.append(BatchResult(keys=batch, rows_written=rows))
            batch_no += 1
    finally:
        # A mid-batch failure must not leak partially staged files:
        # drop the in-flight batch dir, and the whole stage root when
        # this run created it (an operator-provided stage_dir is
        # theirs to keep).
        if batch_dir is not None or own_stage_root:
            from .sources.s3http import unstage

            if batch_dir is not None:
                unstage(batch_dir)
            if own_stage_root and stage_root is not None:
                unstage(stage_root)
    return results
