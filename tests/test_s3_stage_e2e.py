"""Work-list drain against real s3://-shaped URLs, end-to-end through
an in-process S3 HTTP stub (tests/fake_s3_http.py) -- the analogue of
the reference's localstack download test (reference:
src/s3_download.rs:362-371) and its nested-key runner drive
(src/runner.rs:238-295)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.__main__ import main
from s3_parquet_to_postgres_spark.sources.s3http import (
    S3HttpClient,
    S3HttpError,
    parse_s3_url,
)

from .fake_s3_http import FakeS3Server

SF = "/root/testdata/sf0.001"


def test_parse_s3_url():
    assert parse_s3_url("s3://b/k") == ("b", "k")
    assert parse_s3_url("s3a://b/nested/key.parquet") == (
        "b", "nested/key.parquet"
    )
    with pytest.raises(S3HttpError):
        parse_s3_url("http://b/k")
    with pytest.raises(S3HttpError):
        parse_s3_url("s3://bucket-only")


def test_get_object_is_byte_identical_and_etag_checked(tmp_path):
    root = tmp_path / "objects"
    root.mkdir()
    payload = bytes(range(256)) * 100
    (root / "blob.bin").write_bytes(payload)
    with FakeS3Server(str(root), bucket="b",
                      corrupt_keys={"corrupt.bin"}) as srv:
        cli = S3HttpClient(srv.endpoint)
        # byte-identical download (the reference's check)
        got = cli.get_object("b", "blob.bin")
        assert got == payload
        assert hashlib.md5(got).hexdigest() == hashlib.md5(payload).hexdigest()
        # a damaged body with the true ETag must fail the integrity check
        (root / "corrupt.bin").write_bytes(payload)
        with pytest.raises(S3HttpError, match="integrity"):
            cli.get_object("b", "corrupt.bin")
        # missing key is a loud transport error, not empty bytes
        with pytest.raises(S3HttpError, match="GET"):
            cli.get_object("b", "nope.bin")


def test_stage_preserves_nested_layout(tmp_path):
    root = tmp_path / "objects"
    (root / "a/b").mkdir(parents=True)
    (root / "a/b/one.bin").write_bytes(b"1")
    (root / "two.bin").write_bytes(b"2")
    with FakeS3Server(str(root), bucket="bkt") as srv:
        cli = S3HttpClient(srv.endpoint)
        dest = tmp_path / "staged"
        locals_ = cli.stage(
            ["s3a://bkt/a/b/one.bin", "s3://bkt/two.bin"], str(dest)
        )
        assert locals_[0].endswith("bkt/a/b/one.bin")
        assert open(locals_[0], "rb").read() == b"1"
        assert open(locals_[1], "rb").read() == b"2"


def test_cli_drains_s3_todo_list_through_stub(spark, tmp_path):
    """The verdict-shaped e2e: a 3-file todo list of NESTED S3 keys
    drains through the stub into the parquet sink -- staging is
    ETag-verified, batches scan distributed, completed log records
    all three keys, and the staged copies are deleted afterwards."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    root = tmp_path / "bucket_root"
    keys = []
    for i in range(3):
        key = f"ingest/year=2024/part={i}/orders.parquet"
        dest = root / key
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
            str(dest)
        )
        # point the work list at the one part-file inside the dir
        part = next(p for p in dest.rglob("part-*.parquet"))
        keys.append(str(part.relative_to(root)).replace("\\", "/"))
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text("\n".join(keys) + "\n")
    stage_dir = tmp_path / "stage"
    with FakeS3Server(str(root), bucket="lake") as srv:
        cfg = tmp_path / "config.yml"
        cfg.write_text(
            f"""
s3:
  bucket: lake
  endpoint: {srv.endpoint}
  stage_dir: {stage_dir}
  download_batch_size: 2
  work_lists_dir: {work}
parquet:
  desired_fields: [o_orderkey, o_totalprice]
  parquet_to_db:
    o_orderkey: id
    o_totalprice: price
"""
        )
        out_dir = tmp_path / "out"
        rc = main([str(cfg), "--output-dir", str(out_dir)])
    assert rc == 0
    got = spark.read.parquet(str(out_dir))
    assert got.count() == orders.count()
    assert sorted(got.columns) == ["id", "price"]
    completed = (work / "completed").read_text().strip().splitlines()
    assert sorted(completed) == sorted(keys)
    # per-batch staged copies are deleted after the completed log
    assert not any(stage_dir.rglob("*.parquet"))


def test_stage_dedupes_duplicate_urls_and_cleans_failed_temps(tmp_path):
    """A batch with the same key listed twice fetches it ONCE (two
    threads racing one .part temp file could tear each other before
    uuid-unique temp names made that impossible), and a failed fetch
    leaves no .part litter behind."""
    root = tmp_path / "objects"
    root.mkdir()
    (root / "one.bin").write_bytes(b"1")
    with FakeS3Server(str(root), bucket="b") as srv:
        cli = S3HttpClient(srv.endpoint)
        calls = []
        real_get = cli.get_object

        def counting_get(bucket, key):
            calls.append(key)
            return real_get(bucket, key)

        cli.get_object = counting_get
        dest = tmp_path / "staged"
        locals_ = cli.stage(
            ["s3://b/one.bin", "s3://b/one.bin", "s3a://b/one.bin"],
            str(dest),
        )
        assert calls == ["one.bin"]  # deduped: one GET for 3 entries
        assert len(locals_) == 3 and len(set(locals_)) == 1
        assert open(locals_[0], "rb").read() == b"1"
        assert not list(dest.rglob("*.part"))
        # missing key: loud error, no temp litter in dest
        with pytest.raises(S3HttpError):
            cli.stage(["s3://b/one.bin", "s3://b/nope.bin"], str(dest))
        assert not list(dest.rglob("*.part"))


def _endpoint_spec(work, bucket="lake", endpoint="http://127.0.0.1:1",
                   stage_dir=None):
    from s3_parquet_to_postgres_spark.config import (
        JobSpec, ProjectionSpec, SinkSpec, SourceSpec,
    )

    return JobSpec(
        source=SourceSpec(bucket=bucket, endpoint=endpoint,
                          stage_dir=stage_dir, work_lists_dir=str(work),
                          download_batch_size=2),
        projection=ProjectionSpec(desired_fields=("o_orderkey",)),
        sink=SinkSpec(),
    )


def test_endpoint_mode_rejects_nonlocal_master_and_missing_bucket(tmp_path):
    """Endpoint staging is driver-local: a cluster master without a
    shared stage_dir must fail fast at run() (ADVICE r4), as must a
    bucket-less endpoint config whose bare keys cannot be staged.
    Both raise BEFORE any batch moves."""
    import types

    from s3_parquet_to_postgres_spark.config import ConfigError
    from s3_parquet_to_postgres_spark.pipeline import run

    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text("a.parquet\n")
    cluster_spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(master="spark://host:7077")
    )
    with pytest.raises(ConfigError, match="driver-local"):
        run(cluster_spark, _endpoint_spec(work), sink_fn=lambda df: 0)
    # same master WITH an (asserted-shared) stage_dir passes validation
    # and proceeds to the drain (which then fails on the dead endpoint,
    # proving validation was the only gate)
    with pytest.raises(Exception) as exc:
        run(cluster_spark,
            _endpoint_spec(work, stage_dir=str(tmp_path / "shared")),
            sink_fn=lambda df: 0)
    assert not isinstance(exc.value, ConfigError)
    local_spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(master="local[4]")
    )
    with pytest.raises(ConfigError, match="bucket"):
        run(local_spark, _endpoint_spec(work, bucket=None),
            sink_fn=lambda df: 0)


def test_endpoint_mode_cleans_stage_root_on_failure(
        spark, tmp_path, monkeypatch):
    """A sink failure mid-batch must not leak the staged batch dir or
    the run-created mkdtemp stage root (ADVICE r4)."""
    import tempfile

    from s3_parquet_to_postgres_spark.pipeline import run

    root = tmp_path / "bucket_root"
    root.mkdir()
    df = spark.range(5).toDF("o_orderkey")
    df.coalesce(1).write.parquet(str(root / "a.parquet"))
    part = next((root / "a.parquet").rglob("part-*.parquet"))
    key = str(part.relative_to(root)).replace("\\", "/")
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text(key + "\n")

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def tracking_mkdtemp(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", tracking_mkdtemp)

    def boom(_df):
        raise RuntimeError("sink exploded")

    with FakeS3Server(str(root), bucket="lake") as srv:
        with pytest.raises(RuntimeError, match="sink exploded"):
            run(spark, _endpoint_spec(work, endpoint=srv.endpoint),
                sink_fn=boom)
    assert made, "endpoint mode should have created a stage root"
    assert not any(os.path.exists(d) for d in made)
    # nothing marked completed for the failed batch
    completed = work / "completed"
    assert (not completed.exists()
            or not completed.read_text().strip())
