"""Job-spec model: the YAML config surface of the reference engine.

Mirrors the reference's config semantics (reference: src/config.rs:7-37,
local/config.yml): an S3/file source with a work list and batch size, a
set of desired fields with optional renames (null alias = keep name),
and a Postgres destination. Validation is fail-fast like
Config::from_yaml_file (reference: src/config.rs:40-45): missing keys
raise before any data moves.

YAML shape accepted (same keys as the reference's local/config.yml):

    s3:
      bucket: my-bucket            # optional for local file sources
      download_batch_size: 4
      work_lists_dir: ./work       # contains todo / wip / completed
    parquet:
      desired_fields: [order_id, desc, some_fraction]
      parquet_to_db:               # optional rename map
        order_id: id
        desc: description
        some_fraction: null        # null = keep source name
    db:
      conn_string: postgresql://...
      table: customer_orders
"""

from __future__ import annotations

from dataclasses import dataclass, field

try:  # PyYAML is optional in this container; gate the import.
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    yaml = None
    _HAVE_YAML = False


class ConfigError(ValueError):
    """Bad or incomplete job spec (fail-fast, before any data moves)."""


@dataclass(frozen=True)
class SourceSpec:
    """Where the parquet files come from and how they are batched."""

    bucket: str | None = None
    download_batch_size: int = 4
    work_lists_dir: str | None = None
    # Optional S3-compatible HTTP endpoint. When set, the drain stages
    # each batch to local disk over the S3 REST API (sources/s3http.py,
    # the reference's download-then-read shape, src/s3_download.rs)
    # instead of handing s3a:// URIs to executors -- for Spark images
    # without the S3A jars, or endpoint-pinned replicas/stubs.
    endpoint: str | None = None
    # Staging directory for endpoint mode (default: a per-run tempdir).
    stage_dir: str | None = None
    # Static headers for endpoint-mode requests (tuple of (name,
    # value) pairs -- hashable, this dataclass is frozen). The client
    # is credential-free by design; this exists for S3-compatible
    # stubs that insist on an Authorization header being PRESENT
    # (moto) -- a placeholder, never a secret.
    endpoint_headers: tuple[tuple[str, str], ...] = ()

    def key_to_path(self, key: str) -> str:
        """S3 key -> Spark-readable URI. Executors read S3 directly via
        s3a:// (no local staging step; reference downloads then deletes,
        src/s3_download.rs:34-128 -- unnecessary under Spark). With
        ``endpoint`` set the drain resolves the same s3a:// URI by
        STAGING it locally first (pipeline.run), so manifests stay
        byte-identical across both modes."""
        if self.bucket is None or "://" in key:
            return key
        return f"s3a://{self.bucket}/{key.lstrip('/')}"


@dataclass(frozen=True)
class ProjectionSpec:
    """desired_fields + rename map (reference: src/config.rs:12,30-32)."""

    desired_fields: tuple[str, ...] = ()
    renames: dict[str, str | None] = field(default_factory=dict)

    def output_name(self, src: str) -> str:
        dst = self.renames.get(src)
        return src if dst is None else dst


@dataclass(frozen=True)
class SinkSpec:
    conn_string: str | None = None
    table: str | None = None


@dataclass(frozen=True)
class JobSpec:
    source: SourceSpec
    projection: ProjectionSpec
    sink: SinkSpec

    @staticmethod
    def from_dict(raw: dict) -> "JobSpec":
        for section in ("s3", "parquet"):
            if section not in raw:
                raise ConfigError(f"missing config section: {section!r}")
        pq = raw["parquet"]
        if not pq.get("desired_fields"):
            raise ConfigError("parquet.desired_fields must be a non-empty list")
        s3 = raw["s3"]
        db = raw.get("db", {})
        if "mode" in db:
            # The sink runs once per batch: a per-write mode such as
            # overwrite would keep only the last batch of a drain.
            raise ConfigError(
                "db.mode is not supported: the drain appends every batch "
                "to db.table; remove the key"
            )
        return JobSpec(
            source=SourceSpec(
                bucket=s3.get("bucket"),
                download_batch_size=int(s3.get("download_batch_size", 4)),
                work_lists_dir=s3.get("work_lists_dir"),
                endpoint=s3.get("endpoint"),
                stage_dir=s3.get("stage_dir"),
            ),
            projection=ProjectionSpec(
                desired_fields=tuple(pq["desired_fields"]),
                renames=dict(pq.get("parquet_to_db") or {}),
            ),
            sink=SinkSpec(
                conn_string=db.get("conn_string"),
                table=db.get("table"),
            ),
        )

    @staticmethod
    def from_yaml_file(path: str) -> "JobSpec":
        if not _HAVE_YAML:  # pragma: no cover
            raise ConfigError("PyYAML not available; use JobSpec.from_dict")
        with open(path) as fh:
            raw = yaml.safe_load(fh)
        if not isinstance(raw, dict):
            raise ConfigError(f"config file {path!r} is not a YAML mapping")
        return JobSpec.from_dict(raw)
