"""Pure-stdlib S3 REST client + local staging for work-list drains.

The reference stages every S3 object to local disk before reading it,
with bounded download concurrency and a byte-identical check against
the stored object (reference: src/s3_download.rs:34-128, download
verification at :362-371; nested-key runs driven by
src/runner.rs:238-295). On a real Spark cluster this repo's primary
path is the opposite -- executors read ``s3a://`` URIs directly and
no staging step exists (see ``config.SourceSpec.key_to_path``) --
but two cases still want the reference's download-then-read shape:

* environments whose Spark image lacks the hadoop-aws/S3A jars (this
  test container is one), where the driver can still drain a manifest
  through plain HTTPS against the S3 REST API;
* small sidecar artifacts (manifests, schemas, checkpoints) where a
  driver-local byte-verified copy is the point, not a distributed
  scan.

Everything here is stdlib (urllib + ThreadPoolExecutor):
executors never import it; the staging runs on the driver and the
staged files feed the normal distributed parquet scan. Object
integrity is checked against the S3 ``ETag`` (MD5 of the body for
non-multipart objects -- the same end-to-end byte check the reference
performs; multipart ETags contain '-' and are not plain MD5s, so
they are skipped).

Auth is deliberately out of scope: credentialed deployments go
through S3A/the AWS SDK; this client targets anonymous/static
endpoints (localstack-class stubs, public buckets, internal
replicas). It never reads or embeds credentials.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote, urlparse
from urllib.request import Request, urlopen


class S3HttpError(RuntimeError):
    """Transport, protocol, or integrity failure."""


def parse_s3_url(url: str) -> tuple[str, str]:
    """``s3://bucket/some/key`` or ``s3a://bucket/some/key`` ->
    ``(bucket, key)``."""
    u = urlparse(url)
    if u.scheme not in ("s3", "s3a"):
        raise S3HttpError(f"not an S3 url: {url!r}")
    if not u.netloc or not u.path.lstrip("/"):
        raise S3HttpError(f"S3 url needs bucket and key: {url!r}")
    return u.netloc, u.path.lstrip("/")


class S3HttpClient:
    """Minimal S3 REST subset: GetObject.

    ``endpoint`` is the base URL of an S3-compatible HTTP service
    (``http://127.0.0.1:9000``). Path-style addressing
    (``endpoint/bucket/key``) -- the form every S3-compatible stub
    and most internal replicas accept.
    """

    def __init__(self, endpoint: str, timeout: float = 30.0,
                 max_concurrency: int = 5,
                 extra_headers: dict[str, str] | None = None):
        if not endpoint.startswith(("http://", "https://")):
            raise S3HttpError(f"endpoint must be http(s): {endpoint!r}")
        self.endpoint = endpoint.rstrip("/")
        self.timeout = timeout
        # Reference parity: at most 5 concurrent GETs
        # (src/s3_download.rs:34-128 uses a bounded download pool).
        self.max_concurrency = max(1, max_concurrency)
        # Static headers on every request. The client remains
        # credential-free by design (SigV4 belongs to the S3A primary
        # path); some S3-compatible stubs (moto) reject requests with
        # NO Authorization header at all, and a static placeholder
        # header satisfies them. Never a secret -- a secret would need
        # real signing.
        self.extra_headers = dict(extra_headers or {})

    def _request(self, url: str) -> Request:
        return Request(url, headers=self.extra_headers)

    # -- single object

    def get_object(self, bucket: str, key: str) -> bytes:
        """Download one object; verify the body's MD5 against the
        returned ETag (byte-identical check, reference parity with
        src/s3_download.rs:362-371). Multipart ETags (containing '-')
        are not plain MD5s and are skipped."""
        url = f"{self.endpoint}/{quote(bucket)}/{quote(key, safe='/')}"
        try:
            with urlopen(self._request(url), timeout=self.timeout) as resp:
                body = resp.read()
                etag = (resp.headers.get("ETag") or "").strip('"')
        except OSError as e:
            raise S3HttpError(f"GET {bucket}/{key} failed: {e}") from e
        if etag and "-" not in etag:
            md5 = hashlib.md5(body).hexdigest()
            if md5 != etag.lower():
                raise S3HttpError(
                    f"integrity check failed for {bucket}/{key}: "
                    f"body md5 {md5} != ETag {etag}"
                )
        return body

    # -- staging

    def stage(self, urls: list[str], dest_dir: str) -> list[str]:
        """Download ``s3://``/``s3a://`` URLs into ``dest_dir``
        (nested keys keep their directory structure), bounded at
        ``max_concurrency`` concurrent GETs. Returns local paths in
        input order. Writes are temp-file + rename so a torn download
        never masquerades as a staged object; temp names are
        per-fetch unique (uuid suffix) so duplicate keys in one batch
        can never tear each other's in-flight file, and duplicates
        (by parsed bucket/key, so ``s3://`` and ``s3a://`` spellings
        of one object coincide) are fetched once. A failed fetch
        removes its own temp file before propagating."""
        def fetch(loc: tuple[str, str]) -> str:
            bucket, key = loc
            body = self.get_object(bucket, key)
            local = os.path.join(dest_dir, bucket, key)
            os.makedirs(os.path.dirname(local), exist_ok=True)
            tmp = f"{local}.{uuid.uuid4().hex}.part"
            try:
                with open(tmp, "wb") as fh:
                    fh.write(body)
                os.replace(tmp, local)
            except BaseException:
                with contextlib.suppress(OSError):
                    os.unlink(tmp)
                raise
            return local

        locs = [parse_s3_url(u) for u in urls]
        unique = list(dict.fromkeys(locs))
        with ThreadPoolExecutor(self.max_concurrency) as pool:
            by_loc = dict(zip(unique, pool.map(fetch, unique)))
        return [by_loc[loc] for loc in locs]


def unstage(dest_dir: str) -> None:
    """Delete a batch's staged files (the reference deletes each local
    file after its load commits, src/runner.rs:47-112; per-batch is
    the Spark-shaped granularity since a batch is one scan)."""
    shutil.rmtree(dest_dir, ignore_errors=True)
