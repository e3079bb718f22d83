"""In-process S3-compatible HTTP stub (GetObject).

The S3 sibling of ``fake_pg_wire.FakePgServer``: serves a local
directory tree as one bucket over the REST call ``sources/s3http.py``
speaks, so the work-list drain can run against
real ``s3://``-shaped URLs end-to-end without docker or network
access -- the reference's localstack-backed download test
(reference: src/s3_download.rs:362-371) minus localstack.

Faithful bits: path-style addressing, MD5-hex ``ETag`` on GETs
(single-part semantics), S3-style XML errors (404 NoSuchKey). ``corrupt_keys`` serves
deliberately damaged bytes WITH the original ETag to exercise the
client's integrity check.
"""

from __future__ import annotations

import hashlib
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlparse


class FakeS3Server:
    """``with FakeS3Server(root, bucket="b") as srv: srv.endpoint``."""

    def __init__(self, root: str, bucket: str = "bucket",
                 corrupt_keys: set[str] | None = None):
        self.root = root
        self.bucket = bucket
        self.corrupt_keys = corrupt_keys or set()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def do_GET(self):
                outer._handle(self)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def __enter__(self) -> "FakeS3Server":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
        return False

    # -- request handling

    def _handle(self, req: BaseHTTPRequestHandler) -> None:
        u = urlparse(req.path)
        parts = unquote(u.path).lstrip("/").split("/", 1)
        if parts[0] != self.bucket:
            self._error(req, 404, "NoSuchBucket", parts[0])
            return
        self._get(req, parts[1] if len(parts) == 2 else "")

    def _get(self, req: BaseHTTPRequestHandler, key: str) -> None:
        path = os.path.join(self.root, *key.split("/"))
        if not os.path.isfile(path):
            self._error(req, 404, "NoSuchKey", key)
            return
        with open(path, "rb") as fh:
            body = fh.read()
        etag = hashlib.md5(body).hexdigest()  # ETag of the TRUE bytes
        if key in self.corrupt_keys:
            body = body[:-1] + bytes([body[-1] ^ 0xFF]) if body else b"X"
        req.send_response(200)
        req.send_header("ETag", f'"{etag}"')
        req.send_header("Content-Length", str(len(body)))
        req.send_header("Content-Type", "application/octet-stream")
        req.end_headers()
        req.wfile.write(body)

    def _error(self, req: BaseHTTPRequestHandler, status: int,
               code: str, what: str) -> None:
        body = (
            f"<Error><Code>{code}</Code><Message>{what}</Message></Error>"
        ).encode()
        req.send_response(status)
        req.send_header("Content-Type", "application/xml")
        req.send_header("Content-Length", str(len(body)))
        req.end_headers()
        req.wfile.write(body)
