"""HTTP conditional-PUT manifest store: the protocol real object
stores speak, spoken for real.

The reference's store drivers (broker/stores/s3/store.go,
stores/gcs/store.go, stores/azure/store.go) all reduce the journal's
persist contract to one primitive on the backing service: a
conditional write. `sources/stores.py` abstracts that contract
(O_EXCL on filesystems, a conditional-PUT *model* in memory); this
module closes the remaining gap by exercising it over an actual HTTP
wire protocol:

- `ObjectStoreServer`: an in-process stdlib `http.server` bucket
  honoring the conditional headers the production services define —
  `If-None-Match: *` (create-only: S3 conditional writes, GCS
  `x-goog-if-generation-match: 0`, Azure blob create) answering
  `412 Precondition Failed` when the key exists, and
  `If-Match: <etag>` (replace-if-unchanged) answering 412 on an ETag
  mismatch. Conditional evaluation and the write are one atomic step
  under the server's lock — modeling the service-side serialization
  the real stores guarantee.
- `HTTPManifestStore`: a `ManifestStore` driver that implements
  `put_if_absent` as `PUT If-None-Match: *` — exactly the one header
  a production S3/GCS/ABFS driver needs.

With this pair, the engine's contended-append and fence tests run
the manifest CAS over the wire (tests/test_stores.py parametrizes
fs / mem / http), so "the CAS is a conditional PUT on object stores"
(journal.py module docstring) is demonstrated against the protocol,
not assumed.

Scale note: the server is a test harness standing in for S3/GCS —
manifests are small JSON blobs and each journal appends serially, so
the store sees one conditional PUT per commit, never data volume;
fragments themselves go to the fragment directory (executors write
object storage directly, COVERAGE.md §2.1 fragment-proxy
disposition).
"""

from __future__ import annotations

import hashlib
import json
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from core_spark.sources.stores import ManifestStore, version_of


class ObjectStoreServer:
    """In-process HTTP bucket with conditional PUT.

    Endpoints (keys are opaque paths):
      PUT /<key>        create/replace; `If-None-Match: *` = create
                        only (412 if the key exists); `If-Match: <e>`
                        = replace only if the current ETag matches
                        (412 otherwise; 404 if absent)
      GET /<key>        200 body + ETag, or 404
      GET /?prefix=<p>  JSON list of keys under the prefix
      DELETE /<key>     204 (idempotent)
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._host, self._port = host, port
        self._blobs: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @staticmethod
    def _etag(data: bytes) -> str:
        return '"%s"' % hashlib.md5(data).hexdigest()

    def start(self) -> tuple[str, int]:
        store = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _reply(self, code: int, body: bytes = b"",
                       headers: dict[str, str] | None = None):
                self.send_response(code)
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_PUT(self):
                key = self.path.lstrip("/")
                n = int(self.headers.get("Content-Length", "0"))
                data = self.rfile.read(n)
                if_none = self.headers.get("If-None-Match")
                if_match = self.headers.get("If-Match")
                # condition check + write are ONE atomic step under
                # the bucket lock — the service-side serialization of
                # conditional writes the drivers rely on
                with store._lock:
                    cur = store._blobs.get(key)
                    if if_none == "*" and cur is not None:
                        self._reply(412)
                        return
                    if if_match is not None:
                        if cur is None:
                            self._reply(404)
                            return
                        if store._etag(cur) != if_match:
                            self._reply(412)
                            return
                    store._blobs[key] = data
                    etag = store._etag(data)
                self._reply(200, headers={"ETag": etag})

            def do_GET(self):
                from urllib.parse import parse_qs, urlparse

                url = urlparse(self.path)
                key = url.path.lstrip("/")
                if key == "":
                    prefix = parse_qs(url.query).get("prefix", [""])[0]
                    with store._lock:
                        keys = sorted(
                            k for k in store._blobs if k.startswith(prefix)
                        )
                    self._reply(
                        200, json.dumps(keys).encode(),
                        {"Content-Type": "application/json"},
                    )
                    return
                with store._lock:
                    data = store._blobs.get(key)
                if data is None:
                    self._reply(404)
                    return
                self._reply(200, data, {"ETag": store._etag(data)})

            def do_DELETE(self):
                key = self.path.lstrip("/")
                with store._lock:
                    store._blobs.pop(key, None)
                self._reply(204)

        self._server = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[0], self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()


class HTTPManifestStore(ManifestStore):
    """ManifestStore over an HTTP bucket's conditional PUT.

    `put_if_absent` is one `PUT <url> If-None-Match: *`: the 2xx/412
    split IS the CAS — no read-then-write window exists, because the
    service evaluates the precondition atomically with the write
    (broker/stores/s3/store.go's persist path shape).
    """

    def __init__(self, base_url: str, prefix: str):
        self.base_url = base_url.rstrip("/")
        self.prefix = prefix.strip("/")

    def _url(self, version: int) -> str:
        return f"{self.base_url}/{self.prefix}/v{version}.json"

    def list_versions(self) -> list[int]:
        with urllib.request.urlopen(
            f"{self.base_url}/?prefix={self.prefix}/v"
        ) as resp:
            keys = json.loads(resp.read())
        vs = (version_of(k.rsplit("/", 1)[-1]) for k in keys)
        return [v for v in vs if v is not None]

    def read(self, version: int) -> str:
        with urllib.request.urlopen(self._url(version)) as resp:
            return resp.read().decode("utf-8")

    def put_if_absent(self, version: int, data: str) -> bool:
        req = urllib.request.Request(
            self._url(version),
            data=data.encode("utf-8"),
            method="PUT",
            headers={"If-None-Match": "*"},
        )
        try:
            with urllib.request.urlopen(req):
                return True
        except urllib.error.HTTPError as e:
            if e.code == 412:
                return False  # a concurrent appender already committed
            raise
