"""HTTP gateway: thin REST bridge over the journal API.

Reference: broker/http_gateway/http_gateway.go:26-237 — GET proxies a
journal Read (offset via query params, read-through metadata in
response headers), PUT proxies an Append of the request body. The
reference exists so environments that can't speak gRPC can still
read/append; this analog plays the same role for the engine: a
stdlib ThreadingHTTPServer in front of `Journal`, NDJSON over the
wire.

Endpoints:
  PUT /jnl/<journal/name>            body: NDJSON rows → one atomic
                                     append (one fragment); response
                                     {journal, begin, end, n_records};
                                     a line that is not a JSON record
                                     is a 400 naming its line number
  GET /jnl/<journal/name>?begin=&end= NDJSON rows of the offset range;
                                     X-Journal-Next-Offset carries the
                                     read-through offset (the
                                     Content-Range analog)
  GET /jnl/<name>?begin=&block=true&deadline=S
                                     blocking tail read: long-polls
                                     until data past `begin` commits;
                                     206 + empty body + resume offset
                                     on deadline (ReadRequest.block,
                                     protocol.proto:420-439)
  GET /journals                      manifest summary of every journal
                                     under the root

Scale note: the gateway is a *convenience* path, exactly as in the
reference — one HTTP body funnels through one append (the per-journal
serialization contract). Reads are flow-controlled: at most
`max_read_rows` rows are served per GET (a limit the plan pushes down,
so the driver never materializes more than one page), and
X-Journal-Next-Offset tells the client where to resume — the analog of
the reference's append flow control + offset paging
(broker/append_flow_control.go; client/reader.go RetryReader resume).
Bulk work belongs on the DataFrame API; the gateway exists for
curl-class clients.
"""

from __future__ import annotations

import json
import math
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from core_spark.sources.journal import Journal, RegisterMismatch, parse_where

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


class _Pairs(list):
    """A JSON object as its (key, value) pairs: tells objects from
    arrays and keeps duplicate keys visible."""


def _json_type(v) -> str | None:
    """Spark's JSON inference type of one scalar value; None for null
    (Spark infers `""` as null too); "" for values the rule leaves to
    Spark."""
    if v is None or v == "":
        return None
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long" if _INT64_MIN <= v <= _INT64_MAX else ""
    if isinstance(v, float):
        return "double" if math.isfinite(v) else ""
    if isinstance(v, str):
        return "string"
    return ""  # nested object or array


def _widen(a: str | None, b: str | None) -> str | None:
    """Spark's JSON type merge on the scalar types: null widens to
    anything, long with double is double, any other mix is string."""
    if a is None or a == b:
        return b
    if b is None:
        return a
    return "double" if {a, b} == {"long", "double"} else "string"


def flat_json_schema(lines: list[tuple[int, str]]):
    """The StructType `spark.read.json` infers for NDJSON `lines`
    ((line number, text) pairs), built on the driver. Raises
    ValueError naming the first line that is not strict JSON, or that
    is a JSON scalar rather than a record.

    Returns None, leaving inference to Spark, for bodies outside the
    rule: top-level arrays, nested values, integers outside int64
    (Spark infers a decimal), non-finite floats (Spark's own number
    rules), duplicate keys, keys that collide ignoring case, and the
    empty key (Spark drops it).
    Otherwise the rule is Spark's: every field nullable and sorted by
    name in UTF-16 order, a column seen only as null or `""` is a
    string."""
    from pyspark.sql.types import StructType

    rows = []
    for no, ln in lines:
        try:
            row = json.loads(ln, object_pairs_hook=_Pairs)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"line {no}: malformed JSON: {e.msg} at column {e.colno}"
            ) from None
        if not isinstance(row, list):
            raise ValueError(f"line {no}: a JSON scalar is not a record")
        rows.append(row)
    types: dict[str, str | None] = {}
    for row in rows:
        if not isinstance(row, _Pairs) or len({k for k, _ in row}) < len(row):
            return None
        for k, v in row:
            t = _json_type(v)
            if t == "":
                return None
            types[k] = _widen(types.get(k), t)
    if "" in types or len({k.casefold() for k in types}) < len(types):
        return None
    names = sorted(types, key=lambda k: k.encode("utf-16-be"))
    return StructType.fromJson({
        "type": "struct",
        "fields": [
            {"name": k, "type": types[k] or "string", "nullable": True,
             "metadata": {}}
            for k in names
        ],
    })


class JournalGateway:
    """Serve journals under `root` over HTTP. start() binds and
    returns (host, port); stop() shuts the server down."""

    DEFAULT_MAX_READ_ROWS = 65536

    def __init__(self, spark: SparkSession, root: str, host: str = "127.0.0.1",
                 port: int = 0, max_read_rows: int = DEFAULT_MAX_READ_ROWS,
                 auth=None):
        self.spark = spark
        self.root = root
        self.max_read_rows = max_read_rows
        # Authorization (auth.py KeyedAuth): verbs map to capability
        # bits — GET /jnl READ, PUT /jnl APPEND, /journals LIST — and
        # selector-scoped claims gate individual journals by name.
        # None = NoopAuth (open gateway, the reference's default).
        from core_spark.auth import NoopAuth

        self.auth = auth if auth is not None else NoopAuth()
        self._host, self._port = host, port
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ server
    def start(self) -> tuple[str, int]:
        gw = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence request logging
                pass

            def _send(self, code: int, body: bytes,
                      ctype: str = "application/json",
                      headers: dict[str, str] | None = None):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _error(self, code: int, msg: str):
                self._send(code, json.dumps({"error": msg}).encode())

            def _claims(self, require: int):
                """Verify the Authorization header for `require`;
                answers 401 and returns None on failure."""
                from core_spark.auth import AuthError

                hdr = self.headers.get("Authorization")
                bearer = None
                if hdr is not None:
                    if not hdr.startswith("Bearer "):
                        self._error(
                            401,
                            "invalid or unsupported Authorization header "
                            "(expected 'Bearer')",
                        )
                        return None
                    bearer = hdr[len("Bearer "):]
                try:
                    return gw.auth.verify(bearer, require)
                except AuthError as e:
                    self._error(401, str(e))
                    return None

            def do_GET(self):
                from core_spark import auth as _auth

                url = urlparse(self.path)
                if url.path == "/healthz":
                    # FragmentStoreHealth analog (broker/
                    # fragment_store_health_api.go): an ACTIVE probe —
                    # exclusive-create + read back + remove under the
                    # journals root — not just a liveness ping, so a
                    # read-only or full volume reports unhealthy.
                    # Unauthenticated by design (health checks run
                    # before credentials exist).
                    self._send(200, json.dumps(gw.store_health()).encode())
                    return
                if url.path == "/journals":
                    claims = self._claims(_auth.LIST)
                    if claims is None:
                        return
                    # selector-scoped claims bound LISTINGS too — a
                    # token scoped to api/ must not enumerate other
                    # journals' names/offsets (the reference
                    # intersects claims.Selector into List results)
                    out = [
                        j
                        for j in gw.list_journals()
                        if claims.allows_journal(j["name"])
                    ]
                    self._send(200, json.dumps(out).encode())
                    return
                if not url.path.startswith("/jnl/"):
                    self._error(404, f"unknown path {url.path}")
                    return
                name = url.path[len("/jnl/"):]
                claims = self._claims(_auth.READ)
                if claims is None:
                    return
                if not claims.allows_journal(name):
                    self._error(
                        403, f"claims selector does not match journal {name!r}"
                    )
                    return
                qs = parse_qs(url.query)
                # Every request-shaped failure — non-integer offsets,
                # malformed predicates, predicates naming a column the
                # journal lacks (Spark AnalysisException) — must be a
                # clean 400, never an aborted connection.
                try:
                    begin = int(qs["begin"][0]) if "begin" in qs else None
                    end = int(qs["end"][0]) if "end" in qs else None
                    at = int(qs["at"][0]) if "at" in qs else None
                    block = qs.get("block", ["false"])[0].lower() in (
                        "true", "1",
                    )
                    deadline = (
                        float(qs["deadline"][0]) if "deadline" in qs else None
                    )
                    # repeatable ?where=col<op>value — the CLI's
                    # predicate syntax over HTTP, riding the same
                    # manifest pruning (zone maps + blooms)
                    where = parse_where(qs.get("where", []))
                except ValueError as e:
                    self._error(400, str(e))
                    return
                if block and at is not None:
                    self._error(400, "?block with ?at is contradictory: a "
                                     "pinned snapshot never grows")
                    return
                if block:
                    # Blocking tail read (protocol.proto:420-439
                    # ReadRequest.block; served broker/read_api.go:
                    # 17-204): long-poll the manifest until data past
                    # `begin` commits or the deadline lapses. On
                    # timeout: 206, empty body, resume offset = begin
                    # — the OFFSET_NOT_YET_AVAILABLE analog, and the
                    # client simply re-issues the same GET.
                    want = begin if begin is not None else 0
                    if not gw.wait_for_offset(name, want, deadline):
                        self._send(
                            206, b"", ctype="application/x-ndjson",
                            headers={
                                "X-Journal-Next-Offset": str(want),
                                "X-Journal-Truncated": "true",
                                "X-Journal-Block-Timeout": "true",
                            },
                        )
                        return
                try:
                    body, next_off, truncated = gw.read_ndjson(
                        name, begin, end, where=where, at_version=at
                    )
                except ValueError as e:
                    self._error(416, str(e))  # no covering fragments
                    return
                except Exception as e:  # unresolved column etc.
                    self._error(400, str(e)[:300])
                    return
                # A capped page is 206 Partial Content, NOT 200: a
                # client unaware of the paging headers must fail loudly
                # (or at least see a non-200) instead of silently
                # treating a truncated body as the complete range.
                self._send(
                    206 if truncated else 200, body,
                    ctype="application/x-ndjson",
                    headers={
                        "X-Journal-Next-Offset": str(next_off),
                        "X-Journal-Truncated": "true" if truncated else "false",
                    },
                )

            def do_PUT(self):
                from core_spark import auth as _auth

                url = urlparse(self.path)
                if not url.path.startswith("/jnl/"):
                    self._error(404, f"unknown path {url.path}")
                    return
                name = url.path[len("/jnl/"):]
                claims = self._claims(_auth.APPEND)
                if claims is None:
                    return
                if not claims.allows_journal(name):
                    self._error(
                        403, f"claims selector does not match journal {name!r}"
                    )
                    return
                length = int(self.headers.get("Content-Length", "0"))
                raw = self.rfile.read(length)
                try:
                    frag = gw.append_ndjson(name, raw)
                except RegisterMismatch as e:
                    self._error(412, str(e))  # precondition failed
                    return
                except Exception as e:  # malformed body
                    self._error(400, str(e))
                    return
                self._send(200, json.dumps(
                    {"journal": name, "begin": frag.begin, "end": frag.end,
                     "n_records": frag.n_records}
                ).encode())

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

    # ------------------------------------------------------------- verbs
    def append_ndjson(self, name: str, raw: bytes):
        """Append an NDJSON body as one fragment. Every line is parsed
        on the driver first: a line that is not strict JSON is a
        ValueError naming its 1-based line number (a 400), never a
        stored `_corrupt_record` row. A body of flat objects is read
        under the schema `flat_json_schema` derives from that parse,
        so the append launches only its write job."""
        lines = [
            (no, ln)
            for no, ln in enumerate(raw.decode("utf-8").splitlines(), 1)
            if ln.strip()
        ]
        if not lines:
            raise ValueError("empty append body")
        schema = flat_json_schema(lines)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(
            self.spark.sparkContext.parallelize([ln for _, ln in lines], 1)
        )
        return Journal(self.root, name).append(df)

    def read_ndjson(
        self,
        name: str,
        begin: int | None,
        end: int | None,
        where: list[tuple] | None = None,
        at_version: int | None = None,
    ):
        """Serve at most `max_read_rows` rows of the range; returns
        (body, next_offset, truncated). The cap rides a limit() so the
        plan is TakeOrderedAndProject — the driver holds one page, never
        the journal. A truncated response's next_offset points at the
        first unserved row, so `GET ?begin=<next>` resumes exactly.

        HTTP contract (endpoint `GET /jnl/<name>?begin=&end=`): a full
        range is `200`; a capped page is `206 Partial Content` with
        `X-Journal-Truncated: true` and `X-Journal-Next-Offset: <off>`
        naming the resume point. Both headers are present on every
        response; the status-code split exists so clients that never
        read them still can't mistake a page for the whole range."""
        from pyspark.sql import functions as F

        j = Journal(self.root, name)
        df = j.read(
            self.spark, begin=begin, end=end, where=where,
            at_version=at_version,
        ).orderBy("_offset")
        cap = self.max_read_rows
        page = df.select(
            F.col("_offset").alias("__off"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("__js"),
        ).limit(cap + 1).collect()
        truncated = len(page) > cap
        page = page[:cap]
        if page:
            # Resume point = first unserved row. For unbounded reads
            # this must derive from what was SERVED, not a manifest
            # re-read — an append committing between the scan and the
            # manifest read would otherwise advance next_off past rows
            # this response never carried.
            next_off = page[-1]["__off"] + 1 if (truncated or end is None) \
                else end
        else:
            next_off = end if end is not None else (begin or 0)
        body = "\n".join(r["__js"] for r in page)
        return (body + "\n" if body else "").encode("utf-8"), next_off, truncated

    # Long-poll bounds: a missing ?deadline= gets DEFAULT, anything
    # larger is clamped to MAX — a blocked GET must never pin one of
    # the server's threads indefinitely (the reference bounds blocked
    # reads with the request context's deadline the same way).
    DEFAULT_BLOCK_DEADLINE = 10.0
    MAX_BLOCK_DEADLINE = 60.0
    _BLOCK_POLL_S = 0.05

    def wait_for_offset(
        self, name: str, offset: int, deadline: float | None
    ) -> bool:
        """Block until the journal's next_offset exceeds `offset` or
        the deadline lapses; True iff data is available. Polls the
        manifest store rather than an in-process condition variable
        because appenders are not necessarily in this process (CLI,
        another gateway, a Spark sink) — the manifest IS the
        cross-process commit signal, and one small-JSON read per poll
        tick is the cost. In-process appends still wake within one
        tick, which the reference's fragment-index signal bounds only
        a little tighter (read_api.go blocks on index updates)."""
        import time as _t

        if deadline is None:
            deadline = self.DEFAULT_BLOCK_DEADLINE
        deadline = max(0.0, min(deadline, self.MAX_BLOCK_DEADLINE))
        j = Journal(self.root, name)
        t_end = _t.monotonic() + deadline
        while True:
            if j.manifest().next_offset > offset:
                return True
            if _t.monotonic() >= t_end:
                return False
            _t.sleep(min(self._BLOCK_POLL_S, max(0.0, t_end - _t.monotonic())))

    def store_health(self) -> dict:
        """Active store probe: exclusive-create a sentinel under the
        root, read it back, remove it. Returns {"ok", "probe_ms"} or
        {"ok": False, "error"} — the write-path check a fragment
        store health API performs (shared with the CLI's
        journals-store-health; sources/stores.py)."""
        from core_spark.sources.stores import probe_store

        return probe_store(self.root)

    def list_journals(self) -> list[dict]:
        out = []
        for dirpath, dirs, _files in os.walk(self.root):
            if "_manifest" in dirs:
                name = os.path.relpath(dirpath, self.root)
                m = Journal(self.root, name).manifest()
                out.append(
                    {"name": name, "next_offset": m.next_offset,
                     "fragments": len(m.fragments),
                     "registers": m.registers}
                )
                dirs.remove("_manifest")
        return sorted(out, key=lambda d: d["name"])
