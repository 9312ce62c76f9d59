"""GCS-protocol object store: an accessor speaking the Google Cloud
Storage JSON API over HTTP, plus an in-process GCS server for jar-free
end-to-end tests.

Parity: the reference's accessor layer is object-store-pluggable — the
same ``filesystem_accessor.rs`` seam serves S3 AND GCS deployments
behind ``accessor_config.rs`` (its GCS tests run against a local
fake-gcs endpoint, ``storage/filesystem/gcs/gcs_test_utils.rs``). The
repo's S3 leg landed in ``table/s3.py``; this module completes the pair
with public-protocol building blocks only (cloud.google.com/storage/
docs/json_api):

- :class:`GCSHttpFS` implements the control-plane filesystem seam
  (``table/fs.py``) over REAL JSON-API calls — media upload
  (``POST /upload/storage/v1/b/{bucket}/o?uploadType=media&name=...``),
  media download (``GET /storage/v1/b/{bucket}/o/{object}?alt=media``),
  metadata GET (object size without the body), list
  (``GET /storage/v1/b/{bucket}/o?prefix=...`` with ``pageToken``
  pagination and ``delimiter`` common prefixes), delete, server-side
  rewrite (``POST .../o/{src}/rewriteTo/b/{bucket}/o/{dst}``), and
  single-winner commit via ``ifGenerationMatch=0`` (the GCS
  precondition primitive; 412 = lost the race — GCS's equivalent of
  S3's ``If-None-Match: *``). 5xx/429 and connection failures surface
  as :class:`TransientStoreError` and ride the same bounded-retry loop,
  so a real ``gs://`` deployment exercises exactly this code path with
  only the endpoint/credentials changed.
- :class:`GCSMemServer` is an in-process ThreadingHTTPServer
  implementing that JSON-API subset over :class:`InMemoryObjectStore`
  (the fake-gcs-server shape). ``throttle_every=N`` makes it return
  ``429 rateLimitExceeded`` periodically — GCS's real throttle shape.

Semantic differences from S3 handled here so the seam behaves
identically over both: GCS DELETE of a missing object is 404 (S3's is
idempotent 204) — ``rmtree`` swallows it; object generations back the
precondition instead of ETags.

Authentication: OAuth 2.0 bearer tokens — the accessor attaches
``Authorization: Bearer <token>`` to every request (static ``token`` or
a ``token_provider`` callable for rotation), and the in-process server
verifies against ``valid_tokens``, rejecting missing/invalid tokens
with 401 the way real GCS does. Token ACQUISITION (service-account JWT
signing / metadata server) stays outside: the provider callable is the
seam a real deployment plugs its refresher into.

Large objects go through the RESUMABLE upload protocol
(``uploadType=resumable`` session init -> ``Content-Range`` chunk PUTs
-> ``bytes */total`` probe + 308 Range resume), streamed from memory
(``write_bytes``/``upload_resumable``) or from disk one chunk at a time
(``upload_file``); dead sessions (404/410) fail loudly.
"""

from __future__ import annotations

import json
import http.client
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import BinaryIO, TextIO

from moonlink_spark.table.fs import (
    ChaosPolicy,
    CommitRaceLost,
    InMemoryObjectStore,
    TransientStoreError,
)

_PAGE_SIZE_DEFAULT = 1000


class GCSMemServer:
    """In-process GCS JSON-API endpoint over an InMemoryObjectStore."""

    def __init__(
        self,
        store: InMemoryObjectStore | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        throttle_every: int = 0,
        valid_tokens: set[str] | None = None,
        ssl_cert: str | None = None,
        ssl_key: str | None = None,
    ):
        self._ssl = (ssl_cert, ssl_key)
        self.store = store or InMemoryObjectStore()
        self.generations: dict[str, int] = {}
        # in-flight resumable upload sessions: upload_id ->
        # {"bucket", "name", "data": bytearray} (the session-URI model
        # of the GCS resumable protocol)
        self.sessions: dict[str, dict] = {}
        self.throttled = 0
        self.connections = 0  # TCP connections accepted (keep-alive probe)
        self._req_count = 0
        self._lock = threading.Lock()
        # when set, every request must carry `Authorization: Bearer <t>`
        # with t in this set (401 otherwise — GCS's authentication shape)
        self.valid_tokens = valid_tokens
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # headers and body go out as two writes; without NODELAY,
            # Nagle + the client's delayed ACK stalls every kept-alive
            # response ~40 ms
            disable_nagle_algorithm = True

            def setup(self):
                super().setup()
                with server._lock:
                    server.connections += 1

            def log_message(self, *a):  # quiet
                pass

            def _throttle(self) -> bool:
                with server._lock:
                    server._req_count += 1
                    if (
                        throttle_every
                        and server._req_count % throttle_every == 0
                    ):
                        server.throttled += 1
                        return True
                return False

            def _send(
                self,
                code: int,
                body: bytes = b"",
                ctype="application/json",
                extra: dict | None = None,
            ):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _error(self, code: int, reason: str):
                body = json.dumps(
                    {"error": {"code": code, "errors": [{"reason": reason}]}}
                ).encode()
                self._send(code, body)

            def _authorized(self) -> bool:
                if server.valid_tokens is None:
                    return True
                auth = self.headers.get("Authorization", "")
                if auth.startswith("Bearer ") and auth[7:] in server.valid_tokens:
                    return True
                self._error(401, "authError")
                return False

            def _parse(self):
                parsed = urllib.parse.urlparse(self.path)
                q = dict(
                    urllib.parse.parse_qsl(parsed.query, keep_blank_values=True)
                )
                return urllib.parse.unquote(parsed.path), q

            def do_GET(self):
                if self._throttle():
                    return self._error(429, "rateLimitExceeded")
                if not self._authorized():
                    return
                path, q = self._parse()
                parts = path.strip("/").split("/")
                # /storage/v1/b/{bucket}/o            -> list
                # /storage/v1/b/{bucket}/o/{object}   -> metadata | media
                if len(parts) >= 4 and parts[:2] == ["storage", "v1"] and parts[2] == "b":
                    bucket = parts[3]
                    if len(parts) == 5 and parts[4] == "o":
                        return self._list(bucket, q)
                    if len(parts) >= 6 and parts[4] == "o":
                        key = "/".join(parts[5:])
                        full = f"{bucket}/{key}"
                        try:
                            data = server.store.get(full)
                        except FileNotFoundError:
                            return self._error(404, "notFound")
                        if q.get("alt") == "media":
                            return self._send(
                                200, data, ctype="application/octet-stream"
                            )
                        return self._send(200, json.dumps(
                            {
                                "name": key,
                                "bucket": bucket,
                                "size": str(len(data)),
                                "generation": str(
                                    server.generations.get(full, 1)
                                ),
                            }
                        ).encode())
                self._error(400, "badRequest")

            def do_POST(self):
                # body first: an error response with the body unread
                # would poison a kept-alive connection
                length = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(length)
                if self._throttle():
                    return self._error(429, "rateLimitExceeded")
                if not self._authorized():
                    return
                path, q = self._parse()
                parts = path.strip("/").split("/")
                # /upload/storage/v1/b/{bucket}/o?uploadType=media&name=k
                if (
                    len(parts) == 6
                    and parts[:3] == ["upload", "storage", "v1"]
                    and parts[3] == "b"
                    and parts[5] == "o"
                ):
                    if q.get("uploadType") == "resumable":
                        if "name" not in q:
                            return self._error(400, "badRequest")
                        import uuid as _uuid

                        uid = _uuid.uuid4().hex
                        with server._lock:
                            server.sessions[uid] = {
                                "bucket": parts[4],
                                "name": q["name"],
                                "data": bytearray(),
                            }
                        loc = (
                            f"/upload/storage/v1/b/{parts[4]}/o"
                            f"?uploadType=resumable&upload_id={uid}"
                        )
                        return self._send(200, b"{}", extra={"Location": loc})
                    if q.get("uploadType") != "media" or "name" not in q:
                        return self._error(400, "badRequest")
                    bucket, key = parts[4], q["name"]
                    full = f"{bucket}/{key}"
                    data = payload
                    if q.get("ifGenerationMatch") == "0":
                        with server._lock:
                            if not server.store.put_if_absent(full, data):
                                return self._error(412, "conditionNotMet")
                            server.generations[full] = 1
                    else:
                        with server._lock:
                            server.store.put(full, data)
                            server.generations[full] = (
                                server.generations.get(full, 0) + 1
                            )
                    return self._send(200, json.dumps(
                        {
                            "name": key,
                            "bucket": bucket,
                            "size": str(len(data)),
                            "generation": str(server.generations[full]),
                        }
                    ).encode())
                # /storage/v1/b/{b}/o/{src}/rewriteTo/b/{db}/o/{dst}
                if "rewriteTo" in parts:
                    i = parts.index("rewriteTo")
                    src_bucket = parts[3]
                    src_key = "/".join(parts[5:i])
                    dst_bucket = parts[i + 2]
                    dst_key = "/".join(parts[i + 4 :])
                    try:
                        data = server.store.get(f"{src_bucket}/{src_key}")
                    except FileNotFoundError:
                        return self._error(404, "notFound")
                    full = f"{dst_bucket}/{dst_key}"
                    with server._lock:
                        server.store.put(full, data)
                        server.generations[full] = (
                            server.generations.get(full, 0) + 1
                        )
                    return self._send(200, json.dumps(
                        {"done": True, "resource": {"name": dst_key}}
                    ).encode())
                self._error(400, "badRequest")

            def do_PUT(self):
                # resumable-session chunk append / status probe
                length = int(self.headers.get("Content-Length", 0))
                data = self.rfile.read(length)
                if self._throttle():
                    return self._error(429, "rateLimitExceeded")
                if not self._authorized():
                    return
                _path, q = self._parse()
                uid = q.get("upload_id")
                with server._lock:
                    sess = server.sessions.get(uid)
                if sess is None:
                    return self._error(404, "notFound")
                crange = self.headers.get("Content-Range", "")
                # "bytes s-e/total" or the status probe "bytes */total"
                if not crange.startswith("bytes "):
                    return self._error(400, "badRequest")
                spec, _, total_s = crange[6:].partition("/")
                total = int(total_s)
                if spec == "*":  # probe: report committed range, 308
                    with server._lock:
                        committed = len(sess["data"])
                    return self._resume_status(sess, total, committed)
                start_s, _, end_s = spec.partition("-")
                start, end = int(start_s), int(end_s)
                with server._lock:
                    # committed is read under the same lock as the append
                    # so concurrent chunk PUTs cannot double-apply a slice
                    committed = len(sess["data"])
                    if start > committed:
                        gap = True
                    else:
                        gap = False
                        # overlap (a resent prefix after a lost response)
                        # is ignored byte-for-byte, the protocol's
                        # idempotence
                        sess["data"] += data[committed - start :]
                        committed = len(sess["data"])
                if gap:
                    # gap: client must probe and resend from committed
                    return self._error(400, "badRequest")
                return self._resume_status(sess, total, committed)

            def _resume_status(self, sess: dict, total: int, committed: int):
                # committed is captured under server._lock at the call
                # site; re-reading sess["data"] here unlocked could report
                # a torn range to a concurrently-appending client
                if committed >= total:
                    full = f"{sess['bucket']}/{sess['name']}"
                    with server._lock:
                        server.store.put(full, bytes(sess["data"]))
                        server.generations[full] = (
                            server.generations.get(full, 0) + 1
                        )
                        for k, v in list(server.sessions.items()):
                            if v is sess:
                                server.sessions.pop(k)
                    return self._send(200, json.dumps(
                        {
                            "name": sess["name"],
                            "bucket": sess["bucket"],
                            "size": str(committed),
                            "generation": str(server.generations[full]),
                        }
                    ).encode())
                extra = (
                    {"Range": f"bytes=0-{committed - 1}"} if committed else {}
                )
                return self._send(308, b"", extra=extra)

            def do_DELETE(self):
                if self._throttle():
                    return self._error(429, "rateLimitExceeded")
                if not self._authorized():
                    return
                path, _q = self._parse()
                parts = path.strip("/").split("/")
                if len(parts) >= 6 and parts[2] == "b" and parts[4] == "o":
                    bucket = parts[3]
                    key = "/".join(parts[5:])
                    full = f"{bucket}/{key}"
                    try:
                        server.store.get(full)
                    except FileNotFoundError:
                        # GCS 404s on deleting a missing object (unlike S3)
                        return self._error(404, "notFound")
                    server.store.delete(full)
                    server.generations.pop(full, None)
                    return self._send(204, b"")
                self._error(400, "badRequest")

            def _list(self, bucket: str, q: dict):
                prefix = q.get("prefix", "")
                delimiter = q.get("delimiter", "")
                page_size = int(q.get("maxResults", _PAGE_SIZE_DEFAULT))
                page_token = q.get("pageToken", "")
                keys = [
                    k[len(bucket) + 1 :]
                    for k in server.store.keys_with_prefix(f"{bucket}/{prefix}")
                ]
                if page_token:
                    keys = [k for k in keys if k > page_token]
                items: list[str] = []
                prefixes: list[str] = []
                for k in keys:
                    if delimiter:
                        rest = k[len(prefix):]
                        if delimiter in rest:
                            cp = prefix + rest.split(delimiter, 1)[0] + delimiter
                            if cp not in prefixes:
                                prefixes.append(cp)
                            continue
                    items.append(k)
                    if len(items) >= page_size:
                        break
                listed = []
                for k in items:
                    try:
                        size = len(server.store.get(f"{bucket}/{k}"))
                    except FileNotFoundError:
                        continue  # deleted between list and stat
                    listed.append({"name": k, "size": str(size)})
                out: dict = {"kind": "storage#objects", "items": listed}
                if prefixes:
                    out["prefixes"] = prefixes
                if items and len(items) >= page_size and items[-1] != (
                    keys[-1] if keys else ""
                ):
                    out["nextPageToken"] = items[-1]
                self._send(200, json.dumps(out).encode())

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        # HTTPS: wrap the LISTENING socket so every accepted connection
        # is TLS (the rustls-behind-reqwest deployment shape)
        cert, key = self._ssl
        self.tls = cert is not None
        if self.tls:
            from moonlink_spark.tlsutil import server_context

            self.httpd.socket = server_context(cert, key or cert).wrap_socket(
                self.httpd.socket, server_side=True
            )
        self.host, self.port = self.httpd.server_address
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        scheme = "https" if self.tls else "http"
        return f"{scheme}://{self.host}:{self.port}"

    def start(self) -> "GCSMemServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, name="gcsmem-server", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


class GCSHttpFS:
    """The control-plane filesystem seam over the GCS JSON API.

    Paths look like ``<scheme>://bucket/key/parts``; the scheme is
    whatever the warehouse registered (``register_fs_scheme("gcsmem",
    lambda path: GCSHttpFS(endpoint))``). Every call goes through the
    bounded retry loop; 5xx/429 (throttle) and socket errors are
    transient, other 4xx are not."""

    def __init__(
        self,
        endpoint: str,
        chaos: ChaosPolicy | None = None,
        retries: int = 4,
        backoff_s: float = 0.0,
        timeout_s: float = 10.0,
        token: str | None = None,
        token_provider=None,
        ssl_ca_file: str | None = None,
    ):
        """``token`` attaches a static OAuth 2.0 bearer token to every
        request; ``token_provider`` (a zero-arg callable returning the
        current token) supports rotation — called per request, the shape
        a metadata-server or service-account refresher plugs into."""
        u = urllib.parse.urlparse(endpoint)
        self.host = u.hostname
        # https endpoint -> TLS with chain+hostname verification against
        # the pinned CA (or the system store when none is pinned)
        self.tls = u.scheme == "https"
        self.port = u.port or (443 if self.tls else 80)
        self._ssl_ctx = None
        self._ctx_key = ""
        if self.tls:
            from moonlink_spark.tlsutil import client_context

            self._ssl_ctx = client_context(ssl_ca_file)
            self._ctx_key = ssl_ca_file or "system"
        self.chaos = chaos
        self.retries = retries
        self.backoff_s = backoff_s
        self.timeout_s = timeout_s
        self.token = token
        self.token_provider = token_provider

    # -- HTTP plumbing -------------------------------------------------------

    @staticmethod
    def _bucket_key(path: str) -> tuple[str, str]:
        rest = path.split("://", 1)[1] if "://" in path else path
        bucket, _, key = rest.partition("/")
        return bucket, key.rstrip("/")

    def _request(
        self,
        op: str,
        method: str,
        url: str,
        body: bytes | None = None,
        ok: tuple = (200, 204),
        headers: dict | None = None,
        with_headers: bool = False,
    ) -> tuple[int, bytes] | tuple[int, bytes, dict]:
        """One JSON-API call under the retry loop. Returns (status, body)
        — or (status, body, response-headers) with ``with_headers`` — for
        ``ok`` statuses and 404/412 (callers branch on those); raises
        TransientStoreError on 5xx/429/connection failure until retries
        are exhausted. The bearer token attaches per request; requests
        ride the thread-local keep-alive pool (``table/httppool.py``) so
        repeat calls skip the TCP+TLS handshake."""
        import time as _time

        from moonlink_spark.table import httppool

        attempt = 0
        while True:
            try:
                if self.chaos is not None:
                    self.chaos.check(op)
                send_headers = dict(headers or {})
                tok = (
                    self.token_provider()
                    if self.token_provider is not None
                    else self.token
                )
                if tok is not None:
                    send_headers["Authorization"] = f"Bearer {tok}"
                status, data, resp_headers = httppool.request(
                    self.host,
                    self.port,
                    method,
                    url,
                    body=body,
                    headers=send_headers,
                    tls=self.tls,
                    ssl_ctx=self._ssl_ctx,
                    ctx_key=self._ctx_key,
                    timeout=self.timeout_s,
                )
                if status >= 500 or status == 429:
                    raise TransientStoreError(f"gcs {op}: HTTP {status}")
                if status in ok or status in (404, 412):
                    if with_headers:
                        return status, data, resp_headers
                    return status, data
                raise OSError(f"gcs {op} {url}: HTTP {status} {data[:200]!r}")
            except (
                TransientStoreError,
                ConnectionError,
                http.client.HTTPException,
            ) as e:
                attempt += 1
                if attempt > self.retries:
                    if isinstance(e, TransientStoreError):
                        raise
                    raise TransientStoreError(str(e)) from e
                if self.backoff_s:
                    _time.sleep(self.backoff_s * attempt)

    def _obj_url(self, path: str, media: bool = True) -> str:
        bucket, key = self._bucket_key(path)
        u = (
            f"/storage/v1/b/{bucket}/o/"
            + urllib.parse.quote(key, safe="")
        )
        return u + "?alt=media" if media else u

    def _upload_url(self, path: str, if_absent: bool = False) -> str:
        bucket, key = self._bucket_key(path)
        q = {"uploadType": "media", "name": key}
        if if_absent:
            q["ifGenerationMatch"] = "0"
        return f"/upload/storage/v1/b/{bucket}/o?" + urllib.parse.urlencode(q)

    # -- listing -------------------------------------------------------------

    def _list_keys(self, path: str, delimiter: str = "") -> list[str]:
        """Objects list with pageToken pagination: all keys (or
        first-level children when ``delimiter='/'``) under ``path`` + '/'."""
        bucket, key = self._bucket_key(path)
        prefix = key + "/" if key else ""
        out: list[str] = []
        token = ""
        while True:
            q = {"prefix": prefix}
            if delimiter:
                q["delimiter"] = delimiter
            if token:
                q["pageToken"] = token
            url = f"/storage/v1/b/{bucket}/o?" + urllib.parse.urlencode(q)
            _, data = self._request("list", "GET", url)
            doc = json.loads(data)
            out.extend(item["name"] for item in doc.get("items", []))
            out.extend(doc.get("prefixes", []))
            token = doc.get("nextPageToken", "")
            if not token:
                return out

    # -- seam surface --------------------------------------------------------

    def makedirs(self, path: str) -> None:
        pass  # directories are implicit prefixes

    def isdir(self, path: str) -> bool:
        return bool(self._list_keys(path))

    def listdir(self, path: str) -> list[str]:
        _, key = self._bucket_key(path)
        prefix = key + "/" if key else ""
        children = []
        for k in self._list_keys(path, delimiter="/"):
            child = k[len(prefix):].rstrip("/")
            if child and child not in children:
                children.append(child)
        return children

    def rmtree(self, path: str) -> None:
        bucket, _ = self._bucket_key(path)
        for k in self._list_keys(path):
            # concurrent deleters race benignly: GCS 404s the loser
            self._request(
                "delete",
                "DELETE",
                f"/storage/v1/b/{bucket}/o/" + urllib.parse.quote(k, safe=""),
            )

    def exists(self, path: str) -> bool:
        status, _ = self._request(
            "stat", "GET", self._obj_url(path, media=False)
        )
        return status == 200

    def getsize(self, path: str) -> int:
        # metadata GET: the size comes from the resource, not the body
        status, data = self._request(
            "stat", "GET", self._obj_url(path, media=False)
        )
        if status == 404:
            raise FileNotFoundError(path)
        return int(json.loads(data)["size"])

    def _get(self, path: str) -> bytes:
        status, data = self._request("get", "GET", self._obj_url(path))
        if status == 404:
            raise FileNotFoundError(path)
        return data

    def open_read(self, path: str) -> TextIO:
        import io

        return io.StringIO(self._get(path).decode("utf-8"))

    def open_read_binary(self, path: str) -> BinaryIO:
        import io

        return io.BytesIO(self._get(path))

    def write_text_durable(self, path: str, data: str) -> None:
        self._request(
            "put", "POST", self._upload_url(path), body=data.encode("utf-8")
        )

    write_text_new = write_text_durable  # a PUT: no temp name to skip

    # -- resumable upload (the large-object / flaky-link path) ---------------

    def write_bytes(
        self, path: str, data: bytes, resumable_threshold: int = 8 << 20
    ) -> None:
        """Object write that routes through the resumable protocol above
        the threshold (GCS's recommended path for anything big or over a
        flaky link); below it, one media upload like the control-plane
        writes."""
        if len(data) > resumable_threshold:
            self.upload_resumable(path, data, chunk_size=resumable_threshold)
        else:
            self._request("put", "POST", self._upload_url(path), body=data)

    def upload_file(
        self, local_path: str, path: str, resumable_threshold: int = 8 << 20
    ) -> None:
        """Stream a local file into the store without holding it in
        memory: the resumable protocol reads one chunk at a time from
        disk (seeking back to the server's committed offset on resume),
        so arbitrarily large files upload with flat RSS. Small files
        take the single media-upload path."""
        import os as _os

        size = _os.path.getsize(local_path)
        if size <= resumable_threshold:
            with open(local_path, "rb") as fh:
                self._request(
                    "put", "POST", self._upload_url(path), body=fh.read()
                )
            return
        with open(local_path, "rb") as fh:

            def read_at(off: int, n: int) -> bytes:
                fh.seek(off)
                return fh.read(n)

            self._upload_resumable_core(
                path, read_at, size, chunk_size=resumable_threshold
            )

    def upload_resumable(
        self, path: str, data: bytes, chunk_size: int = 8 << 20
    ) -> None:
        """The GCS resumable upload protocol: initiate a session
        (``uploadType=resumable`` -> Location session URI), PUT chunks
        with ``Content-Range``, and on any transient failure PROBE the
        committed offset (``bytes */total`` -> 308 + Range) and resume
        from exactly there — bytes the server already holds are never
        re-sent, the property that makes huge uploads survive connection
        loss. The final chunk's 200 commits the object atomically
        (generation bump); an abandoned session never becomes visible."""
        self._upload_resumable_core(
            path, lambda off, n: data[off : off + n], len(data), chunk_size
        )

    def _upload_resumable_core(
        self, path: str, read_at, total: int, chunk_size: int
    ) -> None:
        bucket, key = self._bucket_key(path)
        q = urllib.parse.urlencode({"uploadType": "resumable", "name": key})
        _s, _b, h = self._request(
            "resumable-init",
            "POST",
            f"/upload/storage/v1/b/{bucket}/o?{q}",
            with_headers=True,
        )
        session = h.get("location")
        if not session:
            raise OSError("gcs resumable init: no Location header")
        if "://" in session:
            # real GCS returns an absolute session URI; this accessor is
            # endpoint-pinned, so reduce it to the request-target form
            su = urllib.parse.urlparse(session)
            session = su.path + ("?" + su.query if su.query else "")
        committed = 0
        while True:
            end = min(committed + chunk_size, total) - 1
            try:
                status, _body, rh = self._request(
                    "resumable-chunk",
                    "PUT",
                    session,
                    body=read_at(committed, end - committed + 1),
                    headers={
                        "Content-Range": f"bytes {committed}-{end}/{total}"
                    },
                    # 410 must pass through (not raise generically) so the
                    # dead-session check below can name the failure
                    ok=(200, 308, 410),
                    with_headers=True,
                )
            except TransientStoreError:
                # probe where the session actually is, resume from there;
                # the probe is read-only, so it retries unconditionally
                # even when the accessor's own retry budget is zero
                for probe_attempt in range(10):
                    try:
                        status, _body, rh = self._request(
                            "resumable-probe",
                            "PUT",
                            session,
                            headers={"Content-Range": f"bytes */{total}"},
                            ok=(200, 308, 410),
                            with_headers=True,
                        )
                        break
                    except TransientStoreError:
                        if probe_attempt == 9:
                            raise
            if status == 200:
                return
            if status in (404, 410):
                # dead session (expired, cancelled, or finalized with the
                # 200 lost): unrecoverable through this URI — surface it
                # instead of re-sending chunk 0 against it forever
                raise OSError(
                    f"gcs resumable session gone (HTTP {status}); "
                    "re-initiate the upload"
                )
            rng = rh.get("range")  # "bytes=0-N" (absent: nothing committed)
            committed = int(rng.rsplit("-", 1)[1]) + 1 if rng else 0

    def append_text_durable(self, path: str, data: str) -> None:
        # GCS has no append (compose exists but needs GC of parts):
        # read-modify-write, safe for the single-writer-per-table WAL
        # journal (same contract as the in-memory and S3 accessors)
        try:
            old = self._get(path)
        except FileNotFoundError:
            old = b""
        self._request(
            "put",
            "POST",
            self._upload_url(path),
            body=old + data.encode("utf-8"),
        )

    def unlink(self, path: str) -> None:
        status, _ = self._request(
            "delete", "DELETE", self._obj_url(path, media=False)
        )
        if status == 404:
            raise FileNotFoundError(path)

    def copyfile(self, src: str, dst: str) -> None:
        sb, sk = self._bucket_key(src)
        db, dk = self._bucket_key(dst)
        url = (
            f"/storage/v1/b/{sb}/o/"
            + urllib.parse.quote(sk, safe="")
            + f"/rewriteTo/b/{db}/o/"
            + urllib.parse.quote(dk, safe="")
        )
        status, _ = self._request("copy", "POST", url)
        if status == 404:
            raise FileNotFoundError(src)

    def rename(self, src: str, dst: str) -> None:
        self.copyfile(src, dst)
        self._request("delete", "DELETE", self._obj_url(src, media=False))

    def publish_exclusive(self, tmp: str, final: str) -> None:
        """Single-winner commit via ``ifGenerationMatch=0``: exactly one
        concurrent publisher gets 200, the rest get 412 — the property
        ManifestStore's version commit relies on (GCS's native
        precondition, equivalent to S3's ``If-None-Match: *``).

        Same lost-response caveat as the S3 leg: if the FIRST
        conditional upload succeeds but its response is lost, the retry
        sees 412 against our own object; a follow-up read that matches
        our bytes means the commit WON."""
        data = self._get(tmp)
        status, _ = self._request(
            "put",
            "POST",
            self._upload_url(final, if_absent=True),
            body=data,
        )
        self._request("delete", "DELETE", self._obj_url(tmp, media=False))
        if status == 412:
            published_status, published = self._request(
                "get", "GET", self._obj_url(final)
            )
            if published_status == 200 and published == data:
                return  # our earlier attempt won; the 412 was the retry
            raise CommitRaceLost(final)
