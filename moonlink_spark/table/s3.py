"""S3-protocol object store: an accessor speaking the S3 REST surface
over HTTP, plus an in-process S3 server for jar-free end-to-end tests.

Parity: the reference ships concrete object-store accessors wrapped in
retry/timeout/chaos layers (``storage/filesystem/accessor/
filesystem_accessor.rs``, ``accessor_config.rs``); its S3 tests run the
same code against a local S3-compatible endpoint
(``storage/filesystem/s3/s3_test_utils.rs``). This module does the same
with public-protocol building blocks only:

- :class:`S3HttpFS` implements the control-plane filesystem seam
  (``table/fs.py``) by issuing REAL S3 REST calls — ``PUT``/``GET``/
  ``HEAD``/``DELETE`` object, ``ListObjectsV2`` (with prefix +
  continuation), server-side ``CopyObject`` via ``x-amz-copy-source``,
  and conditional create via ``If-None-Match: *`` (the S3 primitive that
  makes single-winner commits possible; 412 = lost the race). 5xx and
  connection failures surface as :class:`TransientStoreError` and ride
  the same bounded-retry loop as the in-memory accessor, so a real
  ``s3://`` deployment exercises exactly this code path with only the
  endpoint/credentials changed.
- :class:`S3MemServer` is an in-process ThreadingHTTPServer implementing
  that REST subset over :class:`InMemoryObjectStore` — the local stand-in
  for a bucket (no network, no SDK). ``throttle_every=N`` makes it
  return ``503 SlowDown`` periodically, the real-world throttle shape the
  retry layer must absorb.

Authentication: AWS Signature Version 4 (``table/sigv4.py``, the public
algorithm, no SDK) — the accessor signs every request when constructed
with ``access_key``/``secret_key``, and the in-process server VERIFIES
signatures when given ``credentials={access_key: secret_key}``,
rejecting unsigned/tampered requests with 403 the way real S3 does.

Large objects go through MULTIPART upload (CreateMultipartUpload ->
UploadPart xN -> CompleteMultipartUpload, abort-on-failure, every
request signed) — streamed from memory (``write_bytes``/
``upload_multipart``) or from disk one part at a time (``upload_file``);
a single PUT tops out at 5 GiB on real S3, so ``write_bytes`` routes by
size threshold.

STS temporary credentials are supported: ``session_token`` attaches a
SIGNED ``x-amz-security-token`` to every request (the IAM-role shape on
EC2/EKS), and the in-process server can require per-key tokens.
Credential ROTATION stays outside — swap the accessor when the
refresher delivers new keys.
"""

from __future__ import annotations

import http.client
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import BinaryIO, TextIO
from xml.etree import ElementTree
from xml.sax.saxutils import escape

from moonlink_spark.table.fs import (
    ChaosPolicy,
    CommitRaceLost,
    InMemoryObjectStore,
    TransientStoreError,
)

_MAX_KEYS_DEFAULT = 1000


class S3MemServer:
    """In-process S3-compatible endpoint over an InMemoryObjectStore."""

    def __init__(
        self,
        store: InMemoryObjectStore | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        throttle_every: int = 0,
        credentials: dict[str, str] | None = None,
        session_tokens: dict[str, str] | None = None,
        ssl_cert: str | None = None,
        ssl_key: str | None = None,
    ):
        self._ssl = (ssl_cert, ssl_key)
        self.store = store or InMemoryObjectStore()
        self.throttled = 0
        self.connections = 0  # TCP connections accepted (keep-alive probe)
        self._req_count = 0
        self._lock = threading.Lock()
        # access_key -> secret_key; when set, every request must carry a
        # valid SigV4 signature (verified with table/sigv4.py — the same
        # public algorithm the client signs with) or gets 403
        self.credentials = credentials
        # access_key -> REQUIRED x-amz-security-token value (the STS
        # temporary-credential shape); tampering is already caught by the
        # signature (the token header is signed), this checks presence +
        # value like STS validating the token itself. Tokens only mean
        # anything when the signature binds them to an access key, so
        # requiring them WITHOUT signature verification is a
        # misconfiguration, not a weaker mode — reject it.
        if session_tokens and not credentials:
            raise ValueError(
                "session_tokens requires credentials: an unsigned request "
                "carries an unauthenticated access-key claim, so the token "
                "check would validate nothing"
            )
        self.session_tokens = session_tokens
        # in-flight multipart uploads: upload_id -> {"key", "parts":
        # {part_number: (etag, bytes)}} — the CreateMultipartUpload /
        # UploadPart / CompleteMultipartUpload lifecycle state
        self.uploads: dict[str, dict] = {}
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

            def _send(self, code: int, body: bytes = b"", ctype="application/xml"):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _error(self, code: int, s3code: str):
                body = (
                    f"<Error><Code>{s3code}</Code>"
                    f"<Message>{s3code}</Message></Error>"
                ).encode()
                self._send(code, body)

            def _key(self) -> tuple[str, str, dict]:
                parsed = urllib.parse.urlparse(self.path)
                q = dict(urllib.parse.parse_qsl(parsed.query, keep_blank_values=True))
                path = urllib.parse.unquote(parsed.path).lstrip("/")
                bucket, _, key = path.partition("/")
                return bucket, key, q

            def _authorized(self, payload: bytes) -> bool:
                if server.credentials is None:
                    return True
                from moonlink_spark.table.sigv4 import verify_request

                ok, code = verify_request(
                    self.command,
                    self.path,
                    self.headers,
                    payload,
                    server.credentials.get,
                )
                if not ok:
                    self._error(403, code)
                    return False
                if server.session_tokens:
                    from moonlink_spark.table.sigv4 import (
                        parse_authorization,
                    )

                    fields = parse_authorization(
                        self.headers.get("Authorization", "")
                    )
                    ak = (fields or {}).get("access_key", "")
                    want = server.session_tokens.get(ak)
                    if want is not None and (
                        self.headers.get("x-amz-security-token") != want
                    ):
                        self._error(403, "InvalidToken")
                        return False
                return True

            def do_GET(self):
                if self._throttle():
                    return self._error(503, "SlowDown")
                if not self._authorized(b""):
                    return
                bucket, key, q = self._key()
                if not key and ("list-type" in q or "prefix" in q):
                    return self._list(bucket, q)
                try:
                    data = server.store.get(f"{bucket}/{key}")
                except FileNotFoundError:
                    return self._error(404, "NoSuchKey")
                self._send(200, data, ctype="application/octet-stream")

            def do_HEAD(self):
                if self._throttle():
                    return self._error(503, "SlowDown")
                if not self._authorized(b""):
                    return
                bucket, key, _ = self._key()
                try:
                    data = server.store.get(f"{bucket}/{key}")
                except FileNotFoundError:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()

            def do_POST(self):
                # multipart lifecycle: ?uploads = initiate,
                # ?uploadId=... = complete (public S3 REST shapes)
                # (body first: an error response with the body unread
                # would poison a kept-alive connection)
                length = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(length)
                if self._throttle():
                    return self._error(503, "SlowDown")
                if not self._authorized(payload):
                    return
                bucket, key, q = self._key()
                if "uploads" in q:
                    import uuid as _uuid

                    uid = _uuid.uuid4().hex
                    with server._lock:
                        server.uploads[uid] = {
                            "key": f"{bucket}/{key}", "parts": {}
                        }
                    body = (
                        "<InitiateMultipartUploadResult>"
                        f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                        f"<UploadId>{uid}</UploadId>"
                        "</InitiateMultipartUploadResult>"
                    ).encode()
                    return self._send(200, body)
                if "uploadId" in q:
                    import re as _re

                    with server._lock:
                        up = server.uploads.get(q["uploadId"])
                    if up is None or up["key"] != f"{bucket}/{key}":
                        return self._error(404, "NoSuchUpload")
                    claimed = _re.findall(
                        rb"<PartNumber>(\d+)</PartNumber>\s*"
                        rb"<ETag>\"?([0-9a-f]+)\"?</ETag>",
                        payload,
                    )
                    if not claimed:
                        return self._error(400, "MalformedXML")
                    blob = bytearray()
                    prev = 0
                    for pn_b, etag_b in claimed:
                        pn = int(pn_b)
                        if pn <= prev:  # parts must ascend, like real S3
                            return self._error(400, "InvalidPartOrder")
                        prev = pn
                        part = up["parts"].get(pn)
                        if part is None or part[0] != etag_b.decode():
                            return self._error(400, "InvalidPart")
                        blob += part[1]
                    server.store.put(up["key"], bytes(blob))
                    with server._lock:
                        server.uploads.pop(q["uploadId"], None)
                    body = (
                        "<CompleteMultipartUploadResult>"
                        f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                        "</CompleteMultipartUploadResult>"
                    ).encode()
                    return self._send(200, body)
                return self._error(400, "InvalidRequest")

            def do_PUT(self):
                length = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(length)
                if self._throttle():
                    return self._error(503, "SlowDown")
                if not self._authorized(payload):
                    return
                bucket, key, q = self._key()
                if "partNumber" in q and "uploadId" in q:
                    import hashlib as _hashlib

                    with server._lock:
                        up = server.uploads.get(q["uploadId"])
                    if up is None or up["key"] != f"{bucket}/{key}":
                        return self._error(404, "NoSuchUpload")
                    etag = _hashlib.md5(payload).hexdigest()
                    with server._lock:
                        # same part re-PUT (a retried request) replaces:
                        # UploadPart is idempotent per part number
                        up["parts"][int(q["partNumber"])] = (etag, payload)
                    self.send_response(200)
                    self.send_header("ETag", f'"{etag}"')
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                src = self.headers.get("x-amz-copy-source")
                if src is not None:
                    try:
                        data = server.store.get(
                            urllib.parse.unquote(src).lstrip("/")
                        )
                    except FileNotFoundError:
                        return self._error(404, "NoSuchKey")
                else:
                    data = payload
                if self.headers.get("If-None-Match") == "*":
                    if not server.store.put_if_absent(f"{bucket}/{key}", data):
                        return self._error(412, "PreconditionFailed")
                else:
                    server.store.put(f"{bucket}/{key}", data)
                self._send(200, b"")

            def do_DELETE(self):
                if self._throttle():
                    return self._error(503, "SlowDown")
                if not self._authorized(b""):
                    return
                bucket, key, q = self._key()
                if "uploadId" in q:  # AbortMultipartUpload
                    with server._lock:
                        server.uploads.pop(q["uploadId"], None)
                    return self._send(204, b"")
                server.store.delete(f"{bucket}/{key}")  # idempotent, like S3
                self._send(204, b"")

            def _list(self, bucket: str, q: dict):
                prefix = q.get("prefix", "")
                delimiter = q.get("delimiter", "")
                max_keys = int(q.get("max-keys", _MAX_KEYS_DEFAULT))
                start_after = q.get("continuation-token", "")
                keys = [
                    k[len(bucket) + 1:]
                    for k in server.store.keys_with_prefix(f"{bucket}/{prefix}")
                ]
                if start_after:
                    keys = [k for k in keys if k > start_after]
                contents: list[str] = []
                common: list[str] = []
                for k in keys:
                    if delimiter:
                        rest = k[len(prefix):]
                        if delimiter in rest:
                            cp = prefix + rest.split(delimiter, 1)[0] + delimiter
                            if cp not in common:
                                common.append(cp)
                            continue
                    contents.append(k)
                    if len(contents) >= max_keys:
                        break
                truncated = bool(contents) and (
                    contents[-1] != (keys[-1] if keys else "")
                    and len(contents) >= max_keys
                )
                parts = [
                    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
                    "<ListBucketResult>",
                    f"<IsTruncated>{'true' if truncated else 'false'}</IsTruncated>",
                ]
                if truncated:
                    parts.append(
                        "<NextContinuationToken>"
                        f"{escape(contents[-1])}</NextContinuationToken>"
                    )
                for k in contents:
                    try:
                        size = len(server.store.get(f"{bucket}/{k}"))
                    except FileNotFoundError:
                        continue  # deleted between list and stat
                    parts.append(
                        f"<Contents><Key>{escape(k)}</Key>"
                        f"<Size>{size}</Size></Contents>"
                    )
                for cp in common:
                    parts.append(
                        f"<CommonPrefixes><Prefix>{escape(cp)}</Prefix>"
                        "</CommonPrefixes>"
                    )
                parts.append("</ListBucketResult>")
                self._send(200, "".join(parts).encode())

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

    def start(self) -> "S3MemServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, name="s3mem-server", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


class S3HttpFS:
    """The control-plane filesystem seam over the S3 REST protocol.

    Paths look like ``<scheme>://bucket/key/parts``; the scheme is
    whatever the warehouse registered (``register_fs_scheme("s3mem",
    lambda path: S3HttpFS(endpoint))``). Every call goes through the
    bounded retry loop; 5xx (throttle) and socket errors are transient,
    4xx are not."""

    def __init__(
        self,
        endpoint: str,
        chaos: ChaosPolicy | None = None,
        retries: int = 4,
        backoff_s: float = 0.0,
        timeout_s: float = 10.0,
        access_key: str | None = None,
        secret_key: str | None = None,
        region: str = "us-east-1",
        session_token: str | None = None,
        ssl_ca_file: str | None = None,
    ):
        u = urllib.parse.urlparse(endpoint)
        self.host = u.hostname
        # https endpoint -> TLS with chain+hostname verification against
        # the pinned CA (or the system store when none is pinned)
        self.tls = u.scheme == "https"
        self.port = u.port or (443 if self.tls else 80)
        self._ssl_ctx = None
        self._ctx_key = ""
        if self.tls:
            import os as _os

            from moonlink_spark.tlsutil import client_context

            # AWS_CA_BUNDLE is the AWS SDKs' documented private-CA knob;
            # with neither, the system store applies (SSL_CERT_FILE)
            ca = ssl_ca_file or _os.environ.get("AWS_CA_BUNDLE") or None
            self._ssl_ctx = client_context(ca)
            self._ctx_key = ca or "system"
        self.chaos = chaos
        self.retries = retries
        self.backoff_s = backoff_s
        self.timeout_s = timeout_s
        # SigV4 signing (public algorithm, table/sigv4.py): when creds are
        # set every request carries x-amz-date, x-amz-content-sha256 and
        # the Authorization header — a signing endpoint rejects anything
        # unsigned, so the accessor is deployable against real S3
        self.access_key = access_key
        self.secret_key = secret_key
        self.region = region
        # STS temporary credentials: the session token rides (signed) on
        # every request; rotation plugs in by swapping the accessor or
        # subclassing _signed with a provider, same seam as GCS tokens
        self.session_token = session_token

    # -- HTTP plumbing -------------------------------------------------------

    def _signed(
        self, method: str, url: str, body: bytes | None, headers: dict | None
    ) -> dict:
        """SigV4-sign when credentials are configured (every request path
        goes through here — an endpoint that requires signing rejects
        nothing this accessor sends)."""
        send_headers = dict(headers or {})
        if self.access_key is not None:
            from moonlink_spark.table.sigv4 import sign_request

            send_headers["Host"] = f"{self.host}:{self.port}"
            send_headers = sign_request(
                method,
                url,
                send_headers,
                body,
                self.access_key,
                self.secret_key or "",
                region=self.region,
                session_token=self.session_token,
            )
        return send_headers

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
        headers: dict | None = None,
        ok: tuple = (200, 204),
        with_headers: bool = False,
    ) -> tuple[int, bytes] | tuple[int, bytes, dict]:
        """One S3 call under the retry loop. Returns (status, body) —
        or (status, body, response-headers) with ``with_headers`` — for
        ``ok`` statuses and 404/412 (callers branch on those); raises
        TransientStoreError on 5xx / connection failure until retries are
        exhausted. Requests are SigV4-signed when credentials are set and
        ride the thread-local keep-alive pool (``table/httppool.py``) so
        repeat calls skip the TCP+TLS handshake."""
        import time as _time

        from moonlink_spark.table import httppool

        attempt = 0
        while True:
            try:
                if self.chaos is not None:
                    self.chaos.check(op)
                send_headers = self._signed(method, url, body, headers)
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
                if status >= 500:
                    raise TransientStoreError(f"s3 {op}: HTTP {status}")
                if status in ok or status in (404, 412):
                    if with_headers:
                        return status, data, resp_headers
                    return status, data
                raise OSError(f"s3 {op} {url}: HTTP {status} {data[:200]!r}")
            except (TransientStoreError, ConnectionError, http.client.HTTPException) as e:
                attempt += 1
                if attempt > self.retries:
                    if isinstance(e, TransientStoreError):
                        raise
                    raise TransientStoreError(str(e)) from e
                if self.backoff_s:
                    _time.sleep(self.backoff_s * attempt)

    def _obj_url(self, path: str) -> str:
        bucket, key = self._bucket_key(path)
        return "/" + bucket + "/" + urllib.parse.quote(key)

    # -- listing -------------------------------------------------------------

    def _list_keys(self, path: str, delimiter: str = "") -> list[str]:
        """ListObjectsV2 with continuation: all keys (or first-level
        children when ``delimiter='/'``) under ``path`` + '/'."""
        bucket, key = self._bucket_key(path)
        prefix = key + "/" if key else ""
        out: list[str] = []
        token = ""
        while True:
            q = {"list-type": "2", "prefix": prefix}
            if delimiter:
                q["delimiter"] = delimiter
            if token:
                q["continuation-token"] = token
            url = "/" + bucket + "?" + urllib.parse.urlencode(q)
            _, data = self._request("list", "GET", url)
            root = ElementTree.fromstring(data)
            for c in root.findall("Contents/Key"):
                out.append(c.text or "")
            for cp in root.findall("CommonPrefixes/Prefix"):
                out.append(cp.text or "")
            token_el = root.find("NextContinuationToken")
            if root.findtext("IsTruncated") == "true" and token_el is not None:
                token = token_el.text or ""
            else:
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
            self._request(
                "delete", "DELETE", "/" + bucket + "/" + urllib.parse.quote(k)
            )

    def exists(self, path: str) -> bool:
        status, _ = self._request("head", "HEAD", self._obj_url(path))
        return status == 200

    def getsize(self, path: str) -> int:
        # HEAD + Content-Length: never transfer the body to measure it
        status, _data, h = self._request(
            "head", "HEAD", self._obj_url(path), with_headers=True
        )
        if status == 404:
            raise FileNotFoundError(path)
        return int(h.get("content-length") or 0)

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
            "put", "PUT", self._obj_url(path), body=data.encode("utf-8")
        )

    write_text_new = write_text_durable  # a PUT: no temp name to skip

    # -- multipart upload (the >5 GiB single-PUT ceiling path) ---------------

    def write_bytes(
        self, path: str, data: bytes, multipart_threshold: int = 8 << 20
    ) -> None:
        """Object write that routes through multipart above the
        threshold — a single PUT tops out at 5 GiB on real S3, so the
        data-plane-over-seam path needs this split. Below threshold:
        one signed PUT, same as the control-plane writes."""
        if len(data) > multipart_threshold:
            self.upload_multipart(path, data, part_size=multipart_threshold)
        else:
            self._request("put", "PUT", self._obj_url(path), body=data)

    def upload_file(
        self, local_path: str, path: str, multipart_threshold: int = 8 << 20
    ) -> None:
        """Stream a local file into the store without holding it in
        memory: one part-sized buffer lives at a time, so a 100 GiB data
        file uploads through the same multipart protocol with flat RSS.
        Small files take the single-PUT path."""
        import os as _os

        size = _os.path.getsize(local_path)
        if size <= multipart_threshold:
            with open(local_path, "rb") as fh:
                self._request(
                    "put", "PUT", self._obj_url(path), body=fh.read()
                )
            return

        def chunks():
            with open(local_path, "rb") as fh:
                while True:
                    c = fh.read(multipart_threshold)
                    if not c:
                        return
                    yield c

        self._upload_multipart_chunks(path, chunks())

    def upload_multipart(
        self, path: str, data: bytes, part_size: int = 8 << 20
    ) -> None:
        """CreateMultipartUpload -> UploadPart xN -> CompleteMultipartUpload
        (public S3 REST shapes, every request SigV4-signed). Each part PUT
        is independently retriable — UploadPart is idempotent per part
        number, so a retry after a lost response just re-stores the same
        bytes; only Complete commits, so a crash mid-upload leaves the
        target object untouched (abort discards the parts)."""
        self._upload_multipart_chunks(
            path,
            (data[o : o + part_size] for o in range(0, len(data), part_size)),
        )

    def _upload_multipart_chunks(self, path: str, chunks) -> None:
        import re as _re

        url = self._obj_url(path)
        _s, body = self._request("mpu-init", "POST", url + "?uploads")
        m = _re.search(rb"<UploadId>([^<]+)</UploadId>", body)
        if m is None:
            raise OSError(f"s3 multipart init: unparseable response {body[:200]!r}")
        uid = m.group(1).decode()
        try:
            etags: list[tuple[int, str]] = []
            for n, chunk in enumerate(chunks, start=1):
                purl = f"{url}?partNumber={n}&uploadId={uid}"
                _s, _b, h = self._request(
                    "mpu-part",
                    "PUT",
                    purl,
                    body=chunk,
                    with_headers=True,
                )
                etags.append((n, h.get("etag", "").strip('"')))
            xml = (
                "<CompleteMultipartUpload>"
                + "".join(
                    f"<Part><PartNumber>{pn}</PartNumber>"
                    f'<ETag>"{et}"</ETag></Part>'
                    for pn, et in etags
                )
                + "</CompleteMultipartUpload>"
            )
            status, cbody = self._request(
                "mpu-complete",
                "POST",
                f"{url}?uploadId={uid}",
                body=xml.encode(),
            )
            if status != 200 or b"CompleteMultipartUploadResult" not in cbody:
                raise OSError(f"s3 multipart complete: {status} {cbody[:200]!r}")
        except Exception:
            try:
                self._request("mpu-abort", "DELETE", f"{url}?uploadId={uid}")
            except (OSError, TransientStoreError):
                pass  # abort is best-effort; the upload just stays pending
            raise

    def append_text_durable(self, path: str, data: str) -> None:
        # S3 has no append: read-modify-write, safe for the
        # single-writer-per-table WAL journal (same contract as the
        # in-memory accessor)
        try:
            old = self._get(path)
        except FileNotFoundError:
            old = b""
        self._request(
            "put", "PUT", self._obj_url(path), body=old + data.encode("utf-8")
        )

    def unlink(self, path: str) -> None:
        if not self.exists(path):
            raise FileNotFoundError(path)
        self._request("delete", "DELETE", self._obj_url(path))

    def copyfile(self, src: str, dst: str) -> None:
        bucket, key = self._bucket_key(src)
        # the copy source is URL-encoded per the S3 API (the server
        # unquotes it), so keys with %/+/space round-trip
        status, _ = self._request(
            "copy",
            "PUT",
            self._obj_url(dst),
            headers={
                "x-amz-copy-source": "/" + bucket + "/" + urllib.parse.quote(key)
            },
        )
        if status == 404:
            raise FileNotFoundError(src)

    def rename(self, src: str, dst: str) -> None:
        self.copyfile(src, dst)
        self._request("delete", "DELETE", self._obj_url(src))

    def publish_exclusive(self, tmp: str, final: str) -> None:
        """Single-winner commit via conditional create (``If-None-Match:
        *``): exactly one concurrent publisher gets 200, the rest get 412
        — the property ManifestStore's version commit relies on.

        Retry caveat handled here: if the FIRST conditional PUT succeeds
        server-side but its response is lost, the retry sees 412 against
        our own object. A 412 therefore triggers a follow-up GET; when
        the published bytes equal ours, the commit WON and no race is
        reported (without this, the caller would re-commit the same
        manifest at the next version or wrongly abort)."""
        data = self._get(tmp)
        status, _ = self._request(
            "put",
            "PUT",
            self._obj_url(final),
            body=data,
            headers={"If-None-Match": "*"},
        )
        self._request("delete", "DELETE", self._obj_url(tmp))
        if status == 412:
            published_status, published = self._request(
                "get", "GET", self._obj_url(final)
            )
            if published_status == 200 and published == data:
                return  # our earlier attempt won; the 412 was the retry
            raise CommitRaceLost(final)
