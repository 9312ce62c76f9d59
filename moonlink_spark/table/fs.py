"""Filesystem seam for the table control plane.

The DATA plane (parquet scan/write) already goes through Spark's Hadoop
filesystem layer, so ``s3a://`` / ``gs://`` data paths work wherever the
cluster has the connector jars. The CONTROL plane — manifest publication,
adopting shuffle-written files into the table layout, WAL journals,
vacuum — uses this seam instead of raw ``os`` calls, so an object-storage
warehouse needs exactly one new class, not a rewrite.

Parity note: the reference isolates all storage access behind a
``BaseFileSystemAccess`` trait with local/S3/GCS implementations
(``src/moonlink/src/storage/filesystem/accessor_config.rs``,
``filesystem/accessor/``); this module is that seam re-expressed at the
scale this engine needs (the atomic-publish primitive plus a handful of
directory ops).

The one primitive with real semantics is ``publish_exclusive``: commit
N must fail cleanly if another writer already published N. LocalFS uses
``os.link`` (EEXIST on the loser). An S3 implementation would use a
conditional PUT (``If-None-Match: *``); GCS, ``x-goods-if-generation-
match: 0``. Everything else is plain file IO.
"""

from __future__ import annotations

import os
import shutil
from typing import BinaryIO, TextIO

from moonlink_spark.errors import TableConfigError


class CommitRaceLost(FileExistsError):
    """publish_exclusive lost: the target version already exists."""


class LocalFS:
    """POSIX implementation — the only one bundled (no object-store creds
    or connector jars in this environment)."""

    # -- directories --------------------------------------------------------

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    # -- files --------------------------------------------------------------

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def open_read(self, path: str) -> TextIO:
        return open(path)

    def open_read_binary(self, path: str) -> BinaryIO:
        return open(path, "rb")

    def write_text_durable(self, path: str, data: str) -> None:
        """Atomic durable write: tmp + fsync + rename + dir fsync. A
        crash can never leave a torn/truncated file at ``path`` — the
        property object-store PUTs give for free, and what callers that
        rewrite state files in place (iceberg sync sidecar, version
        hints) rely on."""
        import uuid as _uuid

        d = os.path.dirname(path) or "."
        tmp = os.path.join(d, f".{os.path.basename(path)}.{_uuid.uuid4().hex}.tmp")
        self.write_text_new(tmp, data)
        os.replace(tmp, path)
        _fsync_dir(d)

    def write_text_new(self, path: str, data: str) -> None:
        """Write and fsync a new, uniquely named file in place: nothing
        reads it before it is published (``publish_exclusive``), so it
        needs no temp name of its own."""
        with open(path, "w") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())

    def append_text_durable(self, path: str, data: str) -> None:
        with open(path, "a") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())

    def unlink(self, path: str) -> None:
        os.unlink(path)

    def rename(self, src: str, dst: str) -> None:
        """Move within the store (adopting a shuffle-written file)."""
        os.rename(src, dst)

    def copyfile(self, src: str, dst: str) -> None:
        shutil.copyfile(src, dst)

    def publish_exclusive(self, tmp: str, final: str) -> None:
        """Atomically publish ``tmp`` as ``final``; raise CommitRaceLost if
        ``final`` already exists. Loser never leaves a half-written file.
        ``tmp`` is always consumed (removed)."""
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitRaceLost(final) from e
        finally:
            os.unlink(tmp)
        # the link is what makes ``final`` visible: persist it
        _fsync_dir(os.path.dirname(final) or ".")


def _fsync_dir(d: str) -> None:
    try:
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync unsupported (some filesystems): best effort


# --------------------------------------------------------------------------- #
# object-store accessor (parity: the reference's BaseFileSystemAccess trait
# with S3/GCS implementations wrapped in retry/timeout/chaos layers —
# storage/filesystem/accessor_config.rs, filesystem/accessor/)
# --------------------------------------------------------------------------- #


class TransientStoreError(OSError):
    """A retryable store failure (throttle, 5xx, connection reset)."""


class ChaosPolicy:
    """Deterministic fault injector for the object-store accessor, the
    analog of the reference's chaos wrapper
    (``storage/filesystem/accessor/filesystem_accessor_wrapper.rs``).

    ``fail_ops`` maps op name -> how many times that op should raise a
    TransientStoreError before succeeding (decremented per call).
    ``fail_every`` injects one failure every N mutating calls."""

    # the ops fail_every schedules over — as documented: MUTATING calls
    # only, so N means "the Nth write-side op fails", independent of how
    # many reads interleave (reads still fail via fail_ops when asked)
    _MUTATING = frozenset({"put", "delete", "copy"})

    def __init__(
        self,
        fail_ops: dict[str, int] | None = None,
        fail_every: int = 0,
    ):
        self.fail_ops = dict(fail_ops or {})
        self.fail_every = fail_every
        self._calls = 0
        self.injected = 0

    def check(self, op: str) -> None:
        mutating = op in self._MUTATING
        if mutating:
            self._calls += 1
        if self.fail_ops.get(op, 0) > 0:
            self.fail_ops[op] -= 1
            self.injected += 1
            raise TransientStoreError(f"chaos: injected failure in {op}")
        # fire only ON the Nth mutating op — a read arriving while the
        # counter sits at a multiple must not fail repeatedly
        if mutating and self.fail_every and self._calls % self.fail_every == 0:
            self.injected += 1
            raise TransientStoreError(f"chaos: periodic failure in {op}")


class InMemoryObjectStore:
    """The shared 'bucket': a flat key->bytes namespace with the two
    primitives real object stores give you — last-writer-wins PUT and
    atomic conditional PUT (S3 ``If-None-Match: *`` / GCS
    ``if-generation-match: 0``). One instance may back many ObjectStoreFS
    handles (= many writers), which is what the commit-race tests rely
    on. Thread-safe."""

    def __init__(self) -> None:
        import threading

        self.objects: dict[str, bytes] = {}
        self.lock = threading.Lock()

    def put(self, key: str, data: bytes) -> None:
        with self.lock:
            self.objects[key] = data

    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Atomic conditional PUT; False if the key already exists."""
        with self.lock:
            if key in self.objects:
                return False
            self.objects[key] = data
            return True

    def get(self, key: str) -> bytes:
        with self.lock:
            if key not in self.objects:
                raise FileNotFoundError(key)
            return self.objects[key]

    def delete(self, key: str) -> None:
        with self.lock:
            self.objects.pop(key, None)

    def keys_with_prefix(self, prefix: str) -> list[str]:
        with self.lock:
            return sorted(k for k in self.objects if k.startswith(prefix))


class ObjectStoreFS:
    """Object-store semantics behind the control-plane seam: flat
    namespace (directories are implicit prefixes; ``makedirs`` is a
    no-op), no atomic rename (copy+delete), and ``publish_exclusive`` as
    a true conditional PUT. Every mutating call goes through the retry
    loop so injected ``TransientStoreError``s behave like real throttles:
    bounded retries with deterministic backoff, then surface.

    ``write_text_durable`` has no fsync concept — object-store PUTs are
    durable on acknowledgment, which is exactly the property the local
    fsync stands in for."""

    def __init__(
        self,
        store: InMemoryObjectStore,
        chaos: ChaosPolicy | None = None,
        retries: int = 4,
        backoff_s: float = 0.0,
    ):
        self.store = store
        self.chaos = chaos
        self.retries = retries
        self.backoff_s = backoff_s

    # -- retry wrapper ------------------------------------------------------

    def _call(self, op: str, fn):
        import time as _time

        attempt = 0
        while True:
            try:
                if self.chaos is not None:
                    self.chaos.check(op)
                return fn()
            except TransientStoreError:
                attempt += 1
                if attempt > self.retries:
                    raise
                if self.backoff_s:
                    _time.sleep(self.backoff_s * attempt)

    @staticmethod
    def _key(path: str) -> str:
        return path.rstrip("/")

    # -- directories (implicit) --------------------------------------------

    def makedirs(self, path: str) -> None:
        self._call("makedirs", lambda: None)

    def isdir(self, path: str) -> bool:
        prefix = self._key(path) + "/"
        return self._call(
            "list", lambda: bool(self.store.keys_with_prefix(prefix))
        )

    def listdir(self, path: str) -> list[str]:
        prefix = self._key(path) + "/"

        def _list():
            seen = []
            for k in self.store.keys_with_prefix(prefix):
                child = k[len(prefix):].split("/", 1)[0]
                if child not in seen:
                    seen.append(child)
            return seen

        return self._call("list", _list)

    def rmtree(self, path: str) -> None:
        prefix = self._key(path) + "/"

        def _rm():
            for k in self.store.keys_with_prefix(prefix):
                self.store.delete(k)

        self._call("delete", _rm)

    # -- files --------------------------------------------------------------

    def exists(self, path: str) -> bool:
        def _ex():
            try:
                self.store.get(self._key(path))
                return True
            except FileNotFoundError:
                return False

        return self._call("head", _ex)

    def getsize(self, path: str) -> int:
        return self._call("head", lambda: len(self.store.get(self._key(path))))

    def open_read(self, path: str) -> TextIO:
        import io

        data = self._call("get", lambda: self.store.get(self._key(path)))
        return io.StringIO(data.decode("utf-8"))

    def open_read_binary(self, path: str) -> BinaryIO:
        import io

        data = self._call("get", lambda: self.store.get(self._key(path)))
        return io.BytesIO(data)

    def write_text_durable(self, path: str, data: str) -> None:
        self._call(
            "put", lambda: self.store.put(self._key(path), data.encode("utf-8"))
        )

    write_text_new = write_text_durable  # a PUT: no temp name to skip

    def append_text_durable(self, path: str, data: str) -> None:
        key = self._key(path)

        def _append():
            try:
                old = self.store.get(key)
            except FileNotFoundError:
                old = b""
            self.store.put(key, old + data.encode("utf-8"))

        self._call("put", _append)

    def unlink(self, path: str) -> None:
        key = self._key(path)

        def _rm():
            self.store.get(key)  # FileNotFoundError like os.unlink
            self.store.delete(key)

        self._call("delete", _rm)

    def rename(self, src: str, dst: str) -> None:
        # object stores have no rename: server-side copy + delete
        def _mv():
            self.store.put(self._key(dst), self.store.get(self._key(src)))
            self.store.delete(self._key(src))

        self._call("copy", _mv)

    def copyfile(self, src: str, dst: str) -> None:
        self._call(
            "copy",
            lambda: self.store.put(self._key(dst), self.store.get(self._key(src))),
        )

    def publish_exclusive(self, tmp: str, final: str) -> None:
        """Conditional PUT: atomically publish iff ``final`` is absent.
        The loser raises CommitRaceLost; ``tmp`` is always consumed."""

        def _pub():
            data = self.store.get(self._key(tmp))
            won = self.store.put_if_absent(self._key(final), data)
            self.store.delete(self._key(tmp))
            if not won:
                raise CommitRaceLost(final)

        self._call("put", _pub)


# scheme -> factory returning a filesystem for that warehouse URI.
# Tests (and an S3/GCS deployment) register here; nothing else changes.
_FS_SCHEMES: dict[str, object] = {}


def register_fs_scheme(scheme: str, factory) -> None:
    """Plug a filesystem implementation in for ``scheme://`` warehouse
    paths. ``factory(path) -> fs`` is called per table/warehouse root."""
    _FS_SCHEMES[scheme] = factory


def fs_for(path: str):
    """Resolve the filesystem for a table/warehouse root. Local paths use
    LocalFS; other schemes must be registered via ``register_fs_scheme``
    (the single place to plug an S3/GCS class in) — unknown schemes fail
    loudly instead of corrupting state with POSIX calls against a URI."""
    if "://" in path and not path.startswith("file://"):
        scheme = path.split("://", 1)[0]
        factory = _FS_SCHEMES.get(scheme)
        if factory is None:
            raise TableConfigError(
                f"object-storage warehouse {path!r} needs a registered "
                f"filesystem for scheme {scheme!r} (see "
                "moonlink_spark.table.fs.register_fs_scheme); only local "
                "paths are bundled"
            )
        return factory(path)
    return LocalFS()
