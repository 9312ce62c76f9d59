"""Object-storage cache: executor-local, byte-budgeted, pin-aware.

Parity: the reference's object-storage cache subsystem
(``src/moonlink/src/storage/cache/object_storage/object_storage_cache.rs``,
``base_cache.rs:33-73`` trait, ``cache_handle.rs:11-118`` handle,
``cache_config.rs:5-23`` config) and its metadata cache
(``src/moonlink/src/storage/cache/metadata/moka_cache.rs``,
``cache_config.rs``). Semantics re-expressed, not translated:

- every cache entry is either **non-evictable** (pinned, refcount > 0) or
  **evictable** (refcount 0, LRU-ordered); a read pins, ``unreference``
  down-levels to evictable at refcount 0
  (``object_storage_cache.rs:149-182``),
- the cache is budgeted in **bytes**; inserting evicts LRU evictable
  entries until under budget (``evict_cache_entries``,
  ``object_storage_cache.rs:62-88``). A read-through fetch that cannot fit
  returns ``None`` (caller falls back to remote); a write-through import
  that cannot fit raises (the reference panics),
- deleting a pinned entry leaves a **marker**: the entry disappears (and
  its file is removed) only when the last reference drops
  (``delete_cache_entry``, ``object_storage_cache.rs:120-147``),
- ``optimize_local_filesystem``: when the "remote" file is itself local,
  it doubles as the cache file — no copy, never deleted by the cache
  (``get_cache_handle_from_remote``, ``object_storage_cache.rs:330-352``).

Where this runs on a cluster: the cache is **process-local by design** —
each Spark executor (Python worker) holds its own instance over its own
scratch disk, exactly like the reference's per-node cache. Nothing here
is shared driver state; at 1000 executors there are 1000 independent
caches, each bounded by its own ``max_bytes``.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable


class CacheFullError(RuntimeError):
    """A write-through import could not fit even after evicting
    everything evictable (the reference panics here:
    ``base_cache.rs:37`` "If there's no enough disk space, panic")."""


@dataclass
class CacheEntry:
    """A cached file on local disk (``base_cache.rs:24-30``)."""

    cache_filepath: str
    file_size: int


@dataclass
class _EntryState:
    """Internal wrapper (``object_storage_cache.rs:23-32``)."""

    entry: CacheEntry
    reference_count: int = 0
    # False when the cache file IS the persisted local file
    # (optimize_local_filesystem): eviction must not delete it.
    deletable: bool = True


class CacheHandle:
    """A pinned (non-evictable) cache entry — the reference's
    ``NonEvictableHandle`` (``cache_handle.rs:11-66``). Holding one
    guarantees the local file stays on disk; ``unreference()`` releases
    the pin and returns any files the caller should delete."""

    def __init__(self, cache: "ObjectStorageCache", file_id: str, entry: CacheEntry):
        self._cache = cache
        self.file_id = file_id
        self.cache_filepath = entry.cache_filepath
        self.file_size = entry.file_size
        self._released = False

    def unreference(self) -> list[str]:
        """Drop this pin (``cache_handle.rs:48-52``). Idempotent per
        handle: a double release is a no-op, not a refcount underflow."""
        if self._released:
            return []
        self._released = True
        return self._cache._unreference(self.file_id)

    def unreference_and_delete(self) -> list[str]:
        """Drop the pin and mark the entry deleted
        (``cache_handle.rs:55-65``): the file goes away as soon as no
        one else holds it (immediately, if this was the last pin)."""
        if self._released:
            return self._cache.try_delete(self.file_id)
        self._released = True
        with self._cache._lock:  # unref+delete must be one atomic step
            out = self._cache._unreference(self.file_id)
            out.extend(
                self._cache._delete_entry(self.file_id, must_exist=False)
            )
        return out

    def unreference_and_replace_with_remote(self, remote_path: str) -> list[str]:
        """Drop the pin, then — under local-filesystem optimization —
        swap the copied cache file for the just-persisted local file so
        the bytes exist once on disk (``cache_handle.rs:68-92``)."""
        if self._released:
            return []
        self._released = True
        with self._cache._lock:  # unref+replace is one atomic step
            out = self._cache._unreference(self.file_id)
            out.extend(
                self._cache._replace_evictable_with_remote(
                    self.file_id, remote_path
                )
            )
        return out

    # context-manager sugar: `with cache.get(...) as h: read(h.cache_filepath)`
    def __enter__(self) -> "CacheHandle":
        return self

    def __exit__(self, *exc: Any) -> None:
        for p in self.unreference():
            _unlink_quiet(p)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


class ObjectStorageCache:
    """Byte-budgeted local-disk cache with pinned/evictable states
    (``object_storage_cache.rs:266-283, 398-520``). Thread-safe; IO
    (the remote fetch) happens outside the lock, mirroring the
    reference's "Place IO operation out of critical section"
    (``object_storage_cache.rs:473``)."""

    def __init__(
        self,
        max_bytes: int,
        cache_directory: str,
        optimize_local_filesystem: bool = False,
    ):
        self.max_bytes = int(max_bytes)
        self.cache_directory = cache_directory
        self.optimize_local_filesystem = optimize_local_filesystem
        os.makedirs(cache_directory, exist_ok=True)
        self._lock = threading.RLock()
        self._evictable: OrderedDict[str, _EntryState] = OrderedDict()  # LRU
        self._pinned: dict[str, _EntryState] = {}
        self._delete_markers: set[str] = set()
        self.cur_bytes = 0
        # observability (the reference TODOs these; they're load-bearing
        # for sizing max_bytes on a real cluster)
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    # -- public surface (base_cache.rs:33-73) --------------------------------

    def get(
        self,
        file_id: str,
        remote_path: str,
        accessor: Any,
    ) -> tuple[CacheHandle | None, list[str]]:
        """Read-through get (``object_storage_cache.rs:423-505``):
        pinned hit → new pin, zero IO; evictable hit → promote; miss →
        fetch from ``accessor`` into the cache dir, insert pinned,
        evicting LRU entries to budget. Returns ``(handle, files_to_
        delete)``; handle is None when the file cannot fit even after
        evicting everything unpinned (caller reads remote directly)."""
        with self._lock:
            st = self._pinned.get(file_id)
            if st is not None:
                st.reference_count += 1
                self.hits += 1
                return CacheHandle(self, file_id, st.entry), []
            st = self._evictable.pop(file_id, None)
            if st is not None:
                if not os.path.exists(st.entry.cache_filepath):
                    # a SIBLING process sharing this cache directory
                    # evicted the file from under our in-memory index
                    # (content-addressed shared dir): drop the stale
                    # entry and fall through to a normal miss
                    self.cur_bytes -= st.entry.file_size
                else:
                    st.reference_count = 1
                    self._pinned[file_id] = st
                    self.hits += 1
                    return CacheHandle(self, file_id, st.entry), []
            self.misses += 1

        # miss: IO outside the lock
        st = self._fetch_from_remote(remote_path, accessor)

        with self._lock:
            # a racing get() may have inserted the same id while we fetched;
            # reuse the winner and discard our copy
            won = self._pinned.get(file_id) or self._evictable.get(file_id)
            if won is not None:
                # content-addressed names mean the loser's copy IS the
                # winner's file — only unlink a genuinely distinct path
                # (the local-fs-optimized case keeps deletable=False)
                if (
                    st.deletable
                    and st.entry.cache_filepath != won.entry.cache_filepath
                ):
                    _unlink_quiet(st.entry.cache_filepath)
                return self.get(file_id, remote_path, accessor)
            self.cur_bytes += st.entry.file_size
            self._pinned[file_id] = st
            ok, to_delete = self._evict_to_budget()
            if ok:
                return CacheHandle(self, file_id, st.entry), to_delete
            # cannot fit: roll back (object_storage_cache.rs:496-503)
            self._pinned.pop(file_id)
            self.cur_bytes -= st.entry.file_size
            if st.deletable:
                to_delete.append(st.entry.cache_filepath)
            return None, to_delete

    def import_entry(
        self, file_id: str, local_path: str, file_size: int | None = None
    ) -> tuple[CacheHandle, list[str]]:
        """Write-through import of a file this process just wrote
        (``object_storage_cache.rs:398-421``): it becomes a pinned
        entry immediately — the next reader never re-downloads what
        this node just flushed. Raises CacheFullError when the budget
        cannot absorb it (the reference panics)."""
        size = os.path.getsize(local_path) if file_size is None else file_size
        st = _EntryState(CacheEntry(local_path, size), reference_count=1)
        with self._lock:
            if file_id in self._pinned or file_id in self._evictable:
                raise ValueError(f"cache entry {file_id!r} already managed")
            self.cur_bytes += size
            self._pinned[file_id] = st
            ok, to_delete = self._evict_to_budget()
            if not ok:
                self._pinned.pop(file_id)
                self.cur_bytes -= size
                # entries evicted on the way down stay evicted (they were
                # droppable by definition); their files can't be returned
                # through the raise, so free them here
                for p in to_delete:
                    _unlink_quiet(p)
                raise CacheFullError(
                    f"import of {file_id!r} ({size}B) exceeds budget "
                    f"{self.max_bytes}B with {self.cur_bytes}B pinned"
                )
            return CacheHandle(self, file_id, st.entry), to_delete

    def try_delete(self, file_id: str) -> list[str]:
        """Delete if present; no-op otherwise (``base_cache.rs:45-47``)."""
        with self._lock:
            return self._delete_entry(file_id, must_exist=False)

    def delete(self, file_id: str) -> list[str]:
        """Delete; the entry must be cache-managed (``base_cache.rs``
        ``delete_cache_entry`` precondition)."""
        with self._lock:
            return self._delete_entry(file_id, must_exist=True)

    def increment_reference_count(self, handle: CacheHandle) -> None:
        """Extra pin on an already-pinned entry
        (``object_storage_cache.rs:511-520``; precondition: pinned)."""
        with self._lock:
            st = self._pinned.get(handle.file_id)
            if st is None:
                raise KeyError(f"{handle.file_id!r} is not pinned")
            st.reference_count += 1

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {
                "cur_bytes": self.cur_bytes,
                "max_bytes": self.max_bytes,
                "pinned": len(self._pinned),
                "evictable": len(self._evictable),
                "hits": self.hits,
                "misses": self.misses,
                "evictions": self.evictions,
            }

    # test/introspection parity (object_storage_cache.rs:255-262, 545-560)
    def ref_count(self, file_id: str) -> int:
        with self._lock:
            st = self._pinned.get(file_id)
            return st.reference_count if st else 0

    # -- internals ------------------------------------------------------------

    def _fetch_from_remote(self, remote_path: str, accessor: Any) -> _EntryState:
        # local-filesystem optimization: the persisted file doubles as
        # the cache file (object_storage_cache.rs:330-352)
        if self.optimize_local_filesystem and os.path.isabs(remote_path) and os.path.exists(remote_path):
            return _EntryState(
                CacheEntry(remote_path, os.path.getsize(remote_path)),
                reference_count=1,
                deletable=False,
            )
        # Content-addressed cache filename: every process caching into a
        # SHARED directory derives the same name for the same object, so
        # a worker whose sibling already fetched the file ADOPTS it from
        # disk with zero remote IO. (The reference's cache is one
        # manager per node; Spark's Python side is N worker processes
        # per node, so the shared-dir adoption is what makes the cache
        # node-scoped rather than process-scoped. Objects are
        # content-immutable under unique store paths, so any copy is as
        # good as any other.)
        suffix = os.path.splitext(remote_path)[1]
        digest = hashlib.sha256(remote_path.encode("utf-8")).hexdigest()[:40]
        dst = os.path.join(self.cache_directory, f"{digest}{suffix}")
        try:
            # single stat(): a sibling can evict (unlink) dst between an
            # exists() check and getsize(), so probe once and degrade to
            # a normal fetch miss on FileNotFoundError
            adopted_size = os.stat(dst).st_size
        except FileNotFoundError:
            adopted_size = None
        if adopted_size is not None:
            return _EntryState(CacheEntry(dst, adopted_size), reference_count=1)
        tmp = f"{dst}.{uuid.uuid4().hex}.part"  # unique: racing fetchers
        size = 0
        with accessor.open_read_binary(remote_path) as src, open(tmp, "wb") as out:
            while True:
                chunk = src.read(1 << 20)
                if not chunk:
                    break
                out.write(chunk)
                size += len(chunk)
        # atomic: a crashed fetch never looks like a cache file, and a
        # lost race replaces the winner's file with identical bytes
        os.rename(tmp, dst)
        return _EntryState(CacheEntry(dst, size), reference_count=1)

    def _evict_to_budget(self) -> tuple[bool, list[str]]:
        # caller holds the lock (evict_cache_entries,
        # object_storage_cache.rs:62-88); on a no-fit the CALLER decides
        # whether that is tolerable (get degrades) or fatal (import_entry
        # raises)
        to_delete: list[str] = []
        while self.cur_bytes > self.max_bytes:
            if not self._evictable:
                return False, to_delete
            _, st = self._evictable.popitem(last=False)  # LRU
            self.cur_bytes -= st.entry.file_size
            self.evictions += 1
            if st.deletable:
                to_delete.append(st.entry.cache_filepath)
        return True, to_delete

    def _unreference(self, file_id: str) -> list[str]:
        # object_storage_cache.rs:149-182
        with self._lock:
            st = self._pinned.get(file_id)
            if st is None:
                raise KeyError(f"no reference count for {file_id!r}")
            st.reference_count -= 1
            if st.reference_count > 0:
                return []
            self._pinned.pop(file_id)
            if file_id in self._delete_markers:
                self._delete_markers.discard(file_id)
                self.cur_bytes -= st.entry.file_size
                return [st.entry.cache_filepath] if st.deletable else []
            self._evictable[file_id] = st  # most-recent end
            return []

    def _delete_entry(self, file_id: str, must_exist: bool) -> list[str]:
        # object_storage_cache.rs:120-147
        st = self._evictable.pop(file_id, None)
        if st is not None:
            self.cur_bytes -= st.entry.file_size
            return [st.entry.cache_filepath] if st.deletable else []
        if file_id in self._pinned:
            self._delete_markers.add(file_id)
            return []
        if must_exist:
            raise KeyError(f"cache entry {file_id!r} does not exist")
        return []

    def _replace_evictable_with_remote(self, file_id: str, remote_path: str) -> list[str]:
        # try_replace_evictable_with_remote (object_storage_cache.rs:186-212)
        with self._lock:
            if not self.optimize_local_filesystem or not os.path.isabs(remote_path):
                return []
            st = self._evictable.get(file_id)
            if st is None:
                return []
            old = st.entry.cache_filepath
            st.entry.cache_filepath = remote_path
            st.deletable = False
            return [old]


# --------------------------------------------------------------------------- #
# metadata cache (parity: cache/metadata/moka_cache.rs — an LRU map with
# max-entries and insertion-TTL; TTL does NOT reset on access, matching
# moka's time_to_live and the reference's cache_config.rs note)
# --------------------------------------------------------------------------- #


class MetadataCache:
    """Entry-count-bounded LRU with time-to-live since *insertion*
    (``metadata/moka_cache.rs:36-68``, ``metadata/cache_config.rs``:
    defaults 1000 entries / 3600 s). ``get`` returns the stored value
    (callers must not mutate shared values in place — same contract as
    the reference's clone-on-get, stated instead of paid per call)."""

    DEFAULT_MAX_SIZE = 1000
    DEFAULT_TTL_SECS = 3600.0

    def __init__(
        self,
        max_size: int = DEFAULT_MAX_SIZE,
        ttl_secs: float = DEFAULT_TTL_SECS,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.max_size = int(max_size)
        self.ttl_secs = float(ttl_secs)
        self._clock = clock
        self._lock = threading.Lock()
        self._data: OrderedDict[Any, tuple[float, Any]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key: Any) -> Any | None:
        now = self._clock()
        with self._lock:
            item = self._data.get(key)
            if item is None or now - item[0] > self.ttl_secs:
                if item is not None:
                    self._data.pop(key, None)  # expired
                self.misses += 1
                return None
            self._data.move_to_end(key)  # LRU touch (recency, not TTL)
            self.hits += 1
            return item[1]

    def put(self, key: Any, value: Any) -> None:
        now = self._clock()
        with self._lock:
            self._data.pop(key, None)  # overwrite resets insertion time
            self._data[key] = (now, value)
            while len(self._data) > self.max_size:
                self._data.popitem(last=False)

    def remove(self, key: Any) -> Any | None:
        with self._lock:
            item = self._data.pop(key, None)
            return item[1] if item else None

    def clear(self) -> None:
        with self._lock:
            self._data.clear()

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)


# --------------------------------------------------------------------------- #
# accessor wrapper: read-through caching behind the fs seam
# --------------------------------------------------------------------------- #

#: suffixes of content-immutable files — data/index artifacts are written
#: once under unique names (UUID/version-stamped), so caching them by path
#: is safe; manifests' pointer files and WAL journals mutate in place and
#: must bypass the cache.
CACHEABLE_SUFFIXES = (".parquet", ".puffin", ".bin", ".avro")


class _CachedReadStream:
    """File object over the pinned local copy; closing drops the pin
    (and deletes whatever eviction freed)."""

    def __init__(self, handle: CacheHandle, mode: str):
        self._handle = handle
        self._fh = open(handle.cache_filepath, mode)

    # explicit wrappers (not __getattr__ delegation): a bound method must
    # keep THIS object alive for the duration of the call, else
    # `fs.open_read_binary(p).read()` drops the wrapper mid-expression
    # and __del__ closes the file under the read
    def read(self, *a: Any) -> Any:
        return self._fh.read(*a)

    def readline(self, *a: Any) -> Any:
        return self._fh.readline(*a)

    def readlines(self, *a: Any) -> Any:
        return self._fh.readlines(*a)

    def seek(self, *a: Any) -> Any:
        return self._fh.seek(*a)

    def tell(self) -> Any:
        return self._fh.tell()

    def __getattr__(self, name: str) -> Any:
        return getattr(self._fh, name)

    def close(self) -> None:
        self._fh.close()
        for p in self._handle.unreference():
            _unlink_quiet(p)

    def __del__(self) -> None:
        # a dropped-without-close stream must not leak its pin — pins
        # gate eviction, and a leaked one would wedge the byte budget
        try:
            self.close()
        except Exception:
            pass

    def __enter__(self) -> "_CachedReadStream":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()

    def __iter__(self):
        return iter(self._fh)


class CachedFS:
    """Read-through cache over any registered accessor (LocalFS-shaped:
    S3HttpFS, GCSHttpFS, InMemory...). Reads of immutable artifacts pin a
    local copy and serve from disk; writes/deletes pass through AND
    invalidate, so a cached path can never serve stale bytes. Drop-in at
    ``register_fs_scheme`` — the table layer needs no changes.

    Parity: this is the consumption seam the reference wires its cache
    through (``BaseFileSystemAccess`` + cache in read paths, e.g.
    ``snapshot_cache_utils.rs``, ``index/cache_utils.rs``)."""

    def __init__(
        self,
        inner: Any,
        cache: ObjectStorageCache,
        cacheable: Callable[[str], bool] | None = None,
    ):
        self.inner = inner
        self.cache = cache
        self._cacheable = cacheable or (
            lambda p: p.endswith(CACHEABLE_SUFFIXES)
        )

    # -- cached reads ---------------------------------------------------------

    def _open_cached(self, path: str, mode: str):
        handle, to_delete = self.cache.get(path, path, self.inner)
        for p in to_delete:
            _unlink_quiet(p)
        if handle is None:  # could not fit: read remote directly
            return (
                self.inner.open_read(path)
                if mode == "r"
                else self.inner.open_read_binary(path)
            )
        try:
            return _CachedReadStream(handle, mode)
        except OSError:
            # cache file vanished under us (rmtree of the cache dir, an
            # external delete): drop the pin AND the entry, fall back
            handle.unreference_and_delete()
            return (
                self.inner.open_read(path)
                if mode == "r"
                else self.inner.open_read_binary(path)
            )

    def open_read(self, path: str):
        if self._cacheable(path):
            return self._open_cached(path, "r")
        return self.inner.open_read(path)

    def open_read_binary(self, path: str):
        if self._cacheable(path):
            return self._open_cached(path, "rb")
        return self.inner.open_read_binary(path)

    def getsize(self, path: str) -> int:
        return self.inner.getsize(path)

    # -- mutating ops: delegate + invalidate ----------------------------------

    def _invalidate(self, path: str) -> None:
        for p in self.cache.try_delete(path):
            _unlink_quiet(p)

    def write_text_durable(self, path: str, data: str) -> None:
        self.inner.write_text_durable(path, data)
        self._invalidate(path)

    def write_text_new(self, path: str, data: str) -> None:
        self.inner.write_text_new(path, data)
        self._invalidate(path)

    def append_text_durable(self, path: str, data: str) -> None:
        self.inner.append_text_durable(path, data)
        self._invalidate(path)

    def unlink(self, path: str) -> None:
        self.inner.unlink(path)
        self._invalidate(path)

    def rename(self, src: str, dst: str) -> None:
        self.inner.rename(src, dst)
        self._invalidate(src)
        self._invalidate(dst)

    def copyfile(self, src: str, dst: str) -> None:
        self.inner.copyfile(src, dst)
        self._invalidate(dst)

    def publish_exclusive(self, tmp: str, final: str) -> None:
        self.inner.publish_exclusive(tmp, final)
        self._invalidate(tmp)
        self._invalidate(final)

    def rmtree(self, path: str) -> None:
        self.inner.rmtree(path)
        # coarse: drop every cached entry under the prefix (component
        # boundary, so "/wh/tab" does not invalidate "/wh/table2/...")
        prefix = path.rstrip("/") + "/"
        with self.cache._lock:
            ids = [
                fid
                for fid in (*self.cache._evictable, *self.cache._pinned)
                if isinstance(fid, str)
                and (fid == path or fid.startswith(prefix))
            ]
        for fid in ids:
            self._invalidate(fid)

    # -- pure delegation ------------------------------------------------------

    def makedirs(self, path: str) -> None:
        self.inner.makedirs(path)

    def isdir(self, path: str) -> bool:
        return self.inner.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return self.inner.listdir(path)

    def exists(self, path: str) -> bool:
        return self.inner.exists(path)

    # write-shaped accessor extensions: must invalidate like the six
    # wrapped mutators above — delegating them raw served STALE cached
    # bytes after an extension write (review r10); every accessor names
    # its store-path parameter ``path``, so the target is resolved by
    # SIGNATURE BINDING, not positional index — keyword calls
    # (fs.write_bytes(path=dst, data=b)) invalidate too (review r11)
    _MUTATING_EXTENSIONS = frozenset(
        {"write_bytes", "upload_file", "upload_multipart", "append_bytes"}
    )

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self.inner, name)
        if name in self._MUTATING_EXTENSIONS and callable(attr):
            def _invalidating(*args: Any, _attr=attr, **kw: Any):
                out = _attr(*args, **kw)
                target = kw.get("path")
                if target is None:
                    import inspect as _inspect

                    try:
                        bound = _inspect.signature(_attr).bind(*args, **kw)
                        target = bound.arguments.get("path")
                    except (TypeError, ValueError):
                        # unbindable/no-signature fallback: the store
                        # path is positional arg 1 (arg 2 for
                        # upload_file(local, path))
                        target = (
                            args[1]
                            if name == "upload_file" and len(args) > 1
                            else (args[0] if args else None)
                        )
                if isinstance(target, str):
                    self._invalidate(target)
                return out

            return _invalidating
        # read-shaped accessor extensions (chaos knobs, pool stats, ...)
        return attr
