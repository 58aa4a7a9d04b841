"""Lake filesystem seam — object-store-capable IO for every file
path the engine touches itself, and the one resolver of local paths.

Reference parity: the reference isolates storage behind an adapter
pair (``s3_storage.py:25-38`` S3 put/get vs ``local_storage.py:19-26``
POSIX) chosen by environment; this module is the same seam for the
Spark engine's driver/executor-side byte IO. Spark's own reads and
writes (parquet, binaryFile) already resolve URIs through Hadoop —
this seam exists for the places the engine touches bytes *itself*:
reading PDF blobs in extraction tasks, and every commit step of the
sinks (markers, pointers, leases, version listings and GC).

Local paths: :func:`local_path` is the only code that maps a local
spelling (bare, Spark's ``file:/…``, ``file:///…``) to its on-disk
name. ``PosixLakeFS`` resolves every argument through it, and the
sinks' POSIX-only steps (``sinks/merge``'s rename swap, footer reads
in ``sources/introspect``) call it rather than strip a scheme
themselves, so one spelling means one directory everywhere.

Why ``pyarrow.fs`` and not ``spark._jvm`` Hadoop: the JVM gateway is
driver-only — a ``mapInPandas`` task on an executor has no py4j
bridge, so Hadoop ``FileSystem`` calls cannot run where the
extraction reads happen. ``pyarrow.fs`` is in every executor's
Python runtime, resolves the same URI schemes (``s3://``, ``gs://``,
``hdfs://`` where libhdfs is present, ``file://``), and its
filesystem handles are picklable. Resolution is per-call from the
path string, so nothing stateful ships task-to-task.

The protocol is deliberately small (ls / read / write / exists /
size / mkdirs, plus the delete, directory-listing and
compare-and-swap steps the sinks' commit protocols need), and small
enough that tests inject an in-memory fake to prove the cluster
claims without a real bucket.

Atomicity: on POSIX-like filesystems writes go tmp-file →
``move`` (rename — a concurrent reader never sees a torn file). On
object stores a single PUT is already all-or-nothing visible, and a
copy+delete "rename" would *add* a torn-state window, so writes
stream directly.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import uuid
from typing import Sequence


def local_path(path: str) -> str:
    """The on-disk name of a local lake path — the one place a local
    spelling is resolved: ``file:///x`` and Spark's ``file:/x`` map
    to ``/x``, a bare path maps to itself. Nothing is
    percent-decoded: Hadoop prints a local name as it is on disk (a
    space stays a space, ``a%20b.pdf`` is those characters)."""
    for scheme in ("file://", "file:"):
        if path.startswith(scheme):
            return path[len(scheme):]
    return path


class LakeFS:
    """Minimal filesystem protocol. Paths are full paths/URIs in the
    scheme the instance was resolved for."""

    #: True when `move` is an atomic rename (POSIX); False when the
    #: store's single-object PUT is the atomicity unit (S3/GCS).
    atomic_rename = True

    #: True when ``put_if_absent`` is a genuine compare-and-swap
    #: (POSIX ``O_EXCL``; a conditional-PUT object-store adapter).
    #: False means check-then-write best-effort — multi-writer
    #: commit protocols built on the CAS (sinks/txlog leases and
    #: commit logs) are NOT safe against true concurrency on such
    #: an adapter; single-writer replay/crash safety still holds.
    atomic_cas = False

    def ls(self, path: str, suffixes: Sequence[str] | None = None) -> list[str]:
        """Files under ``path`` (suffix-filtered, sorted). A single
        FILE path lists itself (subject to the suffix filter); a
        nonexistent path lists as ``[]`` — never a phantom entry."""
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def write_bytes(self, path: str, data: bytes) -> None:
        """Publish ``data`` at ``path`` with no torn-read window."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def ls_with_sizes(
        self, path: str, suffixes: Sequence[str] | None = None
    ) -> list[tuple[str, int]]:
        """``(path, bytes)`` for every file :meth:`ls` would return.
        The default composes ``ls`` + ``size``; object-store adapters
        override it to surface the sizes their listing response
        already carries (ListObjectsV2 ``<Size>``, pyarrow FileInfo)
        — one LIST instead of an N+1 HEAD per file, which is what a
        whole-table compaction pass would otherwise pay."""
        return [(p, self.size(p)) for p in self.ls(path, suffixes)]

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def delete_dir(self, path: str) -> None:
        """Remove a directory tree (no-op if absent) — the GC half of
        a version-pointer swap (sinks/merge._rewrite)."""
        raise NotImplementedError

    def ls_dirs(self, path: str) -> list[str]:
        """Immediate subdirectory paths (empty if ``path`` absent) —
        version enumeration for the marker-committed matview layout."""
        raise NotImplementedError

    def delete_file(self, path: str) -> None:
        """Remove a single object/file (no-op if absent) — lease
        expiry/release in sinks/txlog."""
        raise NotImplementedError

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Create ``path`` with ``data`` ONLY if it does not exist;
        return whether this call created it — the compare-and-swap
        every multi-writer commit protocol reduces to (sinks/txlog).

        The base implementation is check-then-write: atomic only
        when the store offers a conditional PUT. POSIX overrides
        with ``O_EXCL`` (truly atomic); S3/GCS both expose
        ``If-None-Match: *`` conditional PUTs, and
        ``lakefs_http.HttpCasLakeFS`` routes through exactly that
        (a real CAS, ``atomic_cas=True``). pyarrow.fs does not
        surface conditional writes, so ArrowLakeFS inherits this
        best-effort fallback and multi-writer tables on it need an
        external CAS or the HTTP adapter (the documented
        Delta-on-S3 position pre-conditional-PUT)."""
        if self.exists(path):
            return False
        self.write_bytes(path, data)
        return True


class PosixLakeFS(LakeFS):
    """Local paths — stdlib only, no pyarrow import cost. The default
    for everything without ``://`` (local mode, NFS): a bare path or
    Spark's ``file:/…`` spelling, which every method resolves through
    :func:`local_path`. Listings keep the caller's spelling."""

    atomic_cas = True  # O_CREAT|O_EXCL below

    def ls(self, path, suffixes=None):
        p = local_path(path)
        if not os.path.isdir(p):
            if os.path.isfile(p) and (
                suffixes is None or p.lower().endswith(tuple(suffixes))
            ):
                return [path]
            return []  # absent (or filtered-out single file): no phantoms
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(p)
            if (suffixes is None or f.lower().endswith(tuple(suffixes)))
            and os.path.isfile(os.path.join(p, f))
        )

    def is_dir(self, path):
        return os.path.isdir(local_path(path))

    def read_bytes(self, path):
        with open(local_path(path), "rb") as fh:
            return fh.read()

    def write_bytes(self, path, data):
        path = local_path(path)
        tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def put_if_absent(self, path, data):
        # O_CREAT|O_EXCL — the kernel arbitrates the race
        try:
            fd = os.open(local_path(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        return True

    def delete_file(self, path):
        try:
            os.remove(local_path(path))
        except FileNotFoundError:
            pass

    def exists(self, path):
        return os.path.exists(local_path(path))

    def size(self, path):
        return os.path.getsize(local_path(path))

    def mkdirs(self, path):
        os.makedirs(local_path(path), exist_ok=True)

    def delete_dir(self, path):
        shutil.rmtree(local_path(path), ignore_errors=True)

    def ls_dirs(self, path):
        p = local_path(path)
        if not os.path.isdir(p):
            return []
        return sorted(
            os.path.join(path, d)
            for d in os.listdir(p)
            if os.path.isdir(os.path.join(p, d))
        )


class ArrowLakeFS(LakeFS):
    """URI paths (``s3://``, ``gs://``, ``hdfs://``, ``file://``)
    through ``pyarrow.fs`` — the object-store leg of the seam.
    Stateless: every call re-resolves from the URI, so instances
    pickle trivially into Spark tasks."""

    def _resolve(self, path: str):
        from pyarrow import fs as pafs

        return pafs.FileSystem.from_uri(path)

    @property
    def atomic_rename(self):  # type: ignore[override]
        return False  # be conservative: assume object-store semantics

    def _children(self, fsys, path, p, kind, suffixes=None):
        """``(uri, size)`` of the children of type ``kind`` in the
        directory ``p`` (``path`` resolved), sorted. Child URIs are
        rebuilt RELATIVE to the input URI, not by re-attaching
        scheme://authority to fi.path: for bucket-in-path stores
        (s3://, gs://) from_uri returns paths that already contain the
        bucket, so a scheme+authority prefix would double it
        (s3://bucket/bucket/dir/file) and every later read of the
        listing would 404. The suffix of fi.path past the resolved
        base is scheme-independent."""
        from pyarrow import fs as pafs

        base_uri, base_p = path.rstrip("/"), p.rstrip("/")
        out = []
        for fi in fsys.get_file_info(pafs.FileSelector(p, recursive=False)):
            if fi.type != kind or (
                suffixes is not None and not fi.path.lower().endswith(tuple(suffixes))
            ):
                continue
            child = fi.path[len(base_p):] if fi.path.startswith(base_p) else fi.path
            out.append((base_uri + "/" + child.lstrip("/"), fi.size))
        return sorted(out)

    def ls(self, path, suffixes=None):
        return [p for p, _ in self.ls_with_sizes(path, suffixes)]

    def is_dir(self, path):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        return fsys.get_file_info(p).type == pafs.FileType.Directory

    def read_bytes(self, path):
        fsys, p = self._resolve(path)
        with fsys.open_input_stream(p) as fh:
            return fh.read()

    def write_bytes(self, path, data):
        # single streamed PUT: object stores publish all-or-nothing
        # on close, which is exactly the torn-read guarantee the
        # POSIX tmp+rename dance exists to provide
        fsys, p = self._resolve(path)
        with fsys.open_output_stream(p) as fh:
            fh.write(data)

    def exists(self, path):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        return fsys.get_file_info(p).type != pafs.FileType.NotFound

    def size(self, path):
        fsys, p = self._resolve(path)
        return fsys.get_file_info(p).size

    def ls_with_sizes(self, path, suffixes=None):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        info = fsys.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            return []
        if info.type != pafs.FileType.Directory:
            if suffixes is not None and not p.lower().endswith(tuple(suffixes)):
                return []
            return [(path, info.size)]
        return self._children(fsys, path, p, pafs.FileType.File, suffixes)

    def mkdirs(self, path):
        fsys, p = self._resolve(path)
        fsys.create_dir(p, recursive=True)

    def delete_dir(self, path):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        if fsys.get_file_info(p).type != pafs.FileType.NotFound:
            fsys.delete_dir(p)

    def delete_file(self, path):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        if fsys.get_file_info(p).type != pafs.FileType.NotFound:
            fsys.delete_file(p)

    def ls_dirs(self, path):
        from pyarrow import fs as pafs

        fsys, p = self._resolve(path)
        if fsys.get_file_info(p).type != pafs.FileType.Directory:
            return []
        return [u for u, _ in self._children(fsys, path, p, pafs.FileType.Directory)]


def get_fs(path: str, override: LakeFS | None = None) -> LakeFS:
    """Resolve the filesystem for ``path``: an injected override wins
    (the test / custom-adapter seam, mirroring the reference's
    storage-adapter injection), ``scheme://`` URIs go through pyarrow
    (which percent-decodes them), bare paths and Spark's ``file:/…``
    spelling stay on the stdlib fast path."""
    if override is not None:
        return override
    if "://" in path:
        return ArrowLakeFS()
    return PosixLakeFS()


def join(base: str, *parts: str) -> str:
    """Path join that keeps URI semantics (always ``/``) for lake
    paths and native semantics for bare local paths."""
    if "://" in base:
        return posixpath.join(base, *parts)
    return os.path.join(base, *parts)
