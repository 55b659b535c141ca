"""Table-root filesystem abstraction: the eight I/O verbs the manifest
protocol actually needs, behind one interface.

Why: SnapshotTable's commit protocol (plans/manifest.py) was written
against POSIX primitives — ``os.replace`` for the CURRENT pointer swing,
``O_CREAT|O_EXCL`` for the lease, ``os.listdir`` for version/pin
discovery. A 100 TB lake lives on an object store (the reference reaches
all its stores over the network: etcd, MQ, Milvus/MySQL targets), so
every manifest/pins/DLQ operation now routes through a ``TableFS``
implementation instead. ``LocalFS`` is the POSIX implementation used in
this sandbox; the object-store mapping is specified per verb below so a
cloud implementation is a mechanical fill-in, not a redesign:

| verb | POSIX (LocalFS) | S3 / GCS semantics |
|---|---|---|
| ``read_text`` | open/read | GET (strong read-after-write on both) |
| ``write_text_atomic`` | tmp + ``os.replace`` | plain PUT — a single PUT is already atomic (readers see the old or the new object, never a torn one), so the pointer swing needs no rename emulation |
| ``create_exclusive`` | ``O_CREAT\\|O_EXCL`` | conditional PUT: S3 ``If-None-Match: *`` (conditional writes, GA 2024), GCS ``x-goog-if-generation-match: 0`` — exactly-one-winner lease election |
| ``delete_if_unchanged`` | stat+unlink under the caller's race rules | conditional DELETE with ``If-Match: <etag>`` (GCS ``if-generation-match``) — stale-lease takeover without deleting a freshly renewed lease |
| ``delete`` | ``os.remove`` | DELETE (idempotent) |
| ``listdir`` | ``os.listdir`` | LIST with prefix + delimiter |
| ``exists`` | ``os.path.exists`` | HEAD |
| ``makedirs`` | ``os.makedirs`` | no-op (prefixes need no creation) |
| ``rmtree`` | ``shutil.rmtree`` | batched DELETE of the prefix listing |

Two protocol notes that make this sufficient (and why nothing stronger
is required):

- **Manifest versions are immutable**: ``v<N>.json`` files are written
  once and never mutated; only the tiny CURRENT pointer is replaced. A
  plain atomic PUT of CURRENT is therefore a linearization point on any
  store with atomic object replace — i.e. all of them.
- **The lease is advisory mutual exclusion with TTL takeover**: election
  needs put-if-absent; takeover of a stale lease needs
  delete-if-unchanged so two takeover racers cannot both "win" by
  deleting each other's fresh lease. LocalFS approximates the
  conditional delete with an mtime/content token, which is exact enough
  on one host (the sandbox case); S3's ETag conditional makes it exact
  across hosts.

Data files (parquet) are written by Spark through its own Hadoop
FileSystem layer and referenced by name in the manifest — they pass
through this interface only for vacuum deletes and for the per-bucket
directory listing that follows every epoch write and every fold
(``SnapshotTable.bucket_files``), which turns what Spark wrote into the
next manifest's file lists.

``get_fs(path)`` resolves an implementation by scheme; unknown schemes
raise with the table above as the implementation contract.
"""

from __future__ import annotations

import os
import shutil
from typing import Protocol
from urllib.parse import urlparse


class TableFS(Protocol):
    def read_text(self, path: str) -> str: ...

    def write_text_atomic(self, path: str, text: str) -> None: ...

    def create_exclusive(self, path: str, text: str) -> bool: ...

    def read_token(self, path: str) -> object: ...

    def delete_if_unchanged(self, path: str, token: object) -> bool: ...

    def delete(self, path: str, missing_ok: bool = True) -> None: ...

    def listdir(self, path: str) -> list[str]: ...

    def exists(self, path: str) -> bool: ...

    def makedirs(self, path: str) -> None: ...

    def rmtree(self, path: str) -> None: ...

    def walk_files(self, path: str) -> list[tuple[str, float, int]]: ...

    def prune_empty_dirs(self, path: str) -> None: ...


class LocalFS:
    """POSIX implementation (the sandbox's table roots)."""

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, text: str) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode())
        finally:
            os.close(fd)
        return True

    def read_token(self, path: str) -> object:
        """Opaque change token (ETag analogue): (mtime_ns, size)."""
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)

    def delete_if_unchanged(self, path: str, token: object) -> bool:
        """Best-effort conditional delete. One-host-exact via mtime_ns +
        size (the sandbox case); an object-store impl uses the ETag
        conditional and is exact across hosts."""
        try:
            if self.read_token(path) != token:
                return False
            os.unlink(path)
            return True
        except FileNotFoundError:
            return False

    def delete(self, path: str, missing_ok: bool = True) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            if not missing_ok:
                raise

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except (FileNotFoundError, NotADirectoryError):
            return []  # LIST of an absent/non-container prefix is empty

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def walk_files(self, path: str) -> list[tuple[str, float, int]]:
        """Recursive (full_path, mtime_sec, size_bytes) listing — one
        recursive LIST with metadata on an object store (vacuum's only
        data-side scan)."""
        out: list[tuple[str, float, int]] = []
        for dirpath, _dirs, fnames in os.walk(path):
            for fn in fnames:
                full = os.path.join(dirpath, fn)
                try:
                    st = os.stat(full)
                except FileNotFoundError:
                    continue
                out.append((full, st.st_mtime, st.st_size))
        return out

    def prune_empty_dirs(self, path: str) -> None:
        """Remove now-empty directories bottom-up — POSIX housekeeping;
        a no-op for object stores (prefixes have no existence)."""
        for dirpath, _dirs, fnames in os.walk(path, topdown=False):
            if dirpath != path and not os.listdir(dirpath):
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass


_LOCAL = LocalFS()


def get_fs(path: str) -> TableFS:
    """Resolve the TableFS for a table root by scheme."""
    scheme = urlparse(path).scheme
    if scheme in ("", "file") or (len(scheme) == 1):  # '' / file / C: drives
        return _LOCAL
    raise NotImplementedError(
        f"no TableFS implementation for scheme {scheme!r} ({path}); "
        "implement the verb table in milvus_cdc_spark/plans/fs.py "
        "(atomic PUT for CURRENT, conditional PUT/DELETE for the lease, "
        "prefix LIST for versions/pins)"
    )
