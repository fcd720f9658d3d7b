"""Pluggable storage for the seen-filter's bloom sidecars.

plans/seen.py used to read/write sidecars with bare ``open`` /
``np.load`` / ``os.replace``, which assumes every executor shares one
POSIX filesystem. On a real cluster the checkpoint lives on S3/HDFS,
so all sidecar I/O now goes through this tiny interface:

- ``read_bytes`` / ``read_range`` / ``size`` / ``listdir`` /
  ``write_bytes_atomic`` / ``remove`` / ``makedirs``
- implementations must be PICKLABLE: they ship inside the seen gate's
  mapInArrow closure to executors, which read blooms and shard row
  groups and write data files, blooms and records through them.

``LocalFS`` is the default (atomic via tmp-file + ``os.replace``).
``FsspecFS`` adapts any fsspec protocol (s3://, hdfs://, gs://, ...)
when the optional ``fsspec`` package is importable — object stores
have atomic single-object PUT, so plain write-then-rename semantics
reduce to one put. ``fs_for(path)`` picks by URL scheme.

Tests exercise the abstraction with a latency-injecting local shim
(tests/test_seen_scale.py) including the executor probe path.
"""

from __future__ import annotations

import os
import uuid

__all__ = ["LocalFS", "FsspecFS", "fs_for"]


class LocalFS:
    """POSIX sidecar storage; atomicity via tmp + rename."""

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        """Ranged read — seek + read exactly `length` bytes. The WARC
        CDXJ reader uses this to fetch single gzip members without
        scanning the archive."""
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(length)

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        tmp = os.path.join(
            os.path.dirname(path), ".tmp-%s" % uuid.uuid4().hex[:8]
        )
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list:
        """Entry NAMES (not paths) in a directory; [] if absent."""
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def remove_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


class FsspecFS:
    """Sidecar storage over any fsspec protocol. Holds only the
    protocol + options (picklable); the filesystem object is created
    lazily on each side of the cluster."""

    def __init__(self, protocol: str, **storage_options):
        self.protocol = protocol
        self.storage_options = storage_options
        self._fs = None

    def _filesystem(self):
        if self._fs is None:
            import fsspec

            self._fs = fsspec.filesystem(
                self.protocol, **self.storage_options
            )
        return self._fs

    def __getstate__(self):
        return {
            "protocol": self.protocol,
            "storage_options": self.storage_options,
        }

    def __setstate__(self, state):
        self.protocol = state["protocol"]
        self.storage_options = state["storage_options"]
        self._fs = None

    def read_bytes(self, path: str) -> bytes:
        return self._filesystem().cat_file(path)

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        # object stores serve this as one HTTP Range GET
        return self._filesystem().cat_file(
            path, start=offset, end=offset + length
        )

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        # single-object PUT is atomic on object stores; for fs-like
        # protocols fsspec's pipe_file is a create-then-publish
        self._filesystem().pipe_file(path, data)

    def size(self, path: str) -> int:
        return self._filesystem().size(path)

    def remove(self, path: str) -> None:
        self._filesystem().rm_file(path)

    def makedirs(self, path: str) -> None:
        self._filesystem().makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return self._filesystem().exists(path)

    def listdir(self, path: str) -> list:
        fs = self._filesystem()
        if not fs.exists(path):
            return []
        return sorted(
            p.rstrip("/").rsplit("/", 1)[-1]
            for p in fs.ls(path, detail=False)
        )

    def remove_tree(self, path: str) -> None:
        fs = self._filesystem()
        if fs.exists(path):
            fs.rm(path, recursive=True)


def fs_for(path: str):
    """Pick a sidecar FS by URL scheme: bare paths and file:// are
    LocalFS; anything else needs fsspec."""
    if "://" not in path or path.startswith("file://"):
        return LocalFS()
    return FsspecFS(path.split("://", 1)[0])
