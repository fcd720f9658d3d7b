"""Snapshot catalog — Iceberg-snapshot semantics over parquet.

The north rule checkpoints each crawl round "to Iceberg snapshots so
any round is resumable with per-partition lineage and metrics". The
Iceberg runtime jar is not available in this environment, so this
module provides the same *contract* over plain parquet + JSON
manifests; on a cluster with Iceberg the calls map 1:1 to
`writeTo(...).createOrReplace()` / `option("snapshot-id", ...)`.

Layout per table:

    {root}/{table}/data/snap-{id}/part-*.parquet   immutable data files
    {root}/{table}/meta/snap-{id}.json             manifest: id, parent,
                                                   summary, schema, files
    {root}/{table}/CURRENT                         current snapshot id
                                                   (written via tmp+rename
                                                   = atomic commit point)

Properties mirrored from Iceberg:
- snapshot isolation: data is written before the manifest, the
  manifest before the CURRENT pointer flips; a crashed commit leaves
  the previous snapshot intact (write-audit-publish ordering),
- time travel: `read(spark, table, snapshot_id=...)`,
- history: `history(table)` walks manifests (parent chain + summary —
  this is the per-round fetch/dedup/politeness metrics record),
- expiration/compaction: `expire(table, keep_last=k)` removes old
  snapshots' data (the north star's "compacted frontier snapshots").

Snapshot ids are caller-supplied (the crawl engine numbers its rounds
on from CURRENT), keeping runs deterministic — no wall-clock ids.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .sidecar_fs import fs_for


class SnapshotCatalog:
    def __init__(self, root: str, fs=None):
        # all manifest/CURRENT/listing I/O goes through the same
        # pluggable FS as the bloom/WARC sidecars (sidecar_fs), so a
        # checkpoint root on s3://-style storage commits the same way
        # POSIX does; only the parquet data files go through Spark's
        # own (URI-capable) writer
        self.root = root
        self.fs = fs if fs is not None else fs_for(root)

    # -- paths ---------------------------------------------------------

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _data(self, table: str, sid: int) -> str:
        return os.path.join(self._tdir(table), "data", "snap-%d" % sid)

    def _meta(self, table: str, sid: int) -> str:
        return os.path.join(self._tdir(table), "meta", "snap-%d.json" % sid)

    def _current_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "CURRENT")

    # -- write path ------------------------------------------------------

    def commit(
        self,
        table: str,
        df: DataFrame,
        snapshot_id: int,
        summary: Optional[dict] = None,
    ) -> int:
        """Write-audit-publish: data files, then the manifest, then the
        atomic CURRENT flip."""
        data_dir = self._data(table, snapshot_id)
        df.write.mode("overwrite").parquet(data_dir)

        files = [
            f for f in self.fs.listdir(data_dir)
            if f.endswith(".parquet")
        ]
        # Re-committing an id that is already CURRENT (the stream's
        # at-least-once foreachBatch replay of an epoch) must not
        # create a self-referential parent chain: inherit the prior
        # parent.
        parent = self.current_id(table)
        if parent == snapshot_id:
            try:
                parent = self.manifest(table, snapshot_id).get("parent_id")
            except FileNotFoundError:
                parent = None
        manifest = {
            "snapshot_id": snapshot_id,
            "parent_id": parent,
            "summary": summary or {},
            "schema": df.schema.jsonValue(),
            "files": files,
            "n_files": len(files),
        }
        self.fs.makedirs(os.path.dirname(self._meta(table, snapshot_id)))
        self.fs.write_bytes_atomic(
            self._meta(table, snapshot_id),
            json.dumps(manifest).encode("utf-8"),
        )
        # the commit point: atomic publish of the CURRENT pointer
        self.fs.write_bytes_atomic(
            self._current_path(table), str(snapshot_id).encode("ascii")
        )
        return snapshot_id

    # -- read path -------------------------------------------------------

    def current_id(self, table: str) -> Optional[int]:
        try:
            return int(
                self.fs.read_bytes(self._current_path(table))
                .decode("ascii").strip()
            )
        except (OSError, ValueError):
            return None

    def read(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: Optional[int] = None,
        schema=None,
    ) -> DataFrame:
        sid = self.current_id(table) if snapshot_id is None else snapshot_id
        if sid is None:
            raise FileNotFoundError("no current snapshot for %r" % table)
        if not self.fs.exists(self._meta(table, sid)):
            raise FileNotFoundError(
                "snapshot %d of %r does not exist (expired?)" % (sid, table)
            )
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._data(table, sid))

    def manifest(self, table: str, snapshot_id: int) -> dict:
        data = self.fs.read_bytes(self._meta(table, snapshot_id))
        return json.loads(data.decode("utf-8"))

    def history(self, table: str) -> list:
        """Manifests newest-first, walking parent ids from CURRENT.
        Stops on a repeated id so a cyclic parent chain (from a legacy
        re-commit of the same id) can never loop forever."""
        out = []
        seen = set()
        sid = self.current_id(table)
        while (
            sid is not None
            and sid not in seen
            and self.fs.exists(self._meta(table, sid))
        ):
            seen.add(sid)
            m = self.manifest(table, sid)
            out.append(m)
            sid = m.get("parent_id")
        return out

    # -- maintenance -------------------------------------------------------

    def expire(self, table: str, keep_last: int = 2) -> list:
        """Drop data (and manifests) of all but the newest `keep_last`
        snapshots — frontier compaction. Returns expired ids."""
        hist = self.history(table)
        expired = []
        for m in hist[keep_last:]:
            sid = m["snapshot_id"]
            self.fs.remove_tree(self._data(table, sid))
            try:
                self.fs.remove(self._meta(table, sid))
            except (FileNotFoundError, OSError):
                pass
            expired.append(sid)
        return expired
