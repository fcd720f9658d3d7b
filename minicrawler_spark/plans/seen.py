"""Sharded URL-seen filter with bloom-sidecar partition pruning —
the 10^10-URL scale path (north rule; SURVEY.md §4).

Layout: the seen table is parquet (Iceberg in production), hash-
partitioned into `n_shards` by `pmod(url_hash, n_shards)` under
`shard=K/`, one file per add() that touched the shard
(`seen-g{gen}.parquet`), each sorted by url_hash. Next to the data
lives a sidecar directory `_blooms/` holding ONE immutable bloom
bitset file per shard (`shard{K}-g{gen}-m{bits}.npy`) plus a tiny
`manifest.json` naming the current generation — the Iceberg-puffin-
file analogue. Files that Spark wrote under `shard=K/` (older
checkpoints) read as part of every generation.

Scale invariants (no driver-side hash collection anywhere):

- `add()` is the whole URL-seen gate in ONE Spark pass: the
  candidates are hash-partitioned on their shard (at most one task
  per core, each shard inside one task) and sorted by (shard,
  url_hash); one mapInArrow task per partition streams its Arrow
  batches and, for each shard it holds, probes the shard's bloom,
  checks the bloom positives exactly against the shard's parquet,
  streams out the unseen rows, then writes the new hashes as one
  sorted parquet file, the shard's next bloom generation and a small
  record (new keys, bloom size, bloom file). The driver checkpoints
  the unseen rows and turns the ≤ n_shards records into the next
  manifest. Driver memory is O(n_shards), independent of key count.
- The exact check reads only the shards that have bloom positives,
  and of those only the row groups whose url_hash min/max can hold
  one. The files are sorted and the input ascends within a shard, so
  a row group is read at most once per add, and a task holds at most
  one row group (8192 hashes) per file of the shard it is on. It
  reads only files of the published generation, never a task's own
  unpublished output. Memory thus grows with the files per shard
  (one per add that touched it) until a compaction merges them.
- File names derive from (generation the add started at, shard), so
  a retried task or an add re-run after a crash rewrites the same
  bytes; add() first removes what an unpublished add left behind.
  At ~1% bloom fpp (10 bits/key, k=7; tests/test_seen_scale.py
  measures it) almost every novel URL skips the parquet read.
- When a shard outgrows its capacity (n_keys · bits_per_key >
  m_bits), its bloom is REBUILT distributed from that shard's
  parquet alone (partition pruning on the shard column): mapInPandas
  partials → one bitset row per task → OR. Sizes double until the
  load factor fits, so fpp stays at the design point as the table
  grows.
- `novel()` is the same pass with the writes off. A filter opened
  `as_of` an older generation (a replayed stream epoch whose add
  already published) runs that pass too, checking exactly against
  only the data of that generation, so the replay gets the same rows.

The manifest is re-read on construction, so a SeenFilter pointed at
an existing checkpoint resumes exactly (crawl --resume path).
"""

from __future__ import annotations

import io
import json
import os
import re
from typing import Dict, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sidecar_fs import fs_for

__all__ = ["SeenFilter"]

# Kirsch-Mitzenmacher double hashing: idx_i = h1 + i*h2 (mod m), with
# h1/h2 drawn through a splitmix64 finalizer. The finalizer is load-
# bearing: with PLAIN multiplicative h1/h2 every probe index is linear
# in the key mod m, so two keys congruent mod m collide on ALL k
# positions at once and fpp degenerates to ~n/m (measured 9.6% at
# n=2M, m=2^21·10 — tests/test_seen_scale.py pins the fixed rate).
_SM_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_C2 = np.uint64(0x94D049BB133111EB)


def _splitmix(z: np.ndarray) -> np.ndarray:
    z = (z + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(1)
    z = (z ^ (z >> np.uint64(30))) * _SM_C1
    z = (z ^ (z >> np.uint64(27))) * _SM_C2
    return z ^ (z >> np.uint64(31))


def _bloom_indexes(hashes_u64: np.ndarray, k: int, m_bits: int):
    """Yield k index arrays (m_bits is a power of two)."""
    mask = np.uint64(m_bits - 1)
    h1 = _splitmix(hashes_u64)
    h2 = _splitmix(hashes_u64 ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    for i in range(k):
        yield (h1 + np.uint64(i) * h2) & mask


def _set_bits(bits: np.ndarray, hashes_u64: np.ndarray, k: int,
              m_bits: int) -> None:
    for idx in _bloom_indexes(hashes_u64, k, m_bits):
        # bitwise_or.at: plain fancy-index |= drops duplicate word
        # indices (numpy buffering) -> false negatives
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )


def _test_bits(bits: np.ndarray, hashes_u64: np.ndarray, k: int,
               m_bits: int) -> np.ndarray:
    ok = np.ones(hashes_u64.size, dtype=bool)
    for idx in _bloom_indexes(hashes_u64, k, m_bits):
        ok &= (
            (bits[(idx >> np.uint64(6)).astype(np.int64)]
             >> (idx & np.uint64(63))) & np.uint64(1)
        ).astype(bool)
    return ok


# executor-local cache of sidecar bitsets; a published file name is
# immutable — every add() writes under a generation past the
# published one and stamps m_bits into the name, and a task only ever
# loads published files, so a plain name-keyed dict is sound
_BLOOM_CACHE: Dict[str, np.ndarray] = {}


def _load_bloom(fs, path: str) -> np.ndarray:
    bits = _BLOOM_CACHE.get(path)
    if bits is None:
        bits = np.load(io.BytesIO(fs.read_bytes(path)))
        if len(_BLOOM_CACHE) > 64:  # bound executor memory
            _BLOOM_CACHE.clear()
        _BLOOM_CACHE[path] = bits
    return bits


def _bloom_name(shard: int, gen: int, m_bits: int) -> str:
    return "shard%05d-g%08d-m%d.npy" % (shard, gen, m_bits)


def _record_name(shard: int, gen: int) -> str:
    return "shard%05d-g%08d.json" % (shard, gen)


def _data_name(gen: int) -> str:
    return "seen-g%08d.parquet" % gen


_RECORD_RE = re.compile(r"shard(\d+)-g(\d+)\.json")
_DATA_RE = re.compile(r"seen-g(\d+)\.parquet")
# rows per row group of a shard file (64 KiB of hashes): the exact
# check reads only the groups whose min/max can hold a bloom positive
# and holds at most one group per file at a time
_ROW_GROUP = 1 << 13


def _read_group(pf, g: int) -> np.ndarray:
    return pf.read_row_group(g, columns=["url_hash"]).column(0).to_numpy()


class _RangeFile(io.RawIOBase):
    """Seekable read-only view of one file through the sidecar FS's
    ranged reads, so pyarrow fetches a parquet footer and the row
    groups it is asked for, not the whole file."""

    def __init__(self, fs, path: str):
        self.fs, self.path, self.pos, self.n = fs, path, 0, fs.size(path)

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def tell(self) -> int:
        return self.pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        self.pos = (0, self.pos, self.n)[whence] + offset
        return self.pos

    def readinto(self, buf) -> int:
        data = self.fs.read_range(
            self.path, self.pos, max(0, min(len(buf), self.n - self.pos))
        )
        buf[:len(data)] = data
        self.pos += len(data)
        return len(data)


def _gate_task(fs, path: str, blooms: Dict[int, tuple], gen: int,
               n_shards: int, k: int, default_m: int, write: bool):
    """The mapInArrow function of one gate pass. `blooms` maps each
    shard of the published manifest (generation `gen`) to its (bloom
    file, m_bits). Rows arrive sorted by (shard, url_hash); each
    shard's rows are one run through the task's batches."""
    blooms_dir = os.path.join(path, "_blooms")

    class Shard:
        """One shard's share of the task: probe, exact check and, at
        the end of its run, the writes."""

        def __init__(self, shard: int):
            self.shard = shard
            self.dir = os.path.join(path, "shard=%d" % shard)
            entry = blooms.get(shard)
            self.bits = (None if entry is None else
                         _load_bloom(fs, os.path.join(blooms_dir, entry[0])))
            self.m_bits = default_m if entry is None else entry[1]
            self.groups = None    # [(ParquetFile, group, min, max)]
            self.cache = {}       # index in groups -> hashes
            self.new = []

        def stored(self, sus: np.ndarray) -> np.ndarray:
            """Which of the ascending bloom positives `sus` the shard's
            published parquet holds."""
            import pyarrow.parquet as pq

            if self.groups is None:
                self.groups = []
                for name in fs.listdir(self.dir):
                    m = _DATA_RE.fullmatch(name)
                    if (not name.endswith(".parquet") or name[0] in "._"
                            or (m and int(m.group(1)) > gen)):
                        continue
                    pf = pq.ParquetFile(
                        _RangeFile(fs, os.path.join(self.dir, name))
                    )
                    for g in range(pf.metadata.num_row_groups):
                        st = pf.metadata.row_group(g).column(0).statistics
                        if st is not None and st.has_min_max:
                            self.groups.append((pf, g, st.min, st.max))
                        else:
                            self.groups.append((pf, g, -2**63, 2**63 - 1))
            lo, hi = int(sus[0]), int(sus[-1])
            found = np.zeros(sus.size, dtype=bool)
            cache = {}
            for key, (pf, g, gmin, gmax) in enumerate(self.groups):
                if gmax < lo:
                    continue
                hashes = self.cache.get(key)
                i = np.searchsorted(sus, gmin, "left")
                j = np.searchsorted(sus, gmax, "right")
                if i < j:
                    if hashes is None:
                        hashes = _read_group(pf, g)
                    found[i:j] |= np.isin(sus[i:j], hashes)
                # the input ascends, so a later run of the shard starts
                # at `hi` or above: keep only the groups that reach it
                # (at most one per sorted file)
                if hashes is not None and gmax >= hi:
                    cache[key] = hashes
            self.cache = cache
            return found

        def probe(self, hs: np.ndarray) -> np.ndarray:
            """Unseen mask of an ascending run of the shard's hashes."""
            if self.bits is None:
                unseen = np.ones(hs.size, dtype=bool)
            else:
                unseen = ~_test_bits(self.bits, hs.view(np.uint64), k,
                                     self.m_bits)
                pos = ~unseen
                if pos.any():
                    unseen[pos] = ~self.stored(hs[pos])
            if write:
                self.new.append(hs[unseen])
            return unseen

        def finish(self) -> None:
            """Record, data file and next bloom generation, each under
            a name fixed by (gen + 1, shard). The record goes first, so
            every data file an unpublished add leaves has a record that
            names it."""
            import pyarrow as pa
            import pyarrow.parquet as pq

            new = np.unique(np.concatenate(self.new)) if self.new else ()
            if not len(new):
                return
            bits = (np.zeros(self.m_bits // 64, dtype=np.uint64)
                    if self.bits is None else self.bits.copy())
            _set_bits(bits, new.view(np.uint64), k, self.m_bits)
            bloom = _bloom_name(self.shard, gen + 1, self.m_bits)
            fs.write_bytes_atomic(
                os.path.join(blooms_dir, _record_name(self.shard, gen + 1)),
                json.dumps({"n_new": int(new.size), "m_bits": self.m_bits,
                            "file": bloom}).encode(),
            )
            fs.makedirs(self.dir)
            buf = io.BytesIO()
            # random 64-bit hashes neither compress nor dictionary-
            # encode: plain pages, and no Arrow schema in the footer
            pq.write_table(pa.table({"url_hash": new}), buf,
                           row_group_size=_ROW_GROUP, compression="none",
                           use_dictionary=False, store_schema=False)
            fs.write_bytes_atomic(os.path.join(self.dir, _data_name(gen + 1)),
                                  buf.getvalue())
            buf = io.BytesIO()
            np.save(buf, bits)
            fs.write_bytes_atomic(os.path.join(blooms_dir, bloom),
                                  buf.getvalue())

    def gate(batches):
        import pyarrow as pa

        cur = None
        for batch in batches:
            hs = batch.column("url_hash").to_numpy(zero_copy_only=False)
            if not hs.size:
                continue
            shards = hs % n_shards
            cuts = np.flatnonzero(np.diff(shards)) + 1
            keep = np.empty(hs.size, dtype=bool)
            for a, b in zip(np.r_[0, cuts], np.r_[cuts, hs.size]):
                if cur is None or cur.shard != shards[a]:
                    if cur is not None:
                        cur.finish()
                    cur = Shard(int(shards[a]))
                keep[a:b] = cur.probe(hs[a:b])
            yield batch.filter(pa.array(keep))
        if cur is not None:
            cur.finish()

    return gate


class SeenFilter:
    def __init__(self, spark: SparkSession, path: str, n_shards: int = 16,
                 bloom_bits_per_key: int = 10,
                 initial_shard_bits: int = 1 << 23, fs=None,
                 as_of: Optional[int] = None):
        """`as_of` is the generation the caller's next batch started
        from (a stream epoch records `gen` with its commit). When a
        later generation is published, that batch's add already ran
        (a replayed epoch): add() and novel() then answer as the set
        stood at `as_of`, and add() writes nothing."""
        self.spark = spark
        self.path = path
        self.n_shards = n_shards
        self.bits_per_key = bloom_bits_per_key
        # k ≈ 0.7·(m/n) minimizes fpp; 10 bits/key, k=7 -> fpp ≈ 0.8%
        self.k = max(2, int(round(0.7 * bloom_bits_per_key)))
        # _bloom_indexes masks with m_bits-1, so m_bits MUST be a
        # power of two — round any other request up rather than
        # silently mis-probing
        self.initial_shard_bits = 1 << max(6, int(initial_shard_bits - 1)
                                           .bit_length())
        # sidecar storage: picklable FS (ships in the gate's closure);
        # defaults by URL scheme — POSIX paths stay local, s3://...
        # routes through fsspec
        self.fs = fs if fs is not None else fs_for(path)
        self._blooms_dir = os.path.join(path, "_blooms")
        # manifest: shard(str) -> {"m_bits", "n_keys", "file"}
        self._manifest: Dict[str, dict] = {}
        self._gen = 0
        self._load_manifest()
        self._as_of = as_of

    # -- manifest ------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self._blooms_dir, "manifest.json")

    def _load_manifest(self) -> None:
        try:
            d = json.loads(self.fs.read_bytes(self._manifest_path()))
            self._manifest = d["shards"]
            self._gen = d["gen"]
        except (OSError, KeyError, ValueError):
            self._manifest = {}
            self._gen = 0

    def _save_manifest(self) -> None:
        self.fs.write_bytes_atomic(
            self._manifest_path(),
            json.dumps(
                {"gen": self._gen, "shards": self._manifest}
            ).encode(),
        )
        self._sweep()

    def _sweep(self) -> None:
        """Remove from `_blooms/` every bloom the manifest does not name
        and every record. A record past the manifest's generation is
        left by an add that never published, so its data file goes
        too."""
        live = {m["file"] for m in self._manifest.values()}
        for name in self.fs.listdir(self._blooms_dir):
            rec = _RECORD_RE.fullmatch(name)
            if rec and int(rec.group(2)) > self._gen:
                self._remove(os.path.join(
                    self.path, "shard=%d" % int(rec.group(1)),
                    _data_name(int(rec.group(2))),
                ))
            if rec or (name.endswith(".npy") and name not in live):
                self._remove(os.path.join(self._blooms_dir, name))

    def _remove(self, path: str) -> None:
        try:
            self.fs.remove(path)
        except OSError:
            pass

    # -- the gate --------------------------------------------------------

    def _gate(self, rows: DataFrame, write: bool) -> DataFrame:
        """One pass over `rows` (with url_hash): each shard inside one
        task, sorted by (shard, url_hash), at most one task per core.
        The exact check reads the data of generation `as_of` (the
        current blooms hold a superset of its keys)."""
        gen = self._gen if self._as_of is None else min(self._as_of,
                                                        self._gen)
        shard = F.pmod("url_hash", F.lit(self.n_shards))
        parts = min(self.spark.sparkContext.defaultParallelism,
                    self.n_shards)
        blooms = {int(s): (m["file"], int(m["m_bits"]))
                  for s, m in self._manifest.items()}
        task = _gate_task(self.fs, self.path, blooms, gen,
                          self.n_shards, self.k, self.initial_shard_bits,
                          write)
        return (rows.repartition(parts, shard)
                .sortWithinPartitions(shard, "url_hash")
                .mapInArrow(task, rows.schema))

    def add(self, hashed: DataFrame) -> DataFrame:
        """The URL-seen gate: returns the rows of `hashed` whose url_hash
        was not seen (checkpointed; a hash twice in the batch keeps both
        rows) and makes their hashes durable. One Spark job; the driver
        reads ≤ n_shards small records, never a hash."""
        if self._as_of is not None and self._as_of < self._gen:
            # this batch's add already published: the rows it returned
            return self._gate(hashed, write=False).localCheckpoint(eager=True)
        self._as_of = None
        self.fs.makedirs(self._blooms_dir)
        self._sweep()
        novel = self._gate(hashed, write=True).localCheckpoint(eager=True)
        gen = self._gen + 1
        records = {}
        for name in self.fs.listdir(self._blooms_dir):
            rec = _RECORD_RE.fullmatch(name)
            if rec and int(rec.group(2)) == gen:
                records[int(rec.group(1))] = json.loads(self.fs.read_bytes(
                    os.path.join(self._blooms_dir, name)
                ))
        if not records:
            return novel
        grow = []
        for s, rec in sorted(records.items()):
            old = self._manifest.get(str(s))
            n_keys = rec["n_new"] + (int(old["n_keys"]) if old else 0)
            self._manifest[str(s)] = {
                "m_bits": rec["m_bits"], "n_keys": n_keys, "file": rec["file"],
            }
            if n_keys * self.bits_per_key > rec["m_bits"]:
                grow.append(s)
        self._gen = gen
        self._save_manifest()
        for s in grow:
            self._rebuild_shard(s)
        if grow:
            self._save_manifest()
        return novel

    def _rebuild_shard(self, shard: int) -> None:
        """Distributed re-derivation of one shard's bloom from its
        parquet alone, at a size that fits the observed key count.
        Partials are one bitset row per task; the driver only ORs."""
        meta = self._manifest[str(shard)]
        n_keys = int(meta["n_keys"])
        m_bits = int(meta["m_bits"])
        while n_keys * self.bits_per_key > m_bits:
            m_bits *= 2
        k = self.k

        shard_df = (
            self.spark.read.parquet(self.path)
            .filter(F.col("shard") == shard)   # partition-pruned scan
            .select("url_hash")
        )

        def partial(batches):
            import pandas as pd

            bits = np.zeros(m_bits // 64, dtype=np.uint64)
            n = 0
            for pdf in batches:
                hs = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
                _set_bits(bits, hs, k, m_bits)
                n += hs.size
            yield pd.DataFrame({"n": [n], "payload": [bits.tobytes()]})

        rows = shard_df.mapInPandas(
            partial, "n long, payload binary"
        ).collect()  # one fixed-size row per task
        bits = np.zeros(m_bits // 64, dtype=np.uint64)
        for row in rows:
            bits |= np.frombuffer(row["payload"], dtype=np.uint64)
        # same generation, new m_bits: a fresh name
        fname = _bloom_name(shard, self._gen, m_bits)
        buf = io.BytesIO()
        np.save(buf, bits)
        self.fs.write_bytes_atomic(
            os.path.join(self._blooms_dir, fname), buf.getvalue()
        )
        meta.update(m_bits=m_bits, file=fname)

    # -- read path ----------------------------------------------------

    def novel(self, candidates: DataFrame) -> DataFrame:
        """Candidates (with url_hash) not yet in the seen set, lazily:
        the gate's pass with its writes off."""
        return self._gate(candidates, write=False)

    @property
    def gen(self) -> int:
        """The published generation."""
        return self._gen

    @property
    def count(self) -> int:
        return sum(int(m["n_keys"]) for m in self._manifest.values())
