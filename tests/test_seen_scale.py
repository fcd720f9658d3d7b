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


def test_spark_written_shard_files_read_as_published(spark, tmp_path):
    """A checkpoint whose shard files Spark wrote (`partitionBy("shard")`,
    as older versions did: part-* names, _SUCCESS and .crc files next
    to them) reads as published: the exact check finds its hashes."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "seen")
    sf = SeenFilter(spark, path, n_shards=4)
    sf.add(_hashed(spark, range(500)))
    for f in glob.glob(os.path.join(path, "shard=*", "seen-g*.parquet")):
        os.remove(f)
    (_hashed(spark, range(500))
     .withColumn("shard", F.pmod("url_hash", F.lit(4)))
     .write.mode("append").partitionBy("shard").parquet(path))

    sf2 = SeenFilter(spark, path, n_shards=4)
    assert sf2.novel(_hashed(spark, range(500))).count() == 0
    got = sf2.add(_hashed(spark, range(400, 600)))
    assert sorted(r[0] for r in got.collect()) == list(range(500, 600))
    assert sf2.count == 600


class _SlowShimFS:
    """Latency-injecting 'remote' sidecar FS: LocalFS semantics, but
    every call ticks an op counter and refuses the POSIX shortcuts
    (no open()/np.load path can bypass it — seen.py only sees the
    interface). Picklable, like a real object-store client; the
    executor-side gate path goes through __getstate__. With `log`,
    every atomic publish, executor-side ones included, also appends
    its path to that file."""

    def __init__(self, delay=0.002, log=None):
        self.delay = delay
        self.log = log
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
        if self.log is not None:
            with open(self.log, "a") as f:
                f.write(path + "\n")
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

    def size(self, path):
        self._tick("read")
        return os.path.getsize(path)

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
        return {"delay": self.delay, "log": self.log}

    def __setstate__(self, state):
        self.__init__(state["delay"], state["log"])


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
    caches key by name). Every atomic publish, the gate tasks' and the
    driver's, targets a fresh name, and bloom names carry m_bits."""
    path = str(tmp_path / "seen")
    log = str(tmp_path / "writes.log")
    shim = _SlowShimFS(delay=0, log=log)
    sf = SeenFilter(spark, path, n_shards=2, initial_shard_bits=1024,
                    fs=shim)
    sf.add(_hashed(spark, range(1000)))   # write + rebuild same add()
    sf.add(_hashed(spark, range(1000, 1200)))
    writes = [p for p in open(log).read().split()
              if os.path.basename(p) != "manifest.json"]
    assert len(writes) == len(set(writes)), writes
    blooms = [p for p in writes if p.endswith(".npy")]
    assert len(blooms) == 2 + 2 + 2  # add, rebuild, add: per shard
    for p in blooms:
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


def _files(path, pattern):
    return sorted(os.path.relpath(p, path)
                  for p in glob.glob(os.path.join(path, pattern)))


def _sidecars(path):
    d = os.path.join(path, "_blooms")
    return {name: open(os.path.join(d, name), "rb").read()
            for name in os.listdir(d)}


def test_add_is_independent_of_input_partitioning(spark, tmp_path):
    """add() runs one task per core over the shard partitions; each
    shard must still land in exactly one task. The same hashes added
    through a 1-partition and a 32-partition input give byte-identical
    sidecars and manifests, and every add() writes each touched shard
    exactly once: one data file and one bloom of the add's
    generation."""
    n_shards = 16  # > the session's 8 cores: tasks hold several shards
    assert spark.sparkContext.defaultParallelism < n_shards
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
        for gen, batch in enumerate(batches, 1):
            sf.add(_hashed(spark, batch).repartition(n_parts))
            touched = sorted({int(v) % n_shards for v in batch})
            assert _files(path, "shard=*/seen-g%08d.parquet" % gen) == sorted(
                "shard=%d/seen-g%08d.parquet" % (s, gen) for s in touched)
            assert _files(path, "_blooms/shard*-g%08d-*.npy" % gen) == [
                "_blooms/shard%05d-g%08d-m%d.npy" % (s, gen, 1 << 16)
                for s in touched]
        filters[n_parts] = sf

    one, many = filters[1], filters[32]
    assert one._manifest == many._manifest
    assert one._gen == many._gen == len(batches)
    assert one.count == many.count == sum(len(set(b)) for b in batches)
    assert _sidecars(one.path) == _sidecars(many.path)


def test_add_matches_python_set(spark, tmp_path):
    """Seeded differential of the gate against a Python set: add()
    returns exactly the rows whose hash no earlier add() saw (a hash
    twice in one batch keeps both rows), and `count` is the set's
    size. Blooms at 2 bits per key send false positives to the exact
    check, a 256-bit start forces growth rebuilds, and 1- and
    32-partition inputs agree."""
    rng = np.random.default_rng(2024)
    pool = rng.integers(-2**63, 2**63 - 1, size=1500, dtype=np.int64)
    batches = [rng.choice(pool, size=n) for n in (300, 200, 900, 400)]
    fresh = rng.integers(-2**63, 2**63 - 1, size=300, dtype=np.int64)
    for n_parts in (1, 32):
        sf = SeenFilter(spark, str(tmp_path / ("seen%d" % n_parts)),
                        n_shards=4, bloom_bits_per_key=2,
                        initial_shard_bits=256)
        seen = set()
        for i, batch in enumerate(batches):
            rows = spark.createDataFrame(
                [(int(h), j) for j, h in enumerate(batch)],
                "url_hash long, row int",
            ).repartition(n_parts)
            got = sorted((r["url_hash"], r["row"])
                         for r in sf.add(rows).collect())
            want = sorted((int(h), j) for j, h in enumerate(batch)
                          if int(h) not in seen)
            assert got == want, (n_parts, i)
            seen.update(int(h) for h in batch)
            assert sf.count == len(seen)
        assert all(int(m["m_bits"]) > 256 for m in sf._manifest.values())
        # bloom positives among the never-added hashes: the exact
        # check, not the bloom, keeps them
        false_pos = 0
        for h in fresh:
            meta = sf._manifest[str(int(h) % 4)]
            bits = np.load(os.path.join(sf._blooms_dir, meta["file"]))
            false_pos += int(_test_bits(bits, np.array([h]).view(np.uint64),
                                        sf.k, int(meta["m_bits"]))[0])
        assert false_pos > 0
        probe = np.concatenate([pool[:700], fresh])
        got = sf.novel(_hashed(spark, probe).repartition(n_parts))
        assert sorted(r[0] for r in got.select("url_hash").collect()) == \
            sorted(int(h) for h in probe if int(h) not in seen)
        assert sf.novel(_hashed(spark, sorted(seen))).count() == 0


def test_add_rerun_after_failed_publish(spark, tmp_path, monkeypatch):
    """An add() whose manifest save fails has written its data files,
    blooms and records under the next generation, unpublished. The
    same batch through a fresh SeenFilter on the same path returns
    every unseen row again (a task never counts unpublished output as
    seen), leaves one data file per shard and generation, and ends
    with sidecars byte-identical to a clean run's."""
    rng = np.random.default_rng(5)
    first = rng.integers(-2**63, 2**63 - 1, size=2000, dtype=np.int64)
    second = np.concatenate(
        [first[:500], rng.integers(-2**63, 2**63 - 1, size=1500)])
    want = sorted(int(h) for h in set(second.tolist()) - set(first.tolist()))

    clean = str(tmp_path / "clean")
    sf = SeenFilter(spark, clean, n_shards=4)
    sf.add(_hashed(spark, first))
    sf.add(_hashed(spark, second))

    path = str(tmp_path / "retried")
    SeenFilter(spark, path, n_shards=4).add(_hashed(spark, first))
    save = SeenFilter._save_manifest
    calls = []

    def fail_once(self):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("injected manifest save failure")
        return save(self)

    monkeypatch.setattr(SeenFilter, "_save_manifest", fail_once)
    with pytest.raises(OSError):
        SeenFilter(spark, path, n_shards=4).add(_hashed(spark, second))
    assert _files(path, "shard=*/seen-g00000002.parquet")  # unpublished
    sf2 = SeenFilter(spark, path, n_shards=4)
    assert sf2._gen == 1
    got = sorted(r[0] for r in sf2.add(_hashed(spark, second))
                 .select("url_hash").collect())
    assert got == want
    assert sf2.count == sf.count == 2000 + len(want)
    assert _files(path, "shard=*/*.parquet") == \
        _files(clean, "shard=*/*.parquet")
    assert _sidecars(path) == _sidecars(clean)

    # a different batch after a failed publish (a crawl restarted on
    # other seeds): the shards it does not touch keep no file of the
    # unpublished generation, which would otherwise read as published
    third = rng.integers(-2**63, 2**63 - 1, size=400, dtype=np.int64)
    del calls[:]
    with pytest.raises(OSError):
        SeenFilter(spark, path, n_shards=4).add(_hashed(spark, third))
    assert len(_files(path, "shard=*/seen-g00000003.parquet")) == 4
    only0 = [int(h) for h in third if int(h) % 4 == 0]
    SeenFilter(spark, path, n_shards=4).add(_hashed(spark, only0))
    assert _files(path, "shard=*/seen-g00000003.parquet") == \
        ["shard=0/seen-g00000003.parquet"]
    assert sorted(os.listdir(os.path.join(path, "_blooms"))) == sorted(
        ["manifest.json"] + [m["file"] for m in sf2._manifest.values()
                             if not m["file"].startswith("shard00000")]
        + [SeenFilter(spark, path, n_shards=4)._manifest["0"]["file"]])


def test_add_as_of_replays_a_published_add(spark, tmp_path):
    """A filter opened `as_of` the generation a batch started from,
    after that batch's add published (a replayed stream epoch), returns
    the rows the add returned and writes nothing; opened at the current
    generation, the same batch is all seen."""
    rng = np.random.default_rng(8)
    first = rng.integers(-2**63, 2**63 - 1, size=2000, dtype=np.int64)
    second = np.concatenate(
        [first[:500], rng.integers(-2**63, 2**63 - 1, size=1500)])
    want = sorted(int(h) for h in set(second.tolist()) - set(first.tolist()))

    path = str(tmp_path / "seen")
    SeenFilter(spark, path, n_shards=4, as_of=0).add(_hashed(spark, first))
    sf = SeenFilter(spark, path, n_shards=4, as_of=1)
    got = sorted(r[0] for r in sf.add(_hashed(spark, second)).collect())
    assert got == want and sf.gen == 2
    files, sidecars = _files(path, "shard=*/*"), _sidecars(path)

    replay = SeenFilter(spark, path, n_shards=4, as_of=1)
    got = sorted(r[0] for r in replay.add(_hashed(spark, second)).collect())
    assert got == want
    assert replay.gen == 2 and replay.count == sf.count
    assert _files(path, "shard=*/*") == files
    assert _sidecars(path) == sidecars
    assert SeenFilter(spark, path, n_shards=4, as_of=2).add(
        _hashed(spark, second)).count() == 0


def test_exact_check_reads_each_row_group_once(spark, tmp_path,
                                               monkeypatch):
    """The gate task over shard files of several row groups: bloom
    positives confined to a narrow hash range read only the groups
    that can hold them, positives across the whole range read every
    group once, and between output batches the task holds at most one
    group per file. Runs the task function in this process, where its
    group reads can be counted."""
    import weakref

    import pyarrow as pa
    import pyarrow.parquet as pq

    from minicrawler_spark.plans import seen as seen_mod

    rng = np.random.default_rng(3)
    path = str(tmp_path / "seen")
    sf = SeenFilter(spark, path, n_shards=1)
    stored = []
    for _ in range(3):
        batch = rng.integers(-2**63, 2**63 - 1, size=40000, dtype=np.int64)
        sf.add(_hashed(spark, batch))
        stored.append(batch)
    stored = np.sort(np.concatenate(stored))
    n_groups = sum(pq.ParquetFile(f).metadata.num_row_groups
                   for f in glob.glob(os.path.join(path, "shard=0", "*")))
    assert n_groups == 3 * 5

    reads, live = [], []
    real = seen_mod._read_group

    def counted(pf, g):
        hashes = real(pf, g)
        reads.append((id(pf), g))
        live.append(weakref.ref(hashes))
        return hashes

    monkeypatch.setattr(seen_mod, "_read_group", counted)
    blooms = {int(s): (m["file"], int(m["m_bits"]))
              for s, m in sf._manifest.items()}

    def run(lo, hi):
        known = stored[(stored >= lo) & (stored <= hi)][::7]
        fresh = rng.integers(lo, hi, size=3 * known.size, dtype=np.int64)
        fresh = fresh[~np.isin(fresh, stored)]
        cand = np.sort(np.concatenate([known, fresh]))
        del reads[:], live[:]
        gate = seen_mod._gate_task(sf.fs, path, blooms, sf.gen, 1, sf.k,
                                   sf.initial_shard_bits, False)
        out = []
        for b in gate(pa.RecordBatch.from_arrays([pa.array(part)],
                                                 ["url_hash"])
                      for part in np.array_split(cand, 6)):
            assert sum(r() is not None for r in live) <= 3
            out.extend(b.column(0).to_pylist())
        assert out == sorted(fresh.tolist())
        assert len(reads) == len(set(reads))
        return len(reads)

    width = 2**64 // 200
    assert 1 <= run(int(stored[60000]), int(stored[60000]) + width) <= 6
    assert run(-2**63, 2**63 - 2) == n_groups
