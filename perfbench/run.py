"""Benchmark of minicrawler_spark: one workload per run, in a fresh
single-driver process on local[4], closed loop (one job at a time).

    python3 perfbench/run.py --workload frontier|crawl|corpus \
        --seed N --seconds S --trace 0|1 [--size full|tiny] [--record]

Run from the root of a checkout. It sets up the session and the seeded
inputs and makes the first (cold-JVM) call of the workload, checking
its output. One run is this fixed amount of work: `--seconds` is
accepted for the common benchmark interface and does not change it
(BENCHMARK.json's run_seconds is the measured length of a cold call).
The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, taken from the cold call. With --trace 1 the session
also writes Spark's event log, the run makes one untraced and one
traced warm call after the cold one (timers around public entry
points, the timing fetcher), checks both, and prints the per-layer
metrics of the traced call. The line before the JSON gives the host
noise over the run (steal share, load average). A failed output check
prints correct=false and exits 1. --record writes the observed crawl
counts or corpus digests into perfbench/expected.json. See
perfbench/README.md.

Everything the run writes goes under .perfbench_work/ in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _since_process_start() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(")") + 2:].split()[19])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.time() - _since_process_start()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("frontier", "crawl", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def start_session(work: str, name: str, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[4]")
        .appName("perfbench-" + name)
        # bench.py's session settings, at 4 cores
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # keep every file the run writes inside the checkout
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the heap is committed and touched up front, so the tree's PSS
        # less the committed heap is the memory off the heap, whatever
        # G1's sizing does; the sampler adds the heap Spark's memory
        # manager holds. No hsperfdata file goes to /tmp.
        .config("spark.driver.extraJavaOptions",
                "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(work, "tmp"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class TraceView:
    """What a workload's layers() needs about one traced iteration."""

    def __init__(self, ev, timers, fetch_log, t0, t1):
        self.ev = ev
        self.t0, self.t1 = t0, t1
        self.wall = t1 - t0
        self.jobs = ev.jobs_between(t0, t1)
        self.fetch_log = fetch_log
        self._timers = timers

    def spans(self, name):
        return self._timers.between(self.t0, self.t1, name)


def count_lines(path: str, start: int, end: int, needle: bytes) -> int:
    with open(path, "rb") as f:
        f.seek(start)
        return f.read(end - start).count(needle)


def bench(args, work: str, jvm_log: str) -> dict:
    sys.path.insert(0, ROOT)
    try:
        import minicrawler_spark
    except ImportError as e:
        raise SystemExit("perfbench: the program is not in this checkout (%s)" % e)
    if not os.path.abspath(minicrawler_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit("perfbench: minicrawler_spark imported from outside the checkout")

    from perfbench import probes
    from perfbench.workloads import EXPECTED_PATH, PLAIN_FETCHER, TIMING_FETCHER, WORKLOADS

    def phase(msg):
        print("perfbench: %6.2f s  %s" % (time.time() - T_PROCESS_START, msg), file=sys.stderr)

    trace = bool(args.trace)
    spark = start_session(work, args.workload, trace)
    session_s = time.time() - T_PROCESS_START
    phase("session up")
    wl = WORKLOADS[args.workload](spark, args.seed, args.size, work)

    def timed_setup():
        t = time.time()
        wl.setup()
        return time.time() - t

    input_setups = [timed_setup()]
    errors, attempted, failed = [], 0, 0
    phase("inputs loaded")

    def account(res, errs):
        nonlocal attempted, failed
        attempted += wl.ops
        failed += wl.ops if errs else wl.failed(res)
        errors.extend(errs)

    timers = probes.Timers(spark.sparkContext) if trace else None
    if trace:
        from minicrawler_spark.plans.seen import SeenFilter
        from minicrawler_spark.plans.snapshots import SnapshotCatalog

        # SeenFilter.novel returns a lazy frame that crawl() materializes
        # with localCheckpoint right away: that checkpoint is part of the
        # seen.novel span. fetch_robots only builds a lazy plan, so the
        # robots.* times come from the timing fetcher instead.
        wrapped = [(SeenFilter, "novel", "seen.novel", "localCheckpoint"),
                   (SeenFilter, "add", "seen.add", None),
                   (SnapshotCatalog, "commit", "snapshots.commit", None)]

    # Call 0 is the first, cold-JVM call: the end-to-end metrics are
    # taken from it (what a spark-submit user waits for). A traced run
    # then makes one untraced and one traced warm call.
    plan = [False, False, True] if trace else [False]
    calls = []
    jvm = spark._jvm
    sampler = probes.Sampler(
        jvm.org.apache.spark.SparkEnv.get().memoryManager(),
        jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        .getHeapMemoryUsage().getCommitted()).start()
    for traced in plan:
        if traced:
            for owner, attr, name, then in wrapped:
                timers.wrap(owner, attr, name, then)
        log0, n0 = os.path.getsize(jvm_log), len(sampler.samples)
        cpu0 = probes.tree_cpu_s()
        a = time.time()
        res = wl.run(TIMING_FETCHER if traced else PLAIN_FETCHER)
        b = time.time()
        cpu = probes.tree_cpu_s() - cpu0
        if traced:
            timers.unwrap_all()
        errs = wl.check(res)
        account(res, errs)
        call = {"traced": traced, "t0": a, "t1": b, "wall": b - a, "cpu": cpu,
                "ops": wl.ops, "log": (log0, os.path.getsize(jvm_log)),
                "mem": sampler.peak(n0)}
        phase("call %d%s%s: wall %.3f s, cpu %.3f s, peak memory %.0f MiB%s" % (
            len(calls), " (cold)" if not calls else "", " traced" if traced else "",
            b - a, cpu, call["mem"] / 2.0 ** 20,
            " FAILED: " + "; ".join(errs) if errs else ""))
        if traced:
            call["res"] = res  # layers() reads it once the event log is closed
        else:
            wl.cleanup(res)
        calls.append(call)
    sampler.stop()

    errors.extend(wl.final_check())
    input_setups += [timed_setup(), timed_setup()]
    phase("final check and set-ups done")
    if args.record:
        record(args.seed, wl, res, EXPECTED_PATH)
    spark.stop()  # closes the event log
    phase("session stopped")

    out = {"errors": errors, "attempted": attempted, "failed": failed,
           "steal": sampler.steal_frac, "load": sampler.loadavg1}
    cold = calls[0]
    if not trace:
        out["metrics"] = {
            "setup_s": session_s + statistics.median(input_setups),
            "wall_s": cold["wall"],
            "cpu_s": cold["cpu"],
            "peak_rss_mb": cold["mem"] / 2.0 ** 20,
            "ok_frac": 1.0 - failed / attempted,
            "ops_per_s": cold["ops"] / cold["wall"],
        }
        return out

    ev = probes.EventLog(os.path.join(work, "eventlog"))
    it = next(c for c in calls if c["traced"])
    view = TraceView(ev, timers, os.environ["PERFBENCH_FETCH_LOG"], it["t0"], it["t1"])
    metrics = ev.spark_metrics(view.jobs)
    metrics["spark.codegen_fallbacks"] = count_lines(
        jvm_log, *it["log"], needle=b"Code grows beyond 64 KB")
    metrics.update(wl.layers(it["res"], view))
    warm = calls[1]["wall"]
    metrics.update({
        "cold_wall_s": cold["wall"],
        "warm_wall_s": warm,
        "trace.overhead_s": it["wall"] - warm,
        "fail_frac": failed / attempted,
        "host.steal_frac": sampler.steal_frac,
        "host.loadavg1": sampler.loadavg1,
    })
    out["metrics"] = metrics
    return out


def stop_spark(timeout: float = 30.0) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait until
    every process started under this one has ended. The JVM exits only
    once its stdin closes, and its Python workers exit after it, so
    without this they outlive the run by a few seconds."""
    import signal
    import subprocess

    from pyspark import SparkContext

    from perfbench import probes

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    started = probes.descendants()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    # a worker still running after the wait is killed, then waited for
    for wait_s in (timeout, 5.0):
        deadline = time.time() + wait_s
        while True:
            left = [p for p in started if not probes.has_ended(p)]
            if not left:
                return
            if time.time() > deadline:
                break
            time.sleep(0.05)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def record(seed, wl, res, path):
    from perfbench.workloads import load_expected

    exp = load_expected()
    if wl.name == "crawl":
        exp.setdefault("crawl", {}).setdefault(wl.size, {})[str(seed)] = wl.summary(res)
    elif wl.name == "corpus":
        exp.setdefault("corpus", {})[wl.size] = wl.digests(res)
    with open(path, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "minicrawler_spark")):
        print("perfbench: no minicrawler_spark/ next to perfbench/; run it from "
              "the root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    for sub in ("local", "warehouse", "tmp", "eventlog", "fetch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PERFBENCH_FETCH_LOG"] = os.path.join(work, "fetch")

    # The JVM inherits fd 2: send it to a file (the codegen-fallback
    # count reads it) and keep this process's own messages on stderr.
    jvm_log = os.path.join(work, "jvm-stderr.log")
    own_stderr = os.dup(2)
    log_fd = os.open(jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stderr = os.fdopen(own_stderr, "w", buffering=1)
    try:
        out = bench(args, work, jvm_log)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {n: {"value": float(out["metrics"].get(n, 0.0)), "unit": units[n]} for n in names}
    for e in out["errors"]:
        print("perfbench: CHECK FAILED: " + e, file=sys.stderr)
    print("host: steal_frac=%.4f loadavg1=%.2f (context only, never gated)"
          % (out["steal"], out["load"]))
    correct = not out["errors"]
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
