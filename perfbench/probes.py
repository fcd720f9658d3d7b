"""Measurement probes: process-tree CPU and memory, host noise, driver-side
timers around public entry points, and the Spark event-log reader.

Nothing here changes what the program computes. The timers wrap public
methods for the traced iterations only and are removed afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree: the driver, its JVM and the JVM's Python workers
# --------------------------------------------------------------------------


def _stat_fields(pid: int):
    with open("/proc/%d/stat" % pid) as f:
        data = f.read()
    # the command name may hold spaces: fields start after the last ')'
    return data[data.rindex(")") + 2:].split()


def _tree_pids(root: int) -> list:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int = None) -> list:
    """Pids of every process below `root` (default: this process)."""
    root = root or os.getpid()
    return [p for p in _tree_pids(root) if p != root]


def has_ended(pid: int) -> bool:
    """True once `pid` is gone or a zombie (nothing left running)."""
    try:
        return _stat_fields(pid)[0] in ("Z", "X")
    except (OSError, IndexError):
        return True


def tree_cpu_s(root: int = None) -> float:
    """User + system CPU seconds of the tree, including reaped
    children (a reaped worker's time moves into its parent's cutime,
    so the sum stays continuous)."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_pss_bytes(root: int = None) -> int:
    """Proportional set size of the tree: a page shared by n processes
    (forked Python workers share most of theirs with the daemon)
    counts 1/n in each, so the sum is the memory the tree holds."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open("/proc/%d/smaps_rollup" % pid) as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


def _cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    vals = [int(x) for x in fields]
    return sum(vals), vals[7]  # total jiffies, steal jiffies


class Sampler:
    """Background sampler of the tree's memory and the host load
    average. Each sample is the tree's PSS, with the JVM heap counted
    as what Spark's memory manager holds in it rather than its
    committed size: PSS - `heap_bytes` + storage memory (cached blocks,
    broadcasts) + execution memory (shuffle, sort and aggregation
    buffers). The steal share comes from /proc/stat deltas between
    start/stop."""

    def __init__(self, memory_manager, heap_bytes: int, interval: float = 0.25):
        self.interval = interval
        self.mm = memory_manager
        self.heap_bytes = heap_bytes
        self.samples = []  # (pss bytes, storage bytes, execution bytes)
        self.loads = []
        self._stop = threading.Event()
        self._thread = None
        self._cpu0 = None
        self.steal_frac = 0.0

    def start(self):
        self._cpu0 = _cpu_times()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            spark_mem = (self.mm.storageMemoryUsed(), self.mm.executionMemoryUsed())
            self.samples.append((tree_pss_bytes(),) + spark_mem)
            self.loads.append(os.getloadavg()[0])
            self._stop.wait(self.interval)

    def peak(self, start: int = 0) -> int:
        """Peak memory in bytes over the samples from index `start` on
        (and the one before it, so a call shorter than the interval
        still has one)."""
        return max((p - self.heap_bytes + st + ex
                    for p, st, ex in self.samples[max(start - 1, 0):]), default=0)

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        total1, steal1 = _cpu_times()
        total0, steal0 = self._cpu0
        if total1 > total0:
            self.steal_frac = (steal1 - steal0) / (total1 - total0)
        return self

    @property
    def loadavg1(self) -> float:
        return statistics.fmean(self.loads) if self.loads else os.getloadavg()[0]


# --------------------------------------------------------------------------
# driver-side timers around public entry points
# --------------------------------------------------------------------------


class Timers:
    """Wraps (owner, attribute) callables with a span recorder. While a
    wrapped call runs, its Spark jobs carry the job group
    `<current group>|<span name>` so the event log attributes them to
    the call; the caller's group is restored afterwards. With `then`,
    the named method of the returned object (a lazy DataFrame's
    `localCheckpoint`) is wrapped the same way, so the work that
    materializes the result counts in the span too."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = []  # (name, t_start, t_end)
        self._saved = []

    def _timed(self, fn, name: str, then=None):
        sc, spans = self.sc, self.spans

        def timed(*args, **kwargs):
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", "%s|%s" % (prev, name))
            t0 = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                spans.append((name, t0, time.time()))
                sc.setLocalProperty("spark.jobGroup.id", prev)
            if then is not None:
                setattr(out, then, self._timed(getattr(out, then), name))
            return out

        return timed

    def wrap(self, owner, attr: str, name: str, then: str = None):
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, self._timed(original, name, then))

    def unwrap_all(self):
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def between(self, t0: float, t1: float, name: str):
        return [(a, b) for n, a, b in self.spans if n == name and t0 <= a <= t1]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _walk(node, out):
    out.append(node)
    for child in node.get("children", ()):
        _walk(child, out)


class EventLog:
    """Jobs, stages and task metrics from Spark's JSON event log, plus
    the SQL plan nodes so per-operator metrics can be attributed."""

    def __init__(self, log_dir: str):
        self.jobs = {}             # job id -> dict(start, end, group)
        self.stage_job = {}        # stage id -> job id
        self.tasks = defaultdict(list)   # stage id -> [task dict]
        self.stage_acc = defaultdict(lambda: defaultdict(float))  # stage -> acc id -> sum
        self.nodes = {}            # accumulator id -> (node string, metric)
        # one log file per SparkContext; ids restart in each, so every
        # id is keyed by (file index, id)
        for app, name in enumerate(sorted(os.listdir(log_dir))):
            self._app = app
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[(self._app, e["Job ID"])] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id") or "",
            }
            for s in e["Stage IDs"]:
                self.stage_job.setdefault((self._app, s), (self._app, e["Job ID"]))
        elif kind == "SparkListenerJobEnd":
            self.jobs[(self._app, e["Job ID"])]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            py_ms = 0.0
            for acc in info.get("Accumulables", ()):
                try:
                    upd = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                self.stage_acc[(self._app, e["Stage ID"])][(self._app, acc["ID"])] += upd
                if acc.get("Name") == PY_TIME:
                    py_ms += upd
            self.tasks[(self._app, e["Stage ID"])].append({
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "gc": tm.get("JVM GC Time", 0) / 1000.0,
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sw": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "py": py_ms / 1000.0,
            })
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            nodes = []
            _walk(e["sparkPlanInfo"], nodes)
            for n in nodes:
                for m in n.get("metrics", ()):
                    self.nodes[(self._app, m["accumulatorId"])] = (
                        n["simpleString"], m["name"])

    # -- selections ---------------------------------------------------

    def jobs_between(self, t0: float, t1: float):
        return [jid for jid, j in sorted(self.jobs.items())
                if j["end"] is not None and t0 <= j["start"] <= t1]

    def stages_of(self, job_ids) -> list:
        """Stages that ran tasks, in stage-id order."""
        jobs = set(job_ids)
        return sorted(
            s for s, j in self.stage_job.items() if j in jobs and self.tasks.get(s)
        )

    def stage_sum(self, stages, key: str) -> float:
        return sum(t[key] for s in stages for t in self.tasks[s])

    def task_skew(self, stages) -> float:
        """max / median task time of the stage with the most task time."""
        if not stages:
            return 0.0
        s = max(stages, key=lambda s: sum(t["dur"] for t in self.tasks[s]))
        durs = [t["dur"] for t in self.tasks[s]]
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0

    def node_metric(self, match, metric: str, jobs) -> float:
        """Sum of one SQL metric over the plan nodes whose description
        satisfies `match`, counting only the tasks of `jobs`."""
        ids = {a for a, (s, m) in self.nodes.items() if m == metric and match(s)}
        return sum(
            v
            for st in self.stages_of(jobs)
            for a, v in self.stage_acc[st].items()
            if a in ids
        )

    def node_stages(self, match, metric: str, jobs) -> list:
        """The stages of `jobs` that ran a plan node satisfying `match`
        (they updated its `metric`)."""
        ids = {a for a, (s, m) in self.nodes.items() if m == metric and match(s)}
        return [st for st in self.stages_of(jobs) if ids & self.stage_acc[st].keys()]

    def spark_metrics(self, jobs) -> dict:
        stages = self.stages_of(jobs)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(len(self.tasks[s]) for s in stages),
            "spark.executor_run_s": self.stage_sum(stages, "run"),
            "spark.executor_cpu_s": self.stage_sum(stages, "cpu"),
            "spark.gc_s": self.stage_sum(stages, "gc"),
            "spark.shuffle_read_bytes": self.stage_sum(stages, "sr"),
            "spark.shuffle_write_bytes": self.stage_sum(stages, "sw"),
            "spark.spill_bytes": self.stage_sum(stages, "spill"),
            "spark.py_worker_s": self.stage_sum(stages, "py"),
        }


def busy_union(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total
