"""Timing fetcher for traced crawl runs.

Same contract as `minicrawler_spark.sources.fixtures:fixture_fetcher`
((method, url, headers, body) -> (raw_response_bytes, delay_ms)); it
delegates to it and appends one tab-separated record per call to
`$PERFBENCH_FETCH_LOG/fetch-<pid>.tsv`:

    wall_clock_start  seconds_in_fetcher  status  response_bytes  url

It runs inside the Python workers, which import it by name through
`crawl(..., fetcher_spec="perfbench.timing_fetcher:fetch")`.
"""

from __future__ import annotations

import os
import time

from minicrawler_spark.sources.fixtures import fixture_fetcher


def _status(raw) -> int:
    head = bytes(raw[:16])
    parts = head.split(b" ", 2)
    if len(parts) >= 2 and parts[1][:3].isdigit():
        return int(parts[1][:3])
    return -1


def fetch(method, url, request_headers, body):
    t0 = time.time()
    c0 = time.perf_counter()
    try:
        raw, delay = fixture_fetcher(method, url, request_headers, body)
    except Exception:
        _record(t0, time.perf_counter() - c0, -1, 0, url)
        raise
    _record(t0, time.perf_counter() - c0, _status(raw), len(raw), url)
    return raw, delay


def _record(t0, dt, status, nbytes, url):
    path = os.path.join(
        os.environ["PERFBENCH_FETCH_LOG"], "fetch-%d.tsv" % os.getpid()
    )
    with open(path, "a") as f:
        f.write("%.6f\t%.9f\t%d\t%d\t%s\n" % (t0, dt, status, nbytes, url))


def read_records(log_dir: str, t_start: float, t_end: float) -> list:
    """Records whose call started inside [t_start, t_end]."""
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.startswith("fetch-"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                parts = line.rstrip("\n").split("\t", 4)
                if len(parts) != 5:
                    continue
                t0 = float(parts[0])
                if t_start <= t0 <= t_end:
                    out.append((t0, float(parts[1]), int(parts[2]),
                                int(parts[3]), parts[4]))
    return out
