"""Helpers shared by the benchmark's runner, worker and report tools."""

from __future__ import annotations

import math
import os
import statistics
import time

#: root of the checkout the benchmark runs in (perfbench/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark builds or writes lives under here
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: the sf0.1 fixture tables (FIXTURES.md / TESTDATA.md: lineitem 600,000
#: rows), committed byte for byte so a run reads nothing outside the
#: checkout
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ORACLE_DIR = os.path.join(CACHE, "oracle")

WORKLOADS = ("etl_bridge", "analytic_batch", "stream_sink")

#: registry queries of analytic_batch: side-effect-free headline
#: queries, four with ``memo_plan`` (marked *) and three without, so
#: first_call_s against op_p50_s separates build cost from memo hits
ANALYTIC_QUERIES = (
    "q1_pricing_summary",  # *
    "tpch_q9_product_type_profit",  # *
    "profile_drift_psi",  # *
    "sim_bruteforce_topk",  # *
    "tpch_q18_large_volume_customer",
    "join_star_broadcast",
    "text_word_freq",
)

#: headline ops of stream_sink, which rebuild and commit on every call:
#: a stream-stream join drain, an SCD2 MERGE and a z-ordered sink write
STREAM_QUERIES = (
    "streaming_attribution_join",
    "dml_scd2_dimension",
    "sink_zorder_layout",
)

#: fresh processes per run that each set up and make a cold round;
#: setup_s and first_call_s are their medians.  The speed of a shared
#: host moves within tens of seconds, so two processes of one run read
#: partly independent samples of it (see NOTES.md, "Steadiness").
#: analytic_batch has the shortest cold round, the one that spread past
#: its bound with one process; a second process for the other two
#: workloads does not fit the time for all runs.
COLD_PROCESSES = {"etl_bridge": 1, "analytic_batch": 2, "stream_sink": 1}

#: units of every end-to-end metric a run prints; BENCHMARK.json bounds
#: those that every workload has and that stay steady across runs
UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "first_call_s": "s",
    "peak_rss_mb": "MB",
    # etl_bridge only
    "read_p50_s": "s",
    "write_p50_s": "s",
    "staged_load_p50_s": "s",
    "load_rows_per_s": "rows/s",
    "extract_rows_per_s": "rows/s",
}

_TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.75, 0.5)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values, p: float, grid: int = 4000) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta(p(n+1),
    (1-p)(n+1))-weighted mean of all order statistics.  A run has only
    a few warm samples per op kind, and the plain sample median jumps
    between kinds from run to run; this estimator moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    cdf = [0.0]
    for k in range(grid):  # midpoint rule for the Beta cdf
        x = (k + 0.5) / grid
        cdf.append(cdf[-1] + math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta))
    at = lambda q: cdf[round(q * grid)] / cdf[-1]  # noqa: E731
    return sum(x * (at((i + 1) / n) - at(i / n)) for i, x in enumerate(xs))


def tail_percentile(n: int) -> float:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it
    in a sample of ``n``; the median when ``n`` is below 40."""
    for p in _TAIL_CANDIDATES:
        if (1.0 - p) * n >= 10:
            return p
    return 0.5


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def rel_spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


# -- machine state ------------------------------------------------------------


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: the host's speed
    at that moment, independent of the package.  It tells a host that
    slowed down between two sets of runs from a slower program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def machine_state(exclude_pids: set[int] = frozenset()) -> dict:
    """loadavg, MemAvailable, the CPU probe, and any other live Spark
    JVM or pytest process (either would share the cores this run
    measures)."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    others = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) in exclude_pids:
            continue
        cmd = _cmdline(pid)
        if "org.apache.spark" in cmd or "pytest" in cmd:
            others.append(f"{pid}: {cmd[:120]}")
    return {
        "loadavg_1m": os.getloadavg()[0],
        "mem_available_mb": round(mem.get("MemAvailable", 0) / 1024),
        "cpu_probe_s": cpu_probe_s(),
        "other_spark_or_pytest": others,
    }
