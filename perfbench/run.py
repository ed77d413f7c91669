"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_bridge --seed 1 --seconds 5 --trace 0

Runs one workload (or ``--workload all``) against the package in this
checkout and prints one line per metric, then, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` its per-layer ones.  ``--out FILE`` also appends the
run's full result (every op, check and layer figure) to FILE as a JSON
line, for ``compare.py`` and ``evidence.py``.

The tables every workload reads are the sf0.1 fixture committed under
``perfbench/data/sf0.1``.  The first run in a checkout caches the
DuckDB oracle results of the registry queries in ``.perfbench_cache/``,
keyed on those files and the operator sources.  Each run then gets its
own directory there (warehouse, local and checkpoint dirs, temp dir,
event log), deleted at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import CACHE, DATA_DIR, ORACLE_DIR, ROOT, WORKLOADS  # noqa: E402

#: a run's processes are killed once it has taken this many seconds
RUN_LIMIT_S = 165.0


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _preflight() -> None:
    for rel in ("pandas_redshift_spark/__init__.py", "tests/oracle.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}: run from a checkout of the repository")
    if not os.path.isdir(DATA_DIR):
        _fail(f"fixture directory {DATA_DIR} not found")


def _oracle_files() -> dict[str, str]:
    """kind -> cached oracle result file (built on first use).  The
    cache key hashes the fixture files and the operator sources, so new
    data or an edited oracle is re-run; a key match skips importing the
    package here.  Hashing the fixture also warms the page cache."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet"))) + sorted(
        glob.glob(os.path.join(ROOT, "pandas_redshift_spark", "operators", "*.py"))
    ):
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode())
            h.update(f.read())
    key = h.hexdigest()[:16]
    index = os.path.join(ORACLE_DIR, f"index-{key}.json")
    if os.path.exists(index):
        with open(index) as f:
            return json.load(f)

    import duckdb
    from pandas_redshift_spark.operators import all_queries
    from pandas_redshift_spark.session import TABLE_NAMES

    specs = all_queries()
    shutil.rmtree(ORACLE_DIR, ignore_errors=True)
    os.makedirs(ORACLE_DIR)
    con = duckdb.connect()
    con.execute(f"SET threads = {common.nproc()}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    files = {}
    for kind in common.ANALYTIC_QUERIES + common.STREAM_QUERIES:
        files[kind] = f"{kind}-{key}.parquet"
        con.execute(specs[kind].oracle).df().to_parquet(os.path.join(ORACLE_DIR, files[kind]))
    con.close()
    with open(index + ".partial", "w") as f:
        json.dump(files, f)
    os.rename(index + ".partial", index)
    return files


def _session_pids(sid: int) -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.getsid(int(pid)) == sid:
                pids.append(int(pid))
        except OSError:
            continue
    return pids


def _stop_session(sid: int) -> None:
    """Kill every process left in the worker's session (its JVM, which
    has already stopped its SparkContext, or all of them after a
    timeout) and wait until none is left."""
    deadline = time.time() + 20
    while time.time() < deadline:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.05)
    _fail(f"processes of run session {sid} did not exit", 1)


def _worker(cfg: dict, run_dir: str, deadline: float) -> dict:
    """Run ``worker.py`` with ``cfg`` in its own session and directory
    and return its result; kill whatever is left of it afterwards, or
    at ``deadline``."""
    for sub in ("tmp", "local", "warehouse", "stage", "checkpoints", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(
        os.environ,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(common.nproc()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_SF_DIR=DATA_DIR,
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    log_path = run_dir + ".log"
    with open(log_path, "w") as log:
        cfg = dict(cfg, run_dir=run_dir, spawn_time=time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            env=env, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        _stop_session(proc.pid)
        proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        _fail(f"{cfg['workload']} worker failed (exit {proc.returncode}); log tail:\n{tail}", 1)
    with open(result_path) as f:
        return json.load(f)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in fresh worker processes (first the extra
    cold-only ones of ``common.COLD_PROCESSES``, then the main one);
    returns the main worker's raw result with the cold-only results and
    the machine state at start and end added."""
    deadline = time.time() + RUN_LIMIT_S
    oracle_files = _oracle_files()
    base = os.path.join(CACHE, "runs", f"run-{os.getpid()}-{workload}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    # streaming/windows.read_events_stream stages a symlink under a fixed
    # /tmp path (see NOTES.md); remove it afterwards if this run made it
    stream_stage = "/tmp/prs_stream_" + hashlib.sha1(DATA_DIR.encode()).hexdigest()[:10]
    stage_existed = os.path.exists(stream_stage)
    machine_start = common.machine_state({os.getpid()})
    cfg = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "sf_dir": DATA_DIR, "oracle_dir": ORACLE_DIR, "oracle_files": oracle_files,
        "trace_dir": os.path.join(CACHE, "traces"),
    }
    try:
        # extra cold processes first (per-layer figures need only one)
        cold = [
            _worker(dict(cfg, cold_only=i), os.path.join(base, f"cold{i}"), deadline)
            for i in range(1, 1 if trace else common.COLD_PROCESSES[workload])
        ]
        result = _worker(cfg, os.path.join(base, "main"), deadline)
        result["cold_processes"] = cold
        machine_end = common.machine_state({os.getpid()})
    finally:
        shutil.rmtree(base, ignore_errors=True)
        if not stage_existed:
            shutil.rmtree(stream_stage, ignore_errors=True)
    result["machine"] = {"start": machine_start, "end": machine_end}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full result as a JSON line to this file")
    args = ap.parse_args(argv)
    _preflight()
    sys.path.insert(0, ROOT)
    import report

    bench = report.load_benchmark()
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[key]}

    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    for wl in names:
        result = run_one(wl, args.seed, args.seconds, args.trace)
        summary = report.summarize(result)
        for line in report.human_lines(result, summary):
            print(line, flush=True)
        values = result["layers"] if args.trace else summary["metrics"]
        missing = sorted(set(units) - set(values))
        if missing:
            _fail(f"metrics missing from the result: {missing}", 1)
        prefix = f"{wl}." if args.workload == "all" else ""
        for name, unit in units.items():
            final["metrics"][prefix + name] = {"value": values[name], "unit": unit}
        final["attempted"] += summary["attempted"]
        final["failed"] += summary["failed"]
        final["correct"] = final["correct"] and summary["failed"] == 0
        if args.out:
            result["summary"] = summary
            with open(args.out, "a") as f:
                f.write(json.dumps(result) + "\n")
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
