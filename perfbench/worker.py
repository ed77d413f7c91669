"""One benchmark run, in a fresh process started by run.py.

Usage (run.py builds the argument): ``python3 worker.py '<json config>'``.

Phases, in order:

1. set-up: build the session, register the fixture views, connect the
   ``compat`` bridge; process start to here is ``setup_s``;
2. cold round: the first call of every op kind, in seeded order
   (``first_call_s``).  A cold-only process (``cold_only`` in the
   config, its index; run.py starts them for workloads with several
   cold processes) returns its set-up time and cold ops here;
3. warm rounds: every kind once per round, seeded order.  Their
   number is fixed by ``--seconds`` (see :func:`warm_rounds`), never by
   how fast the ops ran, so every run of a workload at one
   ``--seconds`` does the same ops (a traced run does exactly one).
   Between 2 and 3, untimed: ``settle_checks`` (analytic_batch: one
   more call of every kind, its output checked);
4. traced run only: tracing is switched off (spans, py4j counting, the
   event log and the streaming listener) and the warm round is
   repeated in the same order; the difference is the tracing overhead;
5. peak RSS, then the remaining output checks (untimed).

The result is written as JSON to ``<run_dir>/result.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402

import common  # noqa: E402
import workloads  # noqa: E402

#: nominal seconds of one warm round on a 4-core machine
ROUND_S = {"etl_bridge": 7.0, "analytic_batch": 6.0, "stream_sink": 7.0}


def warm_rounds(workload: str, seconds: float) -> int:
    """Warm rounds for ``--seconds``: a fixed function of the inputs.
    Stopping on the clock would give a faster program more (and
    warmer) rounds than its parent, which biases every median."""
    return max(1, round(seconds / ROUND_S[workload]))


def _vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(cfg: dict) -> dict:
    trace_on = bool(cfg["trace"])
    tracer = None
    if trace_on:
        import tracing as tr
        from pandas_redshift_spark.operators import all_queries

        all_queries()  # import every operator module before wrapping
        tracer = tr.Tracer()
        tr.install(tracer)

    import pandas_redshift_spark.compat as pr
    from pandas_redshift_spark import session as S

    run_dir, sf_dir = cfg["run_dir"], cfg["sf_dir"]
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_on:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    def setup():
        t0 = time.time()
        spark = S.build_session("perfbench", extra_confs=confs)
        t1 = time.time()
        S.Tables(spark, sf_dir).register_views()
        t2 = time.time()
        pr.use_spark(spark)
        t3 = time.time()
        return spark, (t1 - t0, t2 - t1, t3 - t2)

    spark, parts = setup()
    ready_s = time.time() - cfg["spawn_time"]
    phases = {"setup": time.time()}
    sc = spark.sparkContext

    progress: list[dict] = []
    if trace_on:
        listener = tr.stream_listener(progress)
        spark.streams.addListener(listener)

    oracle_dir = cfg["oracle_dir"]

    def oracle(kind):
        import pandas as pd

        return pd.read_parquet(os.path.join(oracle_dir, cfg["oracle_files"][kind]))

    def duckdb_con():
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {common.nproc()}")
        for t in S.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con

    def build(fn, kind, *args):
        if tracer is None:
            return fn(*args)
        return tracer.wrap(fn, f"operators.{kind}", "operators")(*args)

    ctx = SimpleNamespace(
        spark=spark, sf_dir=sf_dir, seed=cfg["seed"], build=build, oracle=oracle,
        duckdb=duckdb_con, stage_dir=os.path.join(run_dir, "stage"),
    )
    w = workloads.make(cfg["workload"], ctx)
    # a cold-only process draws its own op order
    rng = np.random.default_rng([cfg["seed"], 2] + ([cfg["cold_only"]] if cfg.get("cold_only") else []))
    memo0 = dict(S.MEMO_HITS)
    ops: list[dict] = []

    def run_op(kind: str, phase: str, rnd: int) -> None:
        w.prepare(kind)
        op_id = f"{phase}{rnd}:{kind}"
        labelled = tracer is not None and tracer.enabled
        if labelled:
            tracer.op = op_id
            sc.setJobDescription(f"pb:{op_id}")
        err, rows = None, 0
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            rows = w.call(kind)
        except Exception:  # an op that raises is a failed op, not a crash
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        wall1 = time.time()
        if labelled:
            tracer.op = None
            sc.setJobDescription(None)
        if err is None:
            try:
                w.after(kind, rows)
            except Exception:
                err = traceback.format_exc(limit=3)
        ops.append({
            "op": op_id, "kind": kind, "phase": phase, "cat": w.category(kind),
            "s": dt, "start": wall0, "end": wall1, "rows": rows, "error": err,
        })

    checks = []

    def run_check(name: str, check) -> None:
        try:
            check()
            checks.append({"check": name, "error": None})
        except Exception:
            checks.append({"check": name, "error": traceback.format_exc(limit=3)})

    for kind in w.cold_order(rng):
        run_op(kind, "cold", 0)
    phases["cold"] = time.time()
    if cfg.get("cold_only"):
        return {"setup_s": ready_s, "ops": ops}
    settle_memo0 = dict(S.MEMO_HITS)
    for name, check in w.settle_checks(rng):
        run_check(name, check)
    settle_memo = {f: n - settle_memo0.get(f, 0) for f, n in S.MEMO_HITS.items()}
    phases["settle"] = time.time()
    rounds = 1 if trace_on else warm_rounds(cfg["workload"], cfg["seconds"])
    for rnd in range(1, rounds + 1):
        order = [str(k) for k in rng.permutation(w.kinds)]
        for kind in order:
            run_op(kind, "warm", rnd)

    phases["warm"] = time.time()
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    rss_parts = (_vm_hwm_mb(), _vm_hwm_mb(jvm_pid))
    # memo hits of the timed ops (the untimed settle calls' are taken out)
    memo_hits = {
        f: n - memo0.get(f, 0) - settle_memo.get(f, 0) for f, n in S.MEMO_HITS.items()
    }
    if trace_on:
        _settle(progress)
        spark.streams.removeListener(listener)
        tr.stop_event_log(sc)
        tracer.enabled = False
        for kind in order:
            run_op(kind, "untraced", 1)
        phases["untraced"] = time.time()

    for name, check in w.checks():
        run_check(name, check)
    phases["checks"] = time.time()

    result = {
        "workload": cfg["workload"], "seed": cfg["seed"], "seconds": cfg["seconds"],
        "trace": int(trace_on), "slots": common.nproc(), "warm_rounds": rounds,
        "warm_samples": rounds * len(w.kinds),
        "setup_s": ready_s, "setup_parts": parts,
        "peak_rss_mb": sum(rss_parts), "rss_parts_mb": rss_parts,
        "ops": ops, "checks": checks, "memo_hits": memo_hits,
        "phase_end": {k: v - cfg["spawn_time"] for k, v in phases.items()},
    }
    if trace_on:
        traced = [o for o in ops if o["phase"] != "untraced"]
        result["layers"] = _layer_metrics(tracer, traced, progress, memo_hits, cfg, parts)
        result["layers"]["trace.overhead_s"] = sum(
            o["s"] for o in ops if o["phase"] == "warm") - sum(
            o["s"] for o in ops if o["phase"] == "untraced")
        result["self_times"] = tr.layer_self_times(tracer.spans)
        os.makedirs(cfg["trace_dir"], exist_ok=True)
        tracer.dump(os.path.join(cfg["trace_dir"], f"{cfg['workload']}-seed{cfg['seed']}.spans.json"))
    return result


_BUILD_SPANS = ("SparkRedshiftBridge.sql", ".createDataFrame", ".apply_layout")


def _settle(progress: list, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
    """Wait until streaming progress events stop arriving (the listener
    is called asynchronously)."""
    t_end = time.time() + limit_s
    n = -1
    while time.time() < t_end and n != len(progress):
        n = len(progress)
        time.sleep(quiet_s)


def _layer_metrics(tracer, ops, progress, memo_hits, cfg, setup_parts) -> dict:
    import tracing as tr

    spans = tracer.spans
    windows = []
    for o in ops:
        # the build ends when the last of fn (operators), bridge.sql,
        # createDataFrame or apply_layout returns
        build_end = max(
            (s.end for s in spans if s.op == o["op"] and (
                s.layer == "operators" or s.name.endswith(_BUILD_SPANS))),
            default=o["start"],
        )
        windows.append(tr.OpWindow(o["op"], o["start"], build_end, o["end"]))
    layers = {
        "session.build_s": setup_parts[0],
        "session.register_views_s": setup_parts[1],
    }
    for fam in tr.MEMO_FAMILIES:
        layers[f"session.memo_hits.{fam}"] = memo_hits.get(fam, 0)
    loads = sum(1 for s in spans if s.op is not None and s.name.endswith("Tables.load"))
    layers["session.table_loads"] = loads
    layers["session.table_memo_hit_ratio"] = memo_hits.get("table", 0) / loads if loads else 0.0
    layers.update(tr.span_metrics(spans))
    layers.update(tr.parse_event_log(os.path.join(cfg["run_dir"], "eventlog"), windows, common.nproc()))
    layers.update(tr.stream_metrics(progress, windows))
    self_times = tr.layer_self_times(spans)
    for layer in tr.SELF_TIME_LAYERS:
        layers[f"self_s.{layer}"] = self_times.get(layer, (0, 0.0, 0.0))[2]
    layers["trace.spans"] = len(spans)
    return layers


if __name__ == "__main__":
    config = json.loads(sys.argv[1])
    out = main(config)
    with open(os.path.join(config["run_dir"], "result.json"), "w") as f:
        json.dump(out, f)
    # the result is written: skip interpreter teardown; run.py kills
    # what is left of the session (the JVM) and waits for it
    os._exit(0)
