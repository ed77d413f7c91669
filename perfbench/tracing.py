"""Tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the package.  At start-up :func:`install` wraps the
package's public functions and methods, a few pyspark boundaries the
bridge crosses, and py4j's client send, so every call into a layer
records a span (name, layer, start, end, parent, op id) and every
Python->JVM command is counted.  Spans stay in memory and are written
out when the run ends.  Spark's own phases come from the event log
(:func:`parse_event_log`) and streaming phases from a
``StreamingQueryListener`` (:func:`stream_listener`); both are on only
in the traced run.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

#: package modules whose public callables are wrapped, with the layer
#: name each reports under (layers are named by module)
PACKAGE_LAYERS = {
    "pandas_redshift_spark.compat": "compat",
    "pandas_redshift_spark.session": "session",
    "pandas_redshift_spark.sources.bridge": "sources.bridge",
    "pandas_redshift_spark.sources.schema": "sources.schema",
    "pandas_redshift_spark.plans.layout": "plans.layout",
    "pandas_redshift_spark.streaming.windows": "streaming",
    "pandas_redshift_spark.streaming.stateful": "streaming",
}

#: layers whose self time the traced run reports
SELF_TIME_LAYERS = (
    "compat", "sources.bridge", "sources.schema", "plans.layout", "session",
    "operators", "streaming", "pyspark",
)

#: memo families counted by session.MEMO_HITS
MEMO_FAMILIES = (
    "column_minmax", "frame", "persist", "pq_exprs", "stream_schema",
    "table", "table_rows",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    py4j: int = 0  # main-thread py4j commands sent while the span was open
    rows: int = 0  # rows in (writes) or out (reads) for bridge spans


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    py4j_total: int = 0
    #: off: every wrapper calls straight through and nothing is counted
    enabled: bool = True
    _stack: list[int] = field(default_factory=list)
    _main: int = field(default_factory=threading.get_ident)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            sid = len(tracer.spans)
            span = Span(name, layer, 0.0, tracer._stack[-1] if tracer._stack else None, tracer.op)
            tracer.spans.append(span)
            tracer._stack.append(sid)
            py4j0 = tracer.py4j_total
            span.start = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.time()
                span.py4j = tracer.py4j_total - py4j0
                tracer._stack.pop()
            span.rows = _rows(name, args, out)
            return out

        return traced

    def count_py4j(self, send):
        tracer = self

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if tracer.enabled and threading.get_ident() == tracer._main:
                tracer.py4j_total += 1
            return send(*args, **kwargs)

        return counted

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _rows(name: str, args: tuple, out) -> int:
    import pandas as pd

    if name.endswith((".write_table", ".stage_csv")) and len(args) > 1:
        return len(args[1]) if isinstance(args[1], pd.DataFrame) else 0
    if name.endswith(".read_sql") and isinstance(out, pd.DataFrame):
        return len(out)
    return 0


def _public_callables(mod):
    for attr, obj in list(vars(mod).items()):
        if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield attr, obj, None
        elif inspect.isclass(obj):
            for mname, meth in list(vars(obj).items()):
                if not mname.startswith("_") and inspect.isfunction(meth):
                    yield f"{attr}.{mname}", meth, obj


def install(tracer: Tracer) -> None:
    """Wrap every public function/method of the package layers, the
    pyspark calls the bridge makes, and py4j's send."""
    import importlib

    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    wrappers: dict[int, object] = {}  # id(original function) -> wrapper
    for modname, layer in PACKAGE_LAYERS.items():
        mod = importlib.import_module(modname)
        for qual, fn, owner in _public_callables(mod):
            wrapped = tracer.wrap(fn, f"{layer}.{qual}", layer)
            if owner is None:
                setattr(mod, qual, wrapped)
                wrappers[id(fn)] = wrapped
            else:
                setattr(owner, qual.split(".", 1)[1], wrapped)
    # modules that imported a wrapped function by name hold their own
    # reference: point those at the wrapper too
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("pandas_redshift_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrappers and obj is not wrappers[id(obj)]:
                setattr(mod, attr, wrappers[id(obj)])
    for owner, meth in (
        (SparkSession, "createDataFrame"),
        (DataFrame, "toPandas"),
        (DataFrameWriter, "saveAsTable"),
        (DataFrameWriter, "save"),
        (DataFrameWriter, "csv"),
    ):
        setattr(owner, meth, tracer.wrap(getattr(owner, meth), f"pyspark.{owner.__name__}.{meth}", "pyspark"))
    for conn in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        conn.send_command = tracer.count_py4j(conn.send_command)


def stop_event_log(sc) -> None:
    """Close the event log mid-run: wait until the listener bus has
    delivered every queued event, detach the event-log listener and
    stop it, which flushes the file and drops its ``.inprogress``
    suffix.  Later jobs are not logged."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    logger = jsc.eventLogger()
    if logger.isDefined():
        jsc.removeSparkListener(logger.get())
        logger.get().stop()


# -- streaming progress -------------------------------------------------------


def stream_listener(sink: list):
    """A StreamingQueryListener that appends one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "start": datetime.fromisoformat(p.timestamp).timestamp(),
                "id": str(p.id),
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"commit_ms": s.commitTimeMs, "rows": s.numRowsUpdated}
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def stream_metrics(progress: list[dict], ops: list[OpWindow]) -> dict[str, float]:
    """Streaming phases of the micro-batches that ran inside timed ops."""
    progress = [p for p in progress if any(o.start <= p["start"] <= o.end for o in ops)]
    dur = lambda key: sum(p["duration_ms"].get(key, 0) for p in progress)  # noqa: E731
    return {
        "stream.batches": len(progress),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_ms": dur("walCommit") + dur("commitOffsets"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
        # rows written to state; numRowsTotal is always 0 here, as the
        # drains set ...stateStore.rocksdb.trackTotalNumberOfRows=false
        "stream.state_rows": sum(s["rows"] for p in progress for s in p["state"]),
    }


# -- event log ----------------------------------------------------------------


@dataclass
class OpWindow:
    op: str
    start: float
    build_end: float
    end: float


def _sec(ms) -> float:
    return (ms or 0) / 1000.0


def parse_event_log(log_dir: str, ops: list[OpWindow], slots: int) -> dict[str, float]:
    """Spark execution metrics of the traced ops.

    Jobs carry the op id as their job description (``pb:<op>``); jobs
    submitted from other threads (streaming micro-batches) carry none
    and are assigned to the op whose time window holds their
    submission.  SQL executions are assigned by start time."""
    by_label = {o.op: o for o in ops}

    def window_op(t: float) -> str | None:
        for o in ops:
            if o.start <= t <= o.end:
                return o.op
        return None

    stage_op: dict[int, str] = {}
    jobs = set()
    stages = set()
    sql_start: dict[int, float] = {}
    sql_s = 0.0
    first_sql: dict[str, float] = {}
    m = dict.fromkeys(
        ("tasks", "run", "cpu", "gc", "sched", "shr", "shw", "spill"), 0.0
    )
    paths = sorted(p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    op = desc[3:] if desc.startswith("pb:") and desc[3:] in by_label else None
                    op = op or window_op(_sec(ev.get("Submission Time")))
                    if op is None:
                        continue
                    jobs.add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_op:
                        stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_op:
                        continue
                    info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    run = _sec(tm.get("Executor Run Time"))
                    dur = _sec(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    other = run + _sec(tm.get("Executor Deserialize Time")) + _sec(
                        tm.get("Result Serialization Time")
                    ) + _sec(info.get("Getting Result Time"))
                    shr = tm.get("Shuffle Read Metrics") or {}
                    m["tasks"] += 1
                    m["run"] += run
                    m["cpu"] += (tm.get("Executor CPU Time") or 0) / 1e9
                    m["gc"] += _sec(tm.get("JVM GC Time"))
                    m["sched"] += max(0.0, dur - other)
                    m["shr"] += shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0)
                    m["shw"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["spill"] += tm.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    root = ev.get("rootExecutionId", ev["executionId"])
                    op = window_op(_sec(ev["time"]))
                    if op is None or root != ev["executionId"]:
                        continue
                    t = sql_start[ev["executionId"]] = _sec(ev["time"])
                    if t >= by_label[op].build_end and op not in first_sql:
                        first_sql[op] = t - by_label[op].build_end
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    start = sql_start.pop(ev["executionId"], None)
                    if start is not None:
                        sql_s += _sec(ev["time"]) - start
    return {
        "catalyst.plan_s": sum(first_sql.values()),
        "exec.sql_s": sql_s,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": int(m["tasks"]),
        "exec.task_run_s": m["run"],
        "exec.task_cpu_s": m["cpu"],
        "exec.task_gc_s": m["gc"],
        "exec.sched_delay_s": m["sched"],
        "exec.shuffle_read_bytes": int(m["shr"]),
        "exec.shuffle_write_bytes": int(m["shw"]),
        "exec.spill_bytes": int(m["spill"]),
        "exec.busy_ratio": m["run"] / (sql_s * slots) if sql_s else 0.0,
    }


# -- span roll-ups ------------------------------------------------------------


def _outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` whose ancestors do not match it."""
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = s.parent
        while p is not None and not pred(spans[p]):
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer metrics from the spans recorded inside timed ops."""
    sel = [s for s in spans if s.op is not None]
    total = lambda ss: sum(s.end - s.start for s in ss)  # noqa: E731
    outer = lambda pred: _outermost(spans, pred)  # noqa: E731
    mine = {id(s) for s in sel}
    pick = lambda ss: [s for s in ss if id(s) in mine]  # noqa: E731

    def named(*suffixes):
        return pick(outer(lambda s: s.name.endswith(suffixes)))

    def child_of(name_suffix, parent_suffixes):
        return [
            s for s in sel
            if s.name.endswith(name_suffix) and s.parent is not None
            and spans[s.parent].name.endswith(parent_suffixes)
        ]

    return {
        "schema.validate_s": total(pick(outer(lambda s: s.layer == "sources.schema" and (
            "validate_column_names" in s.name or "apply_validated_names" in s.name)))),
        "schema.dtype_infer_s": total(pick(outer(lambda s: s.layer == "sources.schema" and (
            "column_data_types" in s.name or "dtype_to_redshift" in s.name)))),
        "bridge.sql_s": total(named("SparkRedshiftBridge.sql")),
        "bridge.to_pandas_s": total(child_of(".toPandas", ("SparkRedshiftBridge.read_sql",))),
        "bridge.create_df_s": total(child_of(".createDataFrame", (
            "SparkRedshiftBridge.write_table", "SparkRedshiftBridge.stage_csv"))),
        "bridge.save_s": total(child_of(".saveAsTable", ("SparkRedshiftBridge.write_table",))),
        "bridge.stage_csv_s": total(named("SparkRedshiftBridge.stage_csv")),
        "bridge.load_csv_s": total(named("SparkRedshiftBridge.load_staged_csv")),
        "bridge.rows_in": sum(s.rows for s in named(
            "SparkRedshiftBridge.write_table", "SparkRedshiftBridge.stage_csv")),
        "bridge.rows_out": sum(s.rows for s in named("SparkRedshiftBridge.read_sql")),
        "layout.apply_s": total(named("apply_layout")),
        "operators.build_s": total(pick(outer(lambda s: s.layer == "operators"))),
        "operators.py4j_calls": sum(s.py4j for s in pick(outer(lambda s: s.layer == "operators"))),
    }


def layer_self_times(spans: list[Span]) -> dict[str, tuple[int, float, float]]:
    """layer -> (calls, seconds in the layer's outermost spans, self
    seconds) over the spans inside timed ops.  A span's self time is its
    duration minus its children's."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, list] = {}
    for i, s in enumerate(spans):
        if s.op is None:
            continue
        row = out.setdefault(s.layer, [0, 0.0, 0.0])
        row[0] += 1
        row[2] += (s.end - s.start) - child[i]
        p = s.parent
        if p is None or spans[p].layer != s.layer:
            row[1] += s.end - s.start
    return {k: tuple(v) for k, v in out.items()}
