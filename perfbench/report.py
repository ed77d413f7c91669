"""Turn a worker's raw result into metrics, and print them."""

from __future__ import annotations

import json
import os
import statistics

from common import ROOT, UNITS, quantile, tail_percentile


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summarize(res: dict) -> dict:
    """End-to-end metrics, counts and the tail's percentile of one run."""
    ops = res["ops"]
    ok = [o for o in ops if o["error"] is None]
    warm = [o for o in ok if o["phase"] == "warm"]
    cold = [o for o in ops if o["phase"] == "cold"]
    lat = [o["s"] for o in warm]
    p_tail = tail_percentile(res["warm_samples"])
    extra = res.get("cold_processes", [])
    extra_ops = [o for p in extra for o in p["ops"]]
    failed = sum(o["error"] is not None for o in ops + extra_ops) + sum(
        c["error"] is not None for c in res["checks"]
    )
    attempted = len(ops) + len(extra_ops) + len(res["checks"])
    # one sample per fresh process: the main worker's, then any cold-only ones
    setups = [res["setup_s"]] + [p["setup_s"] for p in extra]
    first_calls = [sum(o["s"] for o in cold)] + [sum(o["s"] for o in p["ops"]) for p in extra]
    m = {
        "setup_s": statistics.median(setups),
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "op_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "op_tail_s": quantile(lat, p_tail) if lat else 0.0,
        "first_call_s": statistics.median(first_calls),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if res["workload"] == "etl_bridge":
        by_cat = lambda c: [o for o in warm if o["cat"] == c]  # noqa: E731
        med = lambda os_: quantile([o["s"] for o in os_], 0.5) if os_ else 0.0  # noqa: E731
        loads = by_cat("write") + by_cat("staged_load")
        reads = by_cat("read")
        m.update({
            "read_p50_s": med(reads),
            "write_p50_s": med(by_cat("write")),
            "staged_load_p50_s": med(by_cat("staged_load")),
            "load_rows_per_s": sum(o["rows"] for o in loads) / sum(o["s"] for o in loads),
            "extract_rows_per_s": sum(o["rows"] for o in reads) / sum(o["s"] for o in reads),
        })
    return {
        "metrics": m,
        "samples": {"setup_s": setups, "first_call_s": first_calls},
        "tail_p": p_tail,
        "warm_n": len(lat),
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
    }


def human_lines(res: dict, summary: dict) -> list[str]:
    m = summary["metrics"]
    lines = [
        f"perfbench {res['workload']} seed={res['seed']} seconds={res['seconds']} "
        f"trace={res['trace']} local[{res['slots']}] warm_rounds={res['warm_rounds']}"
    ]
    for name, value in m.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{round(summary['tail_p'] * 100)} of {summary['warm_n']} warm ops)"
        elif name == "op_p50_s":
            note = f"  ({summary['warm_n']} warm ops)"
        elif name == "setup_s":
            note = "  (process start to session built, views registered, bridge connected)"
        if name in summary["samples"] and len(summary["samples"][name]) > 1:
            note += "  (median of " + ", ".join(f"{v:.4f}" for v in summary["samples"][name]) + ")"
        lines.append(f"  {name:20s} {value:14.6f} {UNITS[name]}{note}")
    lines.append(
        f"  {'error_rate':20s} {summary['error_rate']:14.6f} ratio"
        f"  ({summary['failed']} failed / {summary['attempted']} attempted)"
    )
    for o in res["ops"] + [o for p in res.get("cold_processes", []) for o in p["ops"]]:
        if o["error"]:
            lines.append(f"  FAILED op {o['op']}: {o['error'].strip().splitlines()[-1]}")
    for c in res["checks"]:
        if c["error"]:
            lines.append(f"  FAILED check {c['check']}: {c['error'].strip().splitlines()[-1]}")
    start, end = res["machine"]["start"], res["machine"]["end"]
    lines.append(
        f"  machine: loadavg {start['loadavg_1m']:.2f} -> {end['loadavg_1m']:.2f}, "
        f"MemAvailable {start['mem_available_mb']} -> {end['mem_available_mb']} MB, "
        f"CPU probe {start['cpu_probe_s']:.4f} -> {end['cpu_probe_s']:.4f} s"
    )
    for p in start["other_spark_or_pytest"]:
        lines.append(f"  WARNING: another Spark JVM or pytest was live at start: {p}")
    if "layers" in res:
        traced = sum(o["s"] for o in res["ops"] if o["phase"] == "warm")
        untraced = sum(o["s"] for o in res["ops"] if o["phase"] == "untraced")
        lines.append(
            f"  tracing overhead: warm round {traced:.4f} s traced, {untraced:.4f} s untraced "
            f"(same ops and order, right after): {traced - untraced:+.4f} s "
            f"({(traced - untraced) / untraced:+.1%})"
        )
        lines.append("  layer self times inside ops (calls, layer total s, self s):")
        for layer, (calls, total, self_s) in sorted(res["self_times"].items()):
            lines.append(f"    {layer:16s} {calls:7d} {total:12.4f} {self_s:12.4f}")
    return lines
