"""Steadiness evidence for BENCHMARK.json's bounds, and the traced
run's per-layer table with its overhead.

    python3 perfbench/evidence.py --runs 10 --sets 2 --seconds 5

For each set and workload it runs ``run.py`` ``--runs`` times, each
with another seed, each in a fresh ``run.py`` process, then reports for every
end-to-end metric the median, the quartiles and the spread (the
interquartile distance as a share of the median, via
``statistics.quantiles(values, n=4)``), and how far the second set's
median moved from the first's.  It then makes two traced runs per
workload, at the first set's first two seeds: their per-layer figures,
whether the exact counts repeat, and the tracing overhead each traced
run measured (its warm round traced minus the same round untraced).
Results go to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import CACHE, ROOT, WORKLOADS, quartiles, rel_spread  # noqa: E402
from report import load_benchmark  # noqa: E402

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
#: per-layer counts that must repeat exactly between two traced runs
EXACT_COUNTS = ("operators.py4j_calls", "exec.jobs", "bridge.rows_in")


def _run(workload: str, seed: int, seconds: float, trace: int, out: str) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    print(f"{workload} seed={seed} trace={trace} rc={proc.returncode} {last[:100]}", flush=True)
    if proc.returncode != 0:
        raise SystemExit(f"run failed:\n{proc.stderr[-3000:]}")


def _load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=load_benchmark()["run_seconds"])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--no-trace", action="store_true")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    raw = os.path.join(CACHE, "evidence")
    os.makedirs(raw, exist_ok=True)
    for s in range(args.sets):
        for wl in workloads:
            out = os.path.join(raw, f"set{s}-{wl}.jsonl")
            if os.path.exists(out):
                os.remove(out)
            for i in range(args.runs):
                _run(wl, 1000 * (s + 1) + i, args.seconds, 0, out)
    if not args.no_trace:
        for wl in workloads:
            out = os.path.join(raw, f"traced-{wl}.jsonl")
            if os.path.exists(out):
                os.remove(out)
            for i in range(2):
                _run(wl, 1000 + i, args.seconds, 1, out)
    write_report(raw, workloads, args)
    return 0


def write_report(raw: str, workloads: list[str], args) -> None:
    bench = load_benchmark()
    out = {"runs_per_set": args.runs, "sets": args.sets, "seconds": args.seconds,
           "workloads": {}}
    md = [
        "# Steadiness and traced-run evidence",
        "",
        f"`python3 perfbench/evidence.py --runs {args.runs} --sets {args.sets} "
        f"--seconds {args.seconds}` on a {os.cpu_count()}-core machine, Spark at "
        f"local[{len(os.sched_getaffinity(0))}]. Spread = (q3 - q1) / median of the "
        "runs of one set (`statistics.quantiles(values, n=4)`); drift = the second "
        "set's median against the first's, in the worse direction.",
        "",
    ]
    for wl in workloads:
        sets = [_load(os.path.join(raw, f"set{s}-{wl}.jsonl")) for s in range(args.sets)]
        rows = {}
        md += [f"## {wl}", "", "| metric | unit | bound | "
               + " | ".join(f"set {s + 1} median | set {s + 1} spread" for s in range(args.sets))
               + " | drift |", "|" + "---|" * (3 + 2 * args.sets + 1)]
        for m in bench["end_to_end"]:
            per_set = [[r["summary"]["metrics"][m["name"]] for r in runs] for runs in sets]
            meds = [quartiles(v)[1] for v in per_set]
            sign = -1.0 if m["better"] == "higher" else 1.0
            drift = sign * (meds[-1] - meds[0]) / meds[0]
            rows[m["name"]] = {
                "values": per_set, "medians": meds,
                "spreads": [rel_spread(v) for v in per_set], "drift": drift,
                "bound": m["bound"],
            }
            md.append(
                f"| {m['name']} | {m['unit']} | {m['bound']} | "
                + " | ".join(f"{med:.4g} | {rel_spread(v):.3f}" for med, v in zip(meds, per_set))
                + f" | {drift:+.3f} |"
            )
        fails = sum(r["summary"]["failed"] for runs in sets for r in runs)
        att = sum(r["summary"]["attempted"] for runs in sets for r in runs)
        probe = [quartiles([r["machine"]["start"]["cpu_probe_s"] for r in runs])[1] for runs in sets]
        md += ["", f"error_rate over all runs: {fails} failed / {att} attempted.", "",
               "Host CPU probe (`common.cpu_probe_s`), median per set: "
               + ", ".join(f"{p:.4f} s" for p in probe)
               + f" ({(probe[-1] - probe[0]) / probe[0]:+.3f} from the first set).", ""]
        entry = {"end_to_end": rows, "failed": fails, "attempted": att, "cpu_probe_s": probe}
        traced_path = os.path.join(raw, f"traced-{wl}.jsonl")
        if os.path.exists(traced_path):
            entry["traced"] = _traced(wl, _load(traced_path), bench, md)
        out["workloads"][wl] = entry
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "steadiness.json"), "w") as f:
        json.dump(out, f, indent=1)
    with open(os.path.join(RESULTS, "STEADINESS.md"), "w") as f:
        f.write("\n".join(md) + "\n")


def _traced(wl: str, traced: list[dict], bench: dict, md: list) -> dict:
    repeat = {k: [r["layers"][k] for r in traced] for k in EXACT_COUNTS}
    md += [f"### {wl}: traced runs (seeds {', '.join(str(r['seed']) for r in traced)})", "",
           "| per-layer metric | unit | " + " | ".join(f"seed {r['seed']}" for r in traced) + " |",
           "|---|---|" + "---|" * len(traced)]
    for m in bench["per_layer"]:
        md.append(f"| {m['name']} | {m['unit']} | "
                  + " | ".join(f"{r['layers'][m['name']]:.6g}" for r in traced) + " |")
    md += ["", "Layer self time inside ops (calls / layer total s / self s), first traced run:", ""]
    for layer, (calls, total, self_s) in sorted(traced[0]["self_times"].items()):
        md.append(f"- `{layer}`: {calls} / {total:.3f} / {self_s:.3f}")
    overhead = {}
    for r in traced:
        t = sum(o["s"] for o in r["ops"] if o["phase"] == "warm")
        u = sum(o["s"] for o in r["ops"] if o["phase"] == "untraced")
        overhead[r["seed"]] = {"traced_s": t, "untraced_s": u, "overhead_s": t - u}
    md += ["", "Exact counts across the two traced runs: "
           + ", ".join(f"`{k}` {v}" for k, v in repeat.items()), "",
           "Tracing overhead (warm round traced minus the same round untraced, same run): "
           + "; ".join(f"seed {s}: {o['traced_s']:.3f} s - {o['untraced_s']:.3f} s = "
                       f"{o['overhead_s']:+.3f} s ({o['overhead_s'] / o['untraced_s']:+.1%})"
                       for s, o in overhead.items()), ""]
    return {
        "layers": [r["layers"] for r in traced],
        "self_times": [r["self_times"] for r in traced],
        "exact_counts": repeat,
        "overhead": overhead,
    }


if __name__ == "__main__":
    sys.exit(main())
