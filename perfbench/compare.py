"""Compare a parent result set with a change result set.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds full results appended by ``run.py --out`` (untraced
runs).  Runs are paired in file order, so make the parent and change
runs alternate, with the same seeds and ``--seconds`` on both sides.
For every workload and end-to-end metric it prints each side's median
and quartiles and a verdict:

- ``improved``: at least 10 pairs, the change wins at least 9 of every
  10 of them (ties count for neither), and the medians differ by more
  than the parent's interquartile distance;
- ``no worse``: the change's median is not worse than the parent's by
  more than the metric's bound in BENCHMARK.json, and the parent's
  spread is within that bound;
- ``worse``: the median is worse by more than the bound, with the
  spread within it;
- ``unresolved``: anything else, such as a spread wider than the bound.

Every verdict of a workload is ``unresolved`` when the median of the
host CPU probe (``common.cpu_probe_s``, taken at each run's start)
differs between the sides by more than ``HOST_SHIFT``: the host's speed
changed, and on a shared machine that alone has moved every metric by
30-40% between two sets of runs of the same code.  Alternating the
sides run by run keeps the probe, and the host, alike on both.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import quartiles  # noqa: E402
from report import load_benchmark  # noqa: E402

MIN_PAIRS = 10
WIN_SHARE = 0.9
HOST_SHIFT = 0.1


def load(path: str) -> dict[str, list[dict]]:
    """workload -> untraced results' metrics (plus the host probe as
    ``cpu_probe_s``), in file order."""
    out: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            res = json.loads(line)
            if not res["trace"]:
                out[res["workload"]].append(dict(
                    res["summary"]["metrics"], cpu_probe_s=res["machine"]["start"]["cpu_probe_s"]))
    return out


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    gain = sign * (cm - pm)
    if len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs) and gain > (p3 - p1):
        return "improved"
    spread_ok = (p3 - p1) <= bound * abs(pm)
    if spread_ok and -gain <= bound * abs(pm):
        return "no worse"
    if spread_ok:
        return "worse"
    if min(sign * c for c in change) > max(sign * p for p in parent):
        return "no worse"
    return "unresolved"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[0]), load(argv[1])
    metrics = load_benchmark()["end_to_end"]
    print(f"{'workload':15s} {'metric':14s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s}  pairs  verdict")
    for wl in sorted(set(parent) & set(change)):
        hp = quartiles([r["cpu_probe_s"] for r in parent[wl]])[1]
        hc = quartiles([r["cpu_probe_s"] for r in change[wl]])[1]
        host_moved = abs(hc - hp) > HOST_SHIFT * hp
        if host_moved:
            print(f"{wl}: host CPU probe median {hp:.4f} s -> {hc:.4f} s; verdicts unresolved")
        for m in metrics:
            pv = [r[m["name"]] for r in parent[wl]]
            cv = [r[m["name"]] for r in change[wl]]
            if len(pv) < 2 or len(cv) < 2:
                continue
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            v = "unresolved" if host_moved else verdict(pv, cv, m["better"], m["bound"])
            print(f"{wl:15s} {m['name']:14s} {fmt(quartiles(pv)):>32s} "
                  f"{fmt(quartiles(cv)):>32s}  {min(len(pv), len(cv)):5d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
