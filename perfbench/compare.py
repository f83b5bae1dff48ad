"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/compare.py parent.out change.out

Each file holds the stdout of one or more ``run.py`` runs; only their
``record`` lines are read. Records from different hosts (CPU count, CPU
model, RAM, Spark or Python version) are never pooled or compared: the
comparison is refused with exit code 2. For each workload and metric it
prints both medians and quartiles and flags the change as worse by more
than the metric's bound in BENCHMARK.json, or as unresolved when either
side's own spread exceeds that bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def read_records(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            if line.startswith("record "):
                out.append(json.loads(line[len("record "):]))
    return out


def host_key(rec: dict) -> str:
    return json.dumps(rec["host"], sort_keys=True)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def compare(a: list[dict], b: list[dict], bounds: dict) -> list[str]:
    hosts = {host_key(r) for r in a + b}
    if len(hosts) > 1:
        raise ValueError("records come from different hosts:\n  " + "\n  ".join(sorted(hosts)))
    lines = []
    for wl in sorted({r["workload"] for r in a + b}):
        ra = [r for r in a if r["workload"] == wl and not r["trace"]]
        rb = [r for r in b if r["workload"] == wl and not r["trace"]]
        if not ra or not rb:
            lines.append(f"{wl}: missing on one side ({len(ra)} vs {len(rb)} runs)")
            continue
        for metric, (better, bound) in bounds.items():
            xa = [r["metrics"][metric] for r in ra]
            xb = [r["metrics"][metric] for r in rb]
            qa, qb = quartiles(xa), quartiles(xb)
            spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
            change = (qb[1] - qa[1]) / qa[1]
            worse = change if better == "lower" else -change
            verdict = ("unresolved" if spread > bound
                       else "worse" if worse > bound else "within bound")
            lines.append(
                f"{wl} {metric}: A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(xa)}"
                f" | B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(xb)}"
                f" | {change:+.1%} ({verdict}, bound {bound:.0%})")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    try:
        lines = compare(read_records(argv[0]), read_records(argv[1]), bounds)
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
