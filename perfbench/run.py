"""trajlib_spark benchmark: one workload per run, end-to-end metrics with
tracing off, per-layer metrics from a traced run.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. Workloads: pages, board (see
README.md). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record (host identity, contention window, every sample), which
``compare.py`` reads. ``--record-digests`` recomputes the expected output
digests and stores them in digests.json instead of measuring.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# how many times set-up's input materialization repeats (setup_s takes the
# median, so one slow repetition cannot move it)
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "self_s": "s", "call_s": "s", "wall_s": "s", "save_s": "s", "write_s": "s",
    "resume_s": "s", "py_start_s": "s", "overhead_s": "s", "fused_s": "s",
    "staged_s": "s", "staged_self_s": "s",
    "rows_out": "count", "eager_jobs": "count", "candidate_rows": "count",
    "jobs_per_save": "count", "cached_rdds_left": "count", "probe_rows": "count",
    "candidate_pairs": "count", "spans": "count",
    "refine_yield": "ratio", "write_amp": "ratio", "verify_yield": "ratio",
    "py_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB", "written_mb": "MB",
}


def per_layer_names() -> list[str]:
    from workloads import BOARD

    names = [
        "pages_pipeline.fused_s", "pages_pipeline.staged_s",
        "extract.self_s", "extract.staged_self_s", "extract.rows_out",
        "extract.py_start_s", "extract.py_mb",
        "cells.self_s", "cells.staged_self_s", "cells.rows_out",
        "spatial_join.self_s", "spatial_join.staged_self_s", "spatial_join.call_s",
        "spatial_join.eager_jobs", "spatial_join.candidate_rows",
        "spatial_join.refine_yield", "spatial_join.shuffle_mb", "spatial_join.spill_mb",
        "raster.self_s", "raster.staged_self_s", "raster.shuffle_mb",
        "staypoints.self_s",
        "store.save_s", "store.write_s", "store.jobs_per_save", "store.written_mb",
        "store.write_amp", "store.resume_s",
        "segment.wall_s", "segment.eager_jobs", "segment.shuffle_mb",
        "similarity.wall_s", "similarity.eager_jobs", "similarity.cached_rdds_left",
        "similarity.py_start_s", "similarity.py_mb",
        "map_match.wall_s", "map_match.probe_rows", "map_match.py_mb",
        "walks.wall_s", "walks.eager_jobs", "knn.wall_s",
        "dedup.wall_s", "dedup.eager_jobs", "dedup.cached_rdds_left",
        "dedup.candidate_pairs", "dedup.verify_yield", "dedup.shuffle_mb",
        "text.wall_s", "text.py_start_s", "text.py_mb",
        "ann.wall_s", "ann.eager_jobs",
    ]
    names += [f"q.{q}.wall_s" for q, _ in BOARD]
    names += ["trace.overhead_s", "trace.spans"]
    return names


def layer_unit(name: str) -> str:
    return LAYER_UNITS[name.rsplit(".", 1)[1]]


def load_digests(scale: str, workload: str, seed: int) -> dict:
    """Recorded outputs: per seed for the pages workloads, one set for the
    board (whose tables do not depend on the seed)."""
    path = os.path.join(HERE, "digests.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        table = json.load(f).get(scale, {})
    if workload == "board":
        return table.get("board", {})
    from workloads import page_window

    return table.get("pages", {}).get(str(page_window(seed)), {})


def store_digests(scale: str, key: str, values: dict) -> None:
    path = os.path.join(HERE, "digests.json")
    table = {}
    if os.path.exists(path):
        with open(path) as f:
            table = json.load(f)
    table.setdefault(scale, {}).setdefault(key, {}).update(values)
    text = json.dumps(table, sort_keys=True, indent=1)
    # one line per digest: [rows, "hash sum"]
    text = re.sub(r"\[[^\[\]{}]*\]", lambda m: json.dumps(json.loads(m.group(0))), text)
    with open(path, "w") as f:
        f.write(text + "\n")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pages", "board"])
    ap.add_argument("--seed", type=int, default=0,
                    help="selects the page-id window of the pages workloads "
                         "(seed mod 1000); "
                         "board reads fixed tables and ignores it")
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="how long the warm iterations run")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--record-digests", metavar="SEEDS", type=seed_range,
                    help="store the expected output digests (for the pages "
                         "workloads, of seeds LO-HI) instead of measuring")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fail here, before any output, when the program is not beside us
    import pyspark  # noqa: F401
    import trajlib_spark  # noqa: F401

    import harness
    from harness import Window, box_cores, host_identity, median, now
    from tracing import Tracer
    from workloads import WORKLOADS, Ledger, record_pages

    data = os.path.join(HERE, "data")
    if not os.path.isdir(data):
        raise SystemExit(f"missing input tables: {data}")
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = box_cores()
    ctx = {"root": ROOT, "work": work, "data": data, "scale": args.scale,
           "seed": args.seed, "cores": cores}
    cls = WORKLOADS[args.workload]
    ledger = Ledger()
    expected = load_digests(args.scale, args.workload, args.seed)

    t0 = now()
    spark = harness.start_session(ROOT, work, cores)
    session_s = now() - t0
    try:
        wl = cls(spark, ctx, ledger, expected)
        if args.record_digests:
            if args.workload == "board":
                wl.materialize()
                store_digests(args.scale, "board", wl.reference())
            else:
                store_digests(args.scale, "pages",
                              record_pages(spark, ctx, args.record_digests))
            return 0
        setups = []
        for _ in range(SETUP_REPEATS):
            t = now()
            wl.materialize()
            setups.append(now() - t)
        setup_s = session_s + median(setups)

        tracer = Tracer(spark) if args.trace else None
        untraced: list[float] = []
        steal: list[float] = []  # CPU steal % during each untraced warm iteration
        with Window() as win:
            cold_s = wl.iteration()
            t_warm, rounds = now(), 0
            while (rounds < wl.min_warm or now() - t_warm < args.seconds
                   or (tracer is not None and rounds < 2)):
                # with tracing, untraced and traced iterations alternate in
                # ABBA order, so their difference is the tracing overhead
                # and not the warm-up drift between iterations
                order = ([None] if tracer is None
                         else [None, tracer] if rounds % 2 == 0 else [tracer, None])
                for tr in order:
                    if tr is None:
                        c0 = harness.cpu_sample()
                        untraced.append(wl.iteration())
                        steal.append(harness.steal_pct(c0, harness.cpu_sample()))
                    else:
                        wl.iteration(tr)
                        tr.collect()
                rounds += 1
        wl.final_check()
        layers = {}
        if tracer is not None:
            layers = wl.layer_metrics(tracer)
            traced = wl.traced_wall(tracer)
            layers["trace.overhead_s"] = median(traced) - median(untraced)
            layers["trace.spans"] = len(tracer.spans)
            trace_dir = os.path.join(HERE, "_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
            tracer.write_jsonl(trace_path)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    wall_s = median(untraced)
    window = win.stats()
    e2e = {"setup_s": setup_s, "cold_s": cold_s, "wall_s": wall_s,
           "peak_rss_mb": window["peak_rss_mb"]}
    error_rate = ledger.failed / max(1, ledger.attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "host": host_identity(), "cores_used": cores,
        "window": window, "metrics": e2e, "error_rate": error_rate,
        "setup_samples": setups, "session_s": session_s,
        "warm_samples": untraced, "warm_steal_pct": steal,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
    }
    if args.workload == "pages":
        record["pages_per_s"] = wl.n_pages / wall_s
    record["iteration_samples"] = wl.samples
    if tracer is not None:
        record["layers"] = layers
        record["trace_file"] = os.path.relpath(trace_path, ROOT)

    summary = [f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items()]
    if "pages_per_s" in record:
        summary.append(f"pages_per_s={record['pages_per_s']:.1f} pages/s")
    summary.append(f"error_rate={error_rate:.4f} ratio")
    print(f"{args.workload}: " + " ".join(summary))
    print("record " + json.dumps(record, sort_keys=True))
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {n: {"value": float(v), "unit": END_TO_END[n]} for n, v in e2e.items()}
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
