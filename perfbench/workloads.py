"""The benchmark's workloads. Each one drives the package through its
public API exactly as a user would, checks every output it produces, and,
given a tracer, records spans around its calls into the package.

- ``pages``: the flagship pipeline, pages → points → cells →
  point-in-polygon + tile pyramid, in both plan shapes per iteration: the
  fused plan with two concurrent sinks (the paper's headline job) and the
  staged plan through ``pipeline_stages`` + ``TableStore`` (six commits
  and a resume pass: the ``run_pipeline.py`` path).
- ``board``: one ``__spark_entry__.queries()`` entry per trajectory-mining
  and text-dedup module, cold block cache per query.

Why each exists, and which layer metric should move on which workload, is
in README.md beside this file."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

from harness import digest_of, median, now
from tracing import Tracer, maybe_span

# sizes per scale. ``full`` is what the benchmark measures; ``smoke`` is the
# seconds-long variant its own smoke test runs.
SCALES = {
    "full": {"pages": 20_000, "board_sf": "sf0.01"},
    "smoke": {"pages": 2_000, "board_sf": "sf0.001"},
}

# (query, layer): the board's queries, each charged to the package module
# that does its work
BOARD = [
    ("segment_cut", "segment"),
    ("symmetrize_norm", "similarity"),
    ("map_match", "map_match"),
    ("cell_walks", "walks"),
    ("knn", "knn"),
    ("minhash_lsh", "dedup"),
    ("doc_fingerprint", "text"),
    ("ann_topk", "ann"),
]

# stage of pipeline_stages → the module whose operator it runs
STAGE_LAYER = {
    "points": "extract",
    "cells": "cells",
    "collapsed": "staypoints",
    "pip_join": "spatial_join",
    "tiles": "raster",
}

PIP_COLS = ["url", "pos", "cell_id"]

# ``--seed`` selects one of this many page-id windows. make_page stamps page
# i at 15·i seconds after 2024-01-01, and past about 25,000 windows of
# 20,000 pages those stamps leave what pandas can represent (year 2262), so
# every seed, however large or negative, is folded into this range.
PAGE_WINDOWS = 1000


def page_window(seed: int) -> int:
    return seed % PAGE_WINDOWS


# rounds of the flagship's noop-sunk prefixes; each prefix keeps its fastest
PREFIX_ROUNDS = 2

MB = 1e6


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ledger:
    """Operations attempted and failed. An operation is one sink, one stage
    commit, one resume pass or one board query; an output that fails its
    check is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn, *args):
        """Run one operation; a raised exception counts as a failure and
        yields None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the benchmark reports, never dies
            self.failed += 1
            log(f"FAILED {label}:\n{traceback.format_exc()}")
            return None

    def lost(self, label: str, n: int) -> None:
        """``n`` operations that could not start because ``label`` raised
        (call from the ``except`` block)."""
        self.attempted += n
        self.failed += n
        log(f"FAILED {label}:\n{traceback.format_exc()}")

    def check(self, label: str, got, want) -> None:
        """Charge a mismatch to the operation that produced ``got`` (already
        counted as attempted)."""
        if got is None:
            return  # the operation itself failed and was counted
        if want is not None and got != want:
            self.failed += 1
            log(f"CHECK FAILED {label}: got {got}, want {want}")


def pages_frame(spark, start: int, n: int, parts: int):
    """Pages ``start .. start+n-1`` from ``sources.pages.make_page`` (with
    the hot-cell skew the flagship is built to handle)."""
    import pandas as pd
    from trajlib_spark.sources.pages import make_page

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), skew=True) for i in pdf["id"]]
            out = pd.DataFrame(rows, columns=["url", "ts_ms", "html", "text", "lang"])
            out["warc_ts"] = pd.to_datetime(out.pop("ts_ms"), unit="ms", utc=True)
            yield out[["url", "warc_ts", "html", "text", "lang"]]

    return spark.range(start, start + n, 1, parts).mapInPandas(
        gen, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)``."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def capture(sink: list):
    """Wrapper factory: call through and keep the returned DataFrame."""
    def wrap(fn):
        def inner(*a, **kw):
            out = fn(*a, **kw)
            sink.append(out)
            return out
        return inner
    return wrap


class Workload:
    name = ""
    # warm iterations a run makes however long they take; more follow
    # while --seconds have not passed. Both workloads' warm iterations take
    # longer than BENCHMARK.json's run_seconds, so every run makes exactly
    # one and no run reports a different mix of warm-up than another.
    min_warm = 1

    def __init__(self, spark, ctx: dict, ledger: Ledger, expected: dict):
        self.spark = spark
        self.ctx = ctx  # root, work, data, scale, seed, cores
        self.ledger = ledger
        self.expected = expected  # recorded digests for this seed, may be {}
        self.seen: dict = {}  # first value of every output, for consistency

    def want(self, key: str):
        """The recorded value of an output, else the first value it took in
        this run (so every iteration must agree with the first)."""
        return self.expected.get(key, self.seen.get(key))

    def checked(self, key: str, got) -> None:
        self.ledger.check(f"{self.name}.{key}", got, self.want(key))
        if got is not None:
            self.seen.setdefault(key, got)

    def sf_dir(self) -> str:
        return os.path.join(self.ctx["work"], "tables")

    def polygons(self):
        from trajlib_spark.sources import synth

        return synth.synthetic_polygons(self.spark, self.sf_dir())

    def copy_tables(self) -> None:
        src = os.path.join(self.ctx["data"], SCALES[self.ctx["scale"]]["board_sf"])
        shutil.copytree(src, self.sf_dir(), dirs_exist_ok=True)


class Pages(Workload):
    """The flagship pipeline in both of its plan shapes, over one seeded
    page window. An iteration runs the fused plan (two concurrent sinks:
    pip join and tile pyramid) and then the staged plan (six TableStore
    commits into a fresh store root, then a resume pass that must skip all
    six)."""

    name = "pages"
    TABLES = ("pages", "points", "cells", "collapsed", "pip_join", "tiles")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_iter = 0
        self.last_root: str | None = None
        self.samples: list[dict] = []  # fused / staged seconds per untraced iteration

    @property
    def n_pages(self) -> int:
        return SCALES[self.ctx["scale"]]["pages"]

    @property
    def pages_path(self) -> str:
        return os.path.join(self.ctx["work"], "pages")

    def materialize(self) -> None:
        """Generate this seed's page window and store it as parquet."""
        self.copy_tables()
        n = self.n_pages
        pages_frame(
            self.spark, page_window(self.ctx["seed"]) * n, n, 2 * self.ctx["cores"]
        ).write.mode("overwrite").parquet(self.pages_path)

    # --- fused plan -----------------------------------------------------------

    def _plan(self, tr: Tracer | None):
        from trajlib_spark.config import PORTO_GRID as G
        from trajlib_spark.operators import cells, extract, raster, spatial_join

        pg = self.spark.read.parquet(self.pages_path)
        polys = self.polygons()
        with maybe_span(tr, "extract.pages_to_points"):
            raw = extract.pages_to_points(pg)
        with maybe_span(tr, "cells.with_cell"):
            pts = cells.with_cell(raw, G)
        with maybe_span(tr, "spatial_join.point_in_polygon"):
            pip = spatial_join.point_in_polygon(pts, polys, G, point_cols=PIP_COLS)
        with maybe_span(tr, "raster.tile_counts"):
            tiles = raster.tile_counts(pts, G)
        return raw, pts, pip, tiles

    def _fused(self, tr: Tracer | None) -> dict:
        """Build the fused plan and run its two sinks concurrently, as a user
        with a two-output DAG would; returns {output: digest}."""
        try:
            _, _, pip, tiles = self._plan(tr)
        except Exception:  # noqa: BLE001 - both sinks are lost
            self.ledger.lost("pages.plan", 2)
            return {}
        parent = tr.current() if tr is not None else None

        def sink(key, df):
            with maybe_span(tr, f"sink.{key}", parent=parent):
                return self.ledger.run(f"pages.{key}", digest_of, df)

        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = {k: ex.submit(sink, k, df) for k, df in (("pip", pip), ("tiles", tiles))}
        return {k: f.result() for k, f in futs.items()}

    # --- staged plan ----------------------------------------------------------

    def _stages(self, tr: Tracer | None):
        from trajlib_spark.plans.pages_pipeline import pipeline_stages

        stages = pipeline_stages(self.spark.read.parquet(self.pages_path), self.polygons())
        if tr is None:
            return stages

        def traced(name, fn):
            def call(spark, store):
                with tr.span(f"stage.{name}"):
                    return fn(spark, store)
            return call

        return [(name, traced(name, fn)) for name, fn in stages]

    def _store(self, root: str, tr: Tracer | None):
        from trajlib_spark.sources.store import TableStore

        store = TableStore(root)
        if tr is not None:
            save = store.save

            def traced_save(df, table, stage=None, partition_by=None):
                with tr.span(f"store.save.{table}"):
                    return save(df, table, stage=stage, partition_by=partition_by)

            store.save = traced_save  # this instance only
        return store

    def _staged(self, tr: Tracer | None, root: str):
        """Commit every stage, then resume; returns the two status maps."""
        from trajlib_spark.sources.store import run_stages

        store = self._store(root, tr)
        stages = self._stages(tr)
        with maybe_span(tr, "store.run_stages"):
            status = self.ledger.run("pages.run_stages", run_stages, self.spark, store, stages)
        with maybe_span(tr, "store.resume"):
            resumed = self.ledger.run("pages.resume", run_stages, self.spark, store, stages)
        return status, resumed

    def _check_staged(self, root: str, status, resumed) -> None:
        # one operation per stage commit: run_stages itself was counted once
        self.ledger.attempted += len(self.TABLES) - 1
        if status is None:
            self.ledger.failed += len(self.TABLES) - 1
        else:
            for table in self.TABLES:
                if status.get(table) != "computed":
                    self.ledger.failed += 1
                    log(f"CHECK FAILED pages.{table}: status {status.get(table)}")
                    continue
                self.checked(f"rows.{table}", _manifest_rows(root, table))
        if resumed is not None and set(resumed.values()) != {"skipped"}:
            self.ledger.failed += 1
            log(f"CHECK FAILED pages.resume: {resumed}")

    # --- one iteration ----------------------------------------------------------

    def iteration(self, tr: Tracer | None = None) -> float:
        if self.last_root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.n_iter += 1
        root = os.path.join(self.ctx["work"], f"store-{self.n_iter}")
        shutil.rmtree(root, ignore_errors=True)
        self.last_root = root
        with maybe_span(tr, "pages.iteration"):
            t0 = now()
            with maybe_span(tr, "fused"):
                outs = self._fused(tr)
            t1 = now()
            with maybe_span(tr, "staged"):
                status, resumed = self._staged(tr, root)
            t2 = now()
        for key, got in outs.items():
            self.checked(key, got)
        self._check_staged(root, status, resumed)
        if tr is None:
            self.samples.append({"fused": t1 - t0, "staged": t2 - t1})
        return t2 - t0

    def snapshot_digests(self) -> dict:
        from trajlib_spark.sources.store import TableStore

        store = TableStore(self.last_root)
        return {t: digest_of(store.load(self.spark, t)) for t in self.TABLES}

    def final_check(self) -> None:
        """Every snapshot of the last iteration against its recorded digest,
        and the pip_join / tiles snapshots against the fused plan's outputs
        over the same pages — for any seed, recorded or not."""
        snaps = self.ledger.run("pages.snapshots", self.snapshot_digests) or {}
        for table in self.TABLES:
            self.checked(table, snaps.get(table))
        for snap, fused in (("pip_join", "pip"), ("tiles", "tiles")):
            self.ledger.check(f"pages.{snap}=fused.{fused}",
                              snaps.get(snap), self.want(fused))

    # --- per-layer numbers ----------------------------------------------------

    def layer_metrics(self, tr: Tracer) -> dict:
        """Per-layer numbers from the traced iterations, plus two untimed
        passes. Fused shape: rounds of noop-sunk prefixes, scan+mine ⊂
        cells ⊂ pip / tiles; a layer's self time is the difference between
        the prefixes around it. Staged shape: every stage noop-sunk over the
        last iteration's snapshots, which splits its compute from its
        commit."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from trajlib_spark.sources.store import TableStore

        prefix: dict[str, list[dict]] = {}
        rows = {}
        for rnd in range(PREFIX_ROUNDS):
            raw, pts, pip, tiles = self._plan(None)
            for key, df in (("scan_mine", raw), ("cells", pts), ("pip", pip),
                            ("tiles", tiles)):
                obs = Observation(f"rows_{key}_{rnd}")
                with tr.span(f"prefix.{key}") as sp:
                    noop_sink(df.observe(obs, F.count(F.lit(1)).alias("n")))
                prefix.setdefault(key, []).append(sp)
                rows[key] = int(obs.get["n"])
        with tr.span("attr.candidate_rows"):
            cand = self.candidate_rows(pts)
        store = TableStore(self.last_root)
        noop = {}
        for name, fn in self._stages(None):
            df = fn(self.spark, store)
            with tr.span(f"noop.{name}") as sp:
                noop_sink(df)
            noop[name] = _dur(sp)
        tr.collect()

        def fastest(key):
            return min(_dur(sp) for sp in prefix[key])

        def med(name, fn):
            return median([fn(s) for s in tr.named(name)])

        iters = tr.named("staged")

        def saves(it):
            return [s for s in tr.descendants(it) if s["name"].startswith("store.save.")]

        def save_stat(key):
            return median([sum(s["stats"][key] for s in saves(it)) for it in iters])

        save_s = median([sum(_dur(s) for s in saves(it)) for it in iters])
        snap_bytes = sum(_dir_bytes(os.path.join(self.last_root, t, "data"))
                         for t in self.TABLES)
        written = save_stat("output_bytes") + save_stat("shuffle_bytes") + save_stat("spill_bytes")
        m = {
            "extract.self_s": fastest("scan_mine"),
            "extract.rows_out": rows["scan_mine"],
            "extract.py_start_s": median(
                [sp["stats"]["py_start_s"] for sp in prefix["scan_mine"]]),
            "extract.py_mb": median([_py_mb(sp["stats"]) for sp in prefix["scan_mine"]]),
            "cells.self_s": fastest("cells") - fastest("scan_mine"),
            "cells.rows_out": rows["cells"],
            "spatial_join.self_s": fastest("pip") - fastest("cells"),
            "raster.self_s": fastest("tiles") - fastest("cells"),
            "spatial_join.call_s": med("spatial_join.point_in_polygon", _dur),
            "spatial_join.eager_jobs": med(
                "spatial_join.point_in_polygon", lambda s: s["stats"]["jobs"]),
            "spatial_join.candidate_rows": cand,
            "spatial_join.refine_yield": rows["pip"] / cand if cand else 0.0,
            "spatial_join.shuffle_mb": med(
                "sink.pip", lambda s: tr.subtree_stat(s, "shuffle_bytes") / MB),
            "spatial_join.spill_mb": med(
                "sink.pip", lambda s: tr.subtree_stat(s, "spill_bytes") / MB),
            "raster.shuffle_mb": med(
                "sink.tiles", lambda s: tr.subtree_stat(s, "shuffle_bytes") / MB),
            "staypoints.self_s": noop["collapsed"],
            "store.save_s": save_s,
            "store.write_s": save_s - sum(noop.values()),
            "store.jobs_per_save": save_stat("jobs") / len(self.TABLES),
            "store.written_mb": save_stat("output_bytes") / MB,
            "store.write_amp": written / snap_bytes if snap_bytes else 0.0,
            "store.resume_s": med("store.resume", _dur),
            # samples[0] is the cold iteration
            "pages_pipeline.fused_s": median([s["fused"] for s in self.samples[1:]]),
            "pages_pipeline.staged_s": median([s["staged"] for s in self.samples[1:]]),
        }
        for stage, layer in STAGE_LAYER.items():
            if layer != "staypoints":
                m[f"{layer}.staged_self_s"] = noop[stage]
        return m

    def candidate_rows(self, pts) -> int:
        """Point × covering-cell pairs the pip join probes before refine."""
        from pyspark.sql import functions as F
        from trajlib_spark.config import PORTO_GRID as G
        from trajlib_spark.operators import spatial_join

        cov = spatial_join.polygon_covering_cells(self.polygons(), G).select("cell_id")
        return pts.select("cell_id").join(F.broadcast(cov), "cell_id").count()

    def traced_wall(self, tr: Tracer) -> list[float]:
        return [sum(_dur(c) for c in tr.children(it) if c["name"] in ("fused", "staged"))
                for it in tr.named("pages.iteration")]


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _py_mb(stats: dict) -> float:
    return (stats["py_sent_bytes"] + stats["py_returned_bytes"]) / MB


def record_pages(spark, ctx: dict, seeds: list[int]) -> dict:
    """Expected outputs of the pages workload for each seed: the fused
    plan's pip / tiles digests, every snapshot's digest and row count.
    Refuses to record a seed whose two plan shapes disagree."""
    out = {}
    for seed in seeds:
        ledger = Ledger()
        wl = Pages(spark, dict(ctx, seed=seed), ledger, {})
        wl.materialize()
        wl.iteration()
        snaps = wl.snapshot_digests()
        if ledger.failed or snaps["pip_join"] != wl.seen["pip"] or snaps["tiles"] != wl.seen["tiles"]:
            raise RuntimeError(f"seed {seed}: failed operations or plan shapes disagree")
        out[str(page_window(seed))] = {"pip": wl.seen["pip"], "tiles": wl.seen["tiles"], **snaps,
                          **{k: v for k, v in wl.seen.items() if k.startswith("rows.")}}
        log(f"recorded seed {seed}: {wl.seen['pip'][0]} pip rows")
    return out


def _manifest_rows(root: str, table: str) -> list:
    """[row_count] from a committed snapshot's manifest (the layout the
    store documents: <root>/<table>/_manifest.json)."""
    with open(os.path.join(root, table, "_manifest.json")) as f:
        return [int(json.load(f)["row_count"])]


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Board(Workload):
    name = "board"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.samples: list[dict] = []  # per-query seconds of each untraced iteration

    def materialize(self) -> None:
        """Copy the fixed seed-42 tables into the run's directory and read
        each once. The seed has no effect on this workload."""
        self.copy_tables()
        for table in ("events", "documents", "embeddings", "nation"):
            self.spark.read.parquet(os.path.join(self.sf_dir(), f"{table}.parquet")).count()

    def _clear_cache(self) -> int:
        """Drop every cached block; returns how many RDDs were still
        persisted beforehand."""
        jsc = self.spark.sparkContext._jsc
        left = jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        return left

    def run_query(self, query: str, tr: Tracer | None = None):
        """Build and sink one query; returns (seconds, digest)."""
        import __spark_entry__ as entry

        fn = entry.queries()[query]
        t0 = now()
        with maybe_span(tr, f"q.{query}", layer=dict(BOARD)[query]) as sp:
            def build_and_sink():
                with maybe_span(tr, "build"):
                    df = fn(self.spark, self.sf_dir())
                with maybe_span(tr, "sink"):
                    return digest_of(df)
            got = self.ledger.run(f"board.{query}", build_and_sink)
        dt = now() - t0
        left = self._clear_cache()
        if sp is not None:
            sp["cached_rdds_left"] = left
        return dt, got

    def iteration(self, tr: Tracer | None = None) -> float:
        self._clear_cache()
        times = {}
        with maybe_span(tr, "board.iteration"):
            for query, _ in BOARD:
                times[query], got = self.run_query(query, tr)
                self.checked(query, got)
        if tr is None:
            self.samples.append(times)
        return sum(times.values())

    def final_check(self) -> None:
        for query, _ in BOARD:
            if query not in self.expected:
                self.ledger.failed += 1
                log(f"CHECK FAILED board.{query}: no recorded digest")

    def reference(self) -> dict:
        out = {}
        for query, _ in BOARD:
            out[query] = self.run_query(query)[1]
        return out

    def layer_metrics(self, tr: Tracer) -> dict:
        """Per-query and per-module numbers from the traced iterations, plus
        one extra run of the two queries whose candidate counts come from
        wrapping a public function."""
        from trajlib_spark.operators import dedup, map_match

        counts = {}
        for query, module, fname in (("minhash_lsh", dedup, "lsh_candidates"),
                                     ("map_match", map_match, "candidate_edges")):
            frames: list = []
            with patched(module, fname, capture(frames)):
                _, got = self.run_query(query)
            self.checked(query, got)
            with tr.span(f"attr.{fname}"):
                counts[query] = (sum(f.count() for f in frames), got[0] if got else 0)
        tr.collect()

        per_query = {}
        for query, layer in BOARD:
            spans = tr.named(f"q.{query}")
            builds = [c for s in spans for c in tr.children(s) if c["name"] == "build"]
            per_query[query] = {
                "wall_s": median([s["end"] - s["start"] for s in spans]),
                "eager_jobs": median([b["stats"]["jobs"] for b in builds]),
                "shuffle_mb": median([tr.subtree_stat(s, "shuffle_bytes") / MB for s in spans]),
                "cached_rdds_left": median([s["cached_rdds_left"] for s in spans]),
                "py_start_s": median([tr.subtree_stat(s, "py_start_s") for s in spans]),
                "py_mb": median([(tr.subtree_stat(s, "py_sent_bytes")
                                  + tr.subtree_stat(s, "py_returned_bytes")) / MB
                                 for s in spans]),
            }
        m = {f"q.{q}.wall_s": v["wall_s"] for q, v in per_query.items()}
        for query, layer in BOARD:
            for key, v in per_query[query].items():
                m[f"{layer}.{key}"] = m.get(f"{layer}.{key}", 0.0) + v
        cand, pairs = counts["minhash_lsh"]
        m["dedup.candidate_pairs"] = cand
        m["dedup.verify_yield"] = pairs / cand if cand else 0.0
        m["map_match.probe_rows"] = counts["map_match"][0]
        return m

    def traced_wall(self, tr: Tracer) -> list[float]:
        walls = []
        for it in tr.named("board.iteration"):
            walls.append(sum(s["end"] - s["start"] for s in tr.children(it)))
        return walls


WORKLOADS = {w.name: w for w in (Pages, Board)}
