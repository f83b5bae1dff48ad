"""Spans around calls into the package, attributed to Spark's own metrics.

A span is one call into a module's public function, one sink or one board
query: name, start, end, parent and a Spark job group. Every job a span's
thread fires while the span is open carries the span's job group, so after
an iteration the tracer reads Spark's status stores from outside the
package and charges to each span:

- its jobs (``eager_jobs`` for a call that runs jobs before any sink);
- the stage metrics of those jobs: shuffle write, disk spill, output bytes;
- the SQL node metrics of the executions those jobs belong to: time to
  start Python workers and bytes sent to and returned from them.

Spans stay in memory and are written out as JSONL when the run ends."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading

from harness import now

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
# SQL node metrics summed per span, by the name Spark gives them
_SQL_METRICS = {
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}
_STAGE_FIELDS = {
    "shuffleWriteBytes": "shuffle_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value → bytes or seconds. A metric
    summed over several tasks reads 'total (min, med, max …)\\n<total> (…)';
    a single value reads '<value>'."""
    line = text.strip().splitlines()[-1] if text.strip() else ""
    head = line.split("(")[0].strip().replace(",", "")
    if not head:
        return 0.0
    parts = head.split()
    value = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


class Tracer:
    """Records spans and, on ``collect()``, fills in each closed span's
    Spark statistics (``span["stats"]``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._core = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.t0 = now()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        """The innermost open span of this thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        """Open a span on this thread. Its parent is ``parent`` if given
        (for spans opened on worker threads), else the innermost open span
        of this thread."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = next(self._ids)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}",
            "start": now() - self.t0,
            **attrs,
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = now() - self.t0
            stack.pop()
            if prev:
                self.sc.setJobGroup(prev, prev)
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(sp)

    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def collect(self) -> None:
        """Attach Spark statistics to every span that has none yet. Call it
        after the spans' jobs have finished (between iterations)."""
        pending = [s for s in self.spans if "stats" not in s]
        if not pending:
            return
        self._core.listenerBus().waitUntilEmpty()
        jobs = self._json(self._core.statusStore().jobsList(None))
        store = self._core.statusStore()
        stages = self._json(
            store.stageList(None, False, False,
                            getattr(store, "stageList$default$4")(), None)
        )
        execs = self._json(self._sql.executionsList())
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        stage_by_id: dict[int, list[dict]] = {}
        for st in stages:
            stage_by_id.setdefault(st["stageId"], []).append(st)
        exec_by_job: dict[int, dict] = {}
        for ex in execs:
            for jid in ex.get("jobs", {}):
                exec_by_job[int(jid)] = ex
        for sp in pending:
            sp_jobs = by_group.get(sp["group"], [])
            stats = {k: 0.0 for k in _STAGE_FIELDS.values()}
            stats.update({k: 0.0 for k in _SQL_METRICS.values()})
            stats["jobs"] = len(sp_jobs)
            seen_stages, seen_execs = set(), set()
            for j in sp_jobs:
                for sid in j.get("stageIds", []):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    for st in stage_by_id.get(sid, []):
                        for field, key in _STAGE_FIELDS.items():
                            stats[key] += float(st.get(field) or 0)
                ex = exec_by_job.get(int(j["jobId"]))
                if ex is not None and ex["executionId"] not in seen_execs:
                    seen_execs.add(ex["executionId"])
                    values = ex.get("metricValues") or {}
                    for m in ex.get("metrics", []):
                        key = _SQL_METRICS.get(m["name"])
                        text = values.get(str(m["accumulatorId"]))
                        if key and text:
                            stats[key] += parse_metric(text)
            sp["stats"] = stats

    # --- aggregation ------------------------------------------------------------

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], self.children(sp)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def subtree_stat(self, sp: dict, key: str) -> float:
        """A statistic summed over a span and all its descendants."""
        return sum(s.get("stats", {}).get(key, 0.0) for s in [sp] + self.descendants(sp))

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part of it its children cover."""
        covered, reach = 0.0, sp["start"]
        for start, end in sorted((c["start"], c["end"]) for c in self.children(sp)):
            start, end = max(start, reach), min(end, sp["end"])
            if end > start:
                covered += end - start
                reach = end
        return (sp["end"] - sp["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                rec = dict(sp)
                rec["dur_s"] = sp["end"] - sp["start"]
                rec["self_s"] = self.self_time(sp)
                f.write(json.dumps(rec, default=str) + "\n")


def maybe_span(tracer: Tracer | None, name: str, parent: dict | None = None, **attrs):
    """A span when tracing, else a no-op context yielding None."""
    if tracer is None:
        return contextlib.nullcontext(None)
    return tracer.span(name, parent=parent, **attrs)
