"""The benchmark's own smoke test: a tiny run of every workload (2,000 pages,
the sf0.001 board tables), untraced and traced. Every metric that
BENCHMARK.json names must be printed with its unit, and every output check
must pass. Run from the root of a checkout:

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("record ")
    return json.loads(lines[-1]), json.loads(lines[-2][len("record "):])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_every_check_passes(workload, trace):
    result, record = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float)
    assert set(record["host"]) == {"nproc", "cpu_model", "ram_gb", "spark", "python"}
    if trace:
        assert os.path.exists(os.path.join(ROOT, record["trace_file"]))
    else:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in declared)


def test_compare_refuses_records_from_different_hosts():
    import compare

    rec = {"workload": "flagship", "trace": 0, "metrics": {"wall_s": 1.0},
           "host": {"nproc": 4, "cpu_model": "x", "ram_gb": 15.7,
                    "spark": "4.1.2", "python": "3.11.7"}}
    other = dict(rec, host=dict(rec["host"], nproc=32))
    bounds = {"wall_s": ("lower", 0.2)}
    assert compare.compare([rec, rec], [rec, rec], bounds)
    with pytest.raises(ValueError):
        compare.compare([rec], [other], bounds)


def test_every_seed_folds_into_a_window_make_page_can_stamp():
    import pandas as pd
    from workloads import PAGE_WINDOWS, SCALES, page_window

    sys.path.insert(0, ROOT)
    from trajlib_spark.sources.pages import make_page

    assert {page_window(s) for s in (0, 30, -1, 2**63, 123456789)} <= set(range(PAGE_WINDOWS))
    last = PAGE_WINDOWS * SCALES["full"]["pages"] - 1
    pd.to_datetime([make_page(last)[1]], unit="ms", utc=True)  # raises when out of range


def test_parse_metric_reads_spark_formats():
    from tracing import parse_metric

    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "3.1 MiB (782.3 KiB, 782.3 KiB, 782.3 KiB (stage 0.0: task 2))"
                        ) == pytest.approx(3.1 * 2**20)
    assert parse_metric("1,024") == 1024.0
    assert parse_metric("") == 0.0


def test_self_time_subtracts_the_union_of_child_spans():
    from tracing import Tracer

    tr = Tracer.__new__(Tracer)  # no session needed for the arithmetic
    tr.spans = [{"id": 1, "parent": None, "start": 0.0, "end": 10.0},
                {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
                {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
                {"id": 4, "parent": 1, "start": 7.0, "end": 12.0}]  # outlives 1
    assert tr.self_time(tr.spans[0]) == pytest.approx(3.0)
