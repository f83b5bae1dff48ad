"""node2vec walk generation (cell-graph embedding input, SURVEY §2.4):
distributed walks must equal the pure-python replica, be deterministic
across partitionings, and follow real graph edges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import PORTO_GRID
from trajlib_spark.operators import cells, walks

G = PORTO_GRID


@pytest.fixture(scope="module")
def pairs(spark):
    return cells.neighbour_cell_pairs(spark, G).persist()


def test_walks_match_python_replica(spark, pairs):
    starts = spark.createDataFrame(
        [(5,), (100,), (2481,), (7000,)], "cell_id long"
    )
    got = sorted(
        (r.walk_id, r.pos, r.cell_id)
        for r in walks.node2vec_walks(pairs, starts, 8, 3).collect()
    )
    pair_rows = [(r.src_cell, r.dst_cell) for r in pairs.collect()]
    expect = sorted(walks.walks_py(pair_rows, [5, 100, 2481, 7000], 8, 3))
    assert got == expect
    # full length, every start covered
    assert len(got) == 4 * 3 * 8


def test_dead_end_walks_dropped_identically(spark):
    """A degree-0 start node (absent from the edge list — the only
    dead-end shape an undirected adjacency admits) drops its walks
    ENTIRELY, exactly like the python replica (ADVICE r5)."""
    tiny = spark.createDataFrame(
        [(1, 2), (2, 3)], "src_cell long, dst_cell long"
    )
    starts = spark.createDataFrame([(1,), (99,)], "cell_id long")
    got = sorted(map(tuple, walks.node2vec_walks(tiny, starts, 5, 2).collect()))
    py = sorted(walks.walks_py([(1, 2), (2, 3)], [1, 99], 5, 2))
    assert got == py
    # node 99's walks are gone entirely — even pos 0
    assert all(r[0] // 2 != 99 for r in got)
    # node 1's walks survive at full length
    assert len(got) == 2 * 5


def test_walks_plan_shape(spark, pairs):
    """Walks are generated in one Arrow pass over a broadcast adjacency:
    no join of any kind in the plan."""
    starts = spark.createDataFrame([(42,), (99,)], "cell_id long")
    out = walks.node2vec_walks(pairs, starts, 6, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_walks_edge_list_bound(spark, pairs, monkeypatch):
    """The driver-side edge collect is bounded: an edge list above
    _MAX_EDGES raises ValueError, and at most _MAX_EDGES + 1 rows ever
    reach the driver."""
    cls = type(pairs)  # the concrete DataFrame class the operator sees
    collected: list[int] = []
    to_pandas = cls.toPandas

    def spy(self):
        pdf = to_pandas(self)
        collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(cls, "toPandas", spy)
    monkeypatch.setattr(walks, "_MAX_EDGES", 5)
    starts = spark.createDataFrame([(42,)], "cell_id long")
    with pytest.raises(ValueError, match="edge list exceeds 5"):
        walks.node2vec_walks(pairs, starts, 6, 2)
    assert collected and max(collected) <= 5 + 1, collected


def test_walks_follow_edges_and_are_deterministic(spark, pairs):
    starts = spark.createDataFrame([(42,)], "cell_id long")
    a = walks.node2vec_walks(pairs, starts, 6, 2).collect()
    b = walks.node2vec_walks(pairs.repartition(7), starts, 6, 2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    adj = {}
    for r in pairs.collect():
        adj.setdefault(r.src_cell, set()).add(r.dst_cell)
        adj.setdefault(r.dst_cell, set()).add(r.src_cell)
    by_walk = {}
    for r in a:
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    for wid, seq in by_walk.items():
        path = [seq[p] for p in sorted(seq)]
        assert path[0] == 42
        for u, v in zip(path, path[1:]):
            assert v in adj[u], (wid, u, v)


def test_skipgram_pairs_match_replica(spark, pairs):
    """(center, context) generation: every ordered pair within ±window,
    center ≠ context, exactly once per (walk, position pair)."""
    starts = spark.createDataFrame([(5,), (100,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 8, 2).persist()
    got = sorted(
        (r.walk_id, r.center_pos, r.center, r.context)
        for r in walks.skipgram_pairs(w, window=3).collect()
    )
    by_walk: dict[int, dict[int, int]] = {}
    for r in w.collect():
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    expect = sorted(
        (wid, cp, seq[cp], seq[xp])
        for wid, seq in by_walk.items()
        for cp in seq
        for xp in seq
        if xp != cp and abs(xp - cp) <= 3
    )
    assert got == expect
    w.unpersist()


def test_skipgram_pairs_non_contiguous_positions(spark, pairs):
    """Walks whose positions are NOT contiguous (filtered upstream) still
    get exact position-window semantics: the index-space slice is a
    superset of the position window (positions strictly increase along
    the sorted array), and the final |Δpos| ≤ window filter trims the
    extras (ADVICE r5)."""
    starts = spark.createDataFrame([(5,), (100,)], "cell_id long")
    w = (
        walks.node2vec_walks(pairs, starts, 10, 2)
        .where(~F.col("pos").isin(3, 4, 7))
        .persist()
    )
    got = sorted(
        (r.walk_id, r.center_pos, r.center, r.context)
        for r in walks.skipgram_pairs(w, window=2).collect()
    )
    by_walk: dict[int, dict[int, int]] = {}
    for r in w.collect():
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    expect = sorted(
        (wid, cp, seq[cp], seq[xp])
        for wid, seq in by_walk.items()
        for cp in seq
        for xp in seq
        if xp != cp and abs(xp - cp) <= 2
    )
    assert got == expect
    w.unpersist()


def test_skipgram_window_ten_covers_reference_context(spark, pairs):
    """With the reference's context window 10 and walk_length 12, every
    position pairs with all but the two farthest-away positions."""
    starts = spark.createDataFrame([(42,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 12, 1)
    n = walks.skipgram_pairs(w, window=10).count()
    # ordered pairs within |Δpos| ≤ 10 among 12 positions: 12·11 − 2
    assert n == 12 * 11 - 2


def test_skipgram_pairs_raise_on_duplicate_positions(spark, pairs):
    """VERDICT r7 #2: duplicate (walk_id, pos) input — e.g. a unioned
    walk table that reused walk_ids — used to silently drop in-window
    pairs; the precondition is now enforced in-operator with a loud
    task error naming the offending walk_id."""
    starts = spark.createDataFrame([(5,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 6, 1)
    bad = w.unionAll(w)  # every (walk_id, pos) now appears twice
    with pytest.raises(Exception, match=r"duplicate \(walk_id, pos\)"):
        walks.skipgram_pairs(bad, window=3).collect()
    # and the clean table still works through the guarded projection —
    # window 10 ≥ max Δpos 5, so all 6·5 ordered pairs qualify
    assert walks.skipgram_pairs(w, window=10).count() == 6 * 5
