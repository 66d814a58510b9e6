"""Cost-distance transform (operators/costdist.py)."""

import pandas as pd

from xutil_spark.operators.costdist import cost_distance


def _cells(spark, rows):
    return spark.createDataFrame(pd.DataFrame(
        {"cx": [r[0] for r in rows], "cy": [r[1] for r in rows],
         "cost": [r[2] for r in rows]}))


def _src(spark, pts):
    return spark.createDataFrame(pd.DataFrame(
        {"cx": [p[0] for p in pts], "cy": [p[1] for p in pts]}))


def _solve(spark, rows, pts, **kw):
    out = cost_distance(_cells(spark, rows), _src(spark, pts), **kw)
    return {(r.cx, r.cy): r.dist for r in out.collect()}


def test_uniform_line_and_diagonal(spark):
    rows = [(x, 0, 1) for x in range(4)] + [(1, 1, 1)]
    d = _solve(spark, rows, [(0, 0)])
    # orthogonal step on unit costs = (1+1)*1000
    assert d[(0, 0)] == 0 and d[(1, 0)] == 2000
    assert d[(3, 0)] == 6000
    assert d[(1, 1)] == 2828  # diagonal (1+1)*1414


def test_wall_forces_detour(spark):
    # 3x3 grid, center column blocked except the top row
    rows = [(x, y, 1) for x in range(3) for y in range(3)
            if not (x == 1 and y in (1, 2))]
    d = _solve(spark, rows, [(0, 2)])
    # (2,2) must route via the top row: it cannot cross the wall
    # (0,2)->(1,2) is blocked, so path (0,2)->(0,1)->(1,0)->(2,1)->(2,2)
    assert (1, 1) not in d and (1, 2) not in d
    direct = 2 * 2828  # hypothetical two diagonals if no wall
    assert d[(2, 2)] > direct


def test_unreachable_island_dropped(spark):
    rows = [(0, 0, 1), (1, 0, 1), (5, 5, 1)]
    d = _solve(spark, rows, [(0, 0)])
    assert (5, 5) not in d
    assert d[(1, 0)] == 2000


def test_sources_outside_cells_ignored(spark):
    rows = [(0, 0, 2), (1, 0, 3)]
    d = _solve(spark, rows, [(9, 9), (0, 0)])
    assert d == {(0, 0): 0, (1, 0): 5000}


def test_distributed_path_matches_gated(spark, monkeypatch):
    """The distributed rounds reproduce the dense driver solve on a
    serpentine grid whose shortest path (34 hops from the source) is
    longer than two derived budgets of max(8, w + h) = 16 rounds, so
    the fixed-point probe must carry the solve across >= 3 budgets."""
    import numpy as np

    from xutil_spark.operators import costdist, dedup

    w, h = 9, 7
    rng = np.random.default_rng(5)
    # corridors on even rows; each odd row is a wall with one gap, at
    # alternating ends
    rows = [(x, y, int(rng.integers(1, 9)))
            for y in range(h) for x in range(w)
            if y % 2 == 0 or x == (w - 1 if y % 4 == 1 else 0)]
    gated = _solve(spark, rows, [(0, 0)])
    calls = []
    real = dedup._ckpt

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(costdist, "_GATE_CELLS", 0)
    monkeypatch.setattr(dedup, "_ckpt", counting)
    dist = _solve(spark, rows, [(0, 0)])
    assert gated == dist and len(gated) == len(rows)
    budget = max(8, w + h)
    rounds = len(calls) - 2  # the edge and source checkpoints
    assert rounds % budget == 0 and rounds // budget >= 3


def _paths(spark, rows, srcs, tgts, **kw):
    from xutil_spark.operators.costdist import least_cost_paths

    out = least_cost_paths(_cells(spark, rows), _src(spark, srcs),
                           _src(spark, tgts), **kw)
    paths = {}
    for r in sorted(out.collect(), key=lambda r: (r.target_x, r.target_y,
                                                  r.step)):
        paths.setdefault((r.target_x, r.target_y), []).append(
            (r.cx, r.cy, r.dist))
    return paths


def test_path_connected_and_descends_to_source(spark):
    rows = [(x, y, 1 + (x + 2 * y) % 3) for x in range(6) for y in range(4)]
    p = _paths(spark, rows, [(0, 0)], [(5, 3)])
    steps = p[(5, 3)]
    assert steps[0][:2] == (5, 3) and steps[-1][:2] == (0, 0)
    assert steps[-1][2] == 0
    ds = [s[2] for s in steps]
    assert ds == sorted(ds, reverse=True)  # strictly descending chainage
    for (x1, y1, _), (x2, y2, _) in zip(steps, steps[1:]):
        assert max(abs(x1 - x2), abs(y1 - y2)) == 1  # 8-connected


def test_path_routes_around_wall(spark):
    rows = [(x, y, 1) for x in range(3) for y in range(3)
            if not (x == 1 and y in (1, 2))]
    p = _paths(spark, rows, [(0, 2)], [(2, 2)])
    cells = [(c[0], c[1]) for c in p[(2, 2)]]
    assert (1, 1) not in cells and (1, 2) not in cells
    assert len(cells) >= 4  # forced detour through the open row


def test_unreachable_target_silent_and_gate_raises(spark, monkeypatch):
    import pytest as _pt

    from xutil_spark.operators import costdist

    rows = [(0, 0, 1), (9, 9, 1)]
    p = _paths(spark, rows, [(0, 0)], [(9, 9)])
    assert p == {}
    monkeypatch.setattr(costdist, "_GATE_CELLS", 1)
    with _pt.raises(ValueError):
        _paths(spark, rows, [(0, 0)], [(9, 9)])
