"""Operators plan from the data they see, not from user flags.

No public operator takes a defaulted planning option (a broadcast hint,
a strategy switch, a size gate, an iteration cap, a round or row
budget, or a latitude envelope / fine zoom for a ring cover):
thresholds that pick a path are private module constants, ring covers
size their grid from the data, and dim sides are always broadcast by
hint."""

import ast
import pathlib
import re

import pytest

import xutil_spark.operators

_KNOB = re.compile(
    r"^(broadcast_.*|strategy|(.*_)?gate(_.*)?|max_iters|max_query_rows"
    r"|budget(_.*)?|max_abs_lat|fine_zoom)$")


def _options(fn: ast.FunctionDef):
    """The parameters of ``fn`` that carry a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    yield from pos[len(pos) - len(a.defaults):]
    yield from (p for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def test_no_planning_options_on_public_operators():
    # only defaulted parameters are options: a required argument, such
    # as pack_sequences' token budget, is an input every caller sets
    root = pathlib.Path(xutil_spark.operators.__file__).parent
    found = []
    for path in sorted(root.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                found += [f"{path.name}:{node.lineno} {node.name}({p.arg}=)"
                          for p in _options(node) if _KNOB.match(p.arg)]
    assert found == []


def test_guard_sees_a_planning_option():
    src = ("def op(df, k=5, broadcast_dim=True, gate_cells=9, aggregate=1, *,\n"
           "       driver_edge_gate=2, max_iters=50, budget, budget_rows=9,\n"
           "       max_abs_lat=60.0, fine_zoom='auto', zoom=8):\n    pass\n")
    fn = ast.parse(src).body[0]
    assert [p.arg for p in _options(fn) if _KNOB.match(p.arg)] == [
        "broadcast_dim", "gate_cells", "driver_edge_gate", "max_iters",
        "budget_rows", "max_abs_lat", "fine_zoom"]


def test_dim_sides_broadcast_by_hint(spark):
    """With size-based broadcasting off, only a broadcast hint can plan
    a broadcast join: every operator below that joins still broadcasts
    its dim side (the build side is always the right, dim, input); a
    dim-sized range join runs as one numpy pass and joins nothing."""
    import pandas as pd

    from xutil_spark.operators import similarity as S
    from xutil_spark.operators import spatial_join as SJ
    from xutil_spark.operators import textops as T

    pts = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a", "b"], "lon": [116.3, 116.4], "lat": [39.9, 40.0]}))
    refs = spark.createDataFrame(pd.DataFrame(
        {"ref_id": [1, 2], "lon": [116.3, 116.5], "lat": [39.9, 40.1]}))
    polys = spark.createDataFrame(pd.DataFrame(
        {"poly_id": [1], "wkt": ["POLYGON((116 39,117 39,117 41,116 41,116 39))"]}))
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [1, 2, 3], "embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]}))
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "source": ["a", "b"],
         "text": ["a b c d e f g h i j k l m n", "x y z a b"]}))
    bhj, bnlj = "BroadcastHashJoin BuildRight", "BroadcastNestedLoopJoin BuildRight"

    def above_gate():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(SJ, "_KNN_NP_MAX_REFS", 0)
            return SJ.distance_join(pts, refs, 5000.0)

    expect = {
        "point_in_tile_join": (
            lambda: SJ.point_in_tile_join(
                pts, SJ.with_cell(refs, 10).select("cell", "ref_id"), 10),
            [bhj]),
        # dim-sized refs take the numpy pass: no join at all
        "distance_join": (lambda: SJ.distance_join(pts, refs, 5000.0), []),
        "distance_join above the refs gate": (above_gate, [bhj]),
        "clipped_pip_join": (lambda: SJ.clipped_pip_join(pts, polys, zoom=10), [bhj]),
        "cosine_topk_brute": (lambda: S.cosine_topk_brute(emb, emb, k=2), [bnlj]),
        # the sort-merge join is the left join back to every doc
        "decontaminate": (lambda: T.decontaminate(docs, docs, n=3),
                          ["SortMergeJoin", bhj]),
        "bigram_pmi": (lambda: T.bigram_pmi(docs, min_count=1),
                       [bnlj, bnlj, bhj, bhj]),
        "token_kl_drift": (lambda: T.token_kl_drift(docs), [bnlj, bhj, bhj]),
        "bigram_lm_scores": (lambda: T.bigram_lm_scores(docs), [bnlj, bhj, bhj]),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = {}
        for name, (build, _) in expect.items():
            plan = build()._jdf.queryExecution().sparkPlan().toString()
            got[name] = [" ".join([j, *re.findall(r"Build\w+", rest)]) for j, rest in
                         re.findall(r"(\w+Join|CartesianProduct)\b([^\n]*)", plan)]
    finally:
        spark.conf.set(key, old)
    assert got == {name: joins for name, (_, joins) in expect.items()}
