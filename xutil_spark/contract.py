"""The contract registry: every query name maps to ``(q_fn, o_fn)``.

``q_fn(spark, sf_dir)`` returns the engine's DataFrame; ``o_fn()``
returns the DuckDB SQL that must produce the same rows over the same
parquet views.  Each ``entry_queries*`` module ends in its own
``CONTRACT`` table; this module merges them.  Oracle SQL is built only
when ``o_fn`` is called, so importing the registry stays cheap.
"""

from __future__ import annotations

import importlib

MODULES = ["entry_queries"] + [f"entry_queries{i}" for i in range(2, 22)]


def _merge() -> dict:
    merged: dict = {}
    for mod in MODULES:
        table = importlib.import_module(f"xutil_spark.{mod}").CONTRACT
        for name, pair in table.items():
            if name in merged:
                raise ValueError(f"contract name {name!r} registered twice ({mod})")
            merged[name] = pair
    return merged


CONTRACT = _merge()
QUERIES = {name: q for name, (q, _o) in CONTRACT.items()}
