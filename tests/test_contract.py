"""The contract gate: every ``queries()[name]`` run on Spark at sf0.01
must match the DuckDB result of ``oracle_sql()[name]`` over the same
parquet files — equal row count, equal lower-cased column set and equal
order-insensitive value hash — and must return at least one row.

Run one query with ``python -m pytest tests/test_contract.py -k <name>``.
"""

import datetime
import hashlib

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E

QUERIES = E.queries()
SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return repr(f)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    # typed columns, not iterrows: a row Series of an all-numeric frame
    # with any float column upcasts its int64 cells to float64, which
    # merges z-order cell ids above 2**53
    rows = [
        "|".join(norm_cell(v) for v in r)
        for r in pdf[sorted(pdf.columns)].itertuples(index=False, name=None)
    ]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return E.oracle_sql()


def test_queries_and_oracle_sql_name_the_same_156(oracles):
    assert list(QUERIES) == list(oracles)
    assert len(oracles) == 156
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, oracles, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(oracles[name]).df()
    assert len(sdf) >= 1, "the Spark side returned no rows"
    assert len(sdf) == len(odf)
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf)


# ------------------------------------------------------- the gate itself


def test_norm_cell_fixed_formats():
    assert norm_cell(None) == "NULL"
    assert norm_cell(float("nan")) == "NULL"
    assert norm_cell(np.float64("nan")) == "NULL"
    assert norm_cell(3.0) == "3"
    assert norm_cell(np.float32(3.0)) == "3"
    assert norm_cell(np.int64(-7)) == "-7"
    assert norm_cell(True) == "1"
    assert norm_cell(0.1) == "0.1"
    assert norm_cell(1e15) == "1000000000000000.0"
    assert norm_cell(pd.Timestamp("2024-02-03 04:05:06.789")) == "2024-02-03 04:05:06"
    assert norm_cell(datetime.datetime(2024, 2, 3, 4, 5, 6)) == "2024-02-03 04:05:06"
    assert norm_cell(datetime.date(2024, 2, 3)) == "2024-02-03"
    assert norm_cell("x|y") == "x|y"


def test_value_hash_ignores_row_and_column_order():
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None],
                        "c": [0.5, 1.0, 2.25]})
    shuffled = pdf.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
    assert value_hash(pdf) == value_hash(shuffled)


def test_value_hash_sees_one_ulp():
    pdf = pd.DataFrame({"k": [1, 2], "v": [0.1, 2.5]})
    bumped = pdf.copy()
    bumped.loc[1, "v"] = np.nextafter(2.5, np.inf)
    assert value_hash(pdf) != value_hash(bumped)
    bumped.loc[1, "v"] = 2.5
    assert value_hash(pdf) == value_hash(bumped)
    # int64 cells above 2**53 next to a float column stay exact
    cells = pd.DataFrame({"cell": [2**61 + 1], "v": [0.5]})
    assert value_hash(cells) != value_hash(cells.assign(cell=[2**61 + 2]))
