"""Contract-registry invariants: every ``entry_queries*`` module imports
on its own, and loading the registry builds no oracle SQL."""

import os
import subprocess
import sys

import pytest

from xutil_spark.contract import MODULES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "-c", code], cwd=_REPO,
                          capture_output=True, text=True, timeout=120)


@pytest.mark.parametrize("mod", MODULES)
def test_module_imports_on_its_own(mod):
    res = _run(f"import xutil_spark.{mod}")
    assert res.returncode == 0, res.stderr[-2000:]


def test_queries_builds_no_oracle_sql():
    """``import xutil_spark.contract`` + ``queries()`` must not enter any
    ``o_*`` builder: a profile hook fails the run on the first one."""
    res = _run(
        "import sys\n"
        "def hook(frame, event, arg):\n"
        "    code = frame.f_code\n"
        "    if (event == 'call' and code.co_name.startswith('o_')\n"
        "            and 'entry_queries' in code.co_filename):\n"
        "        raise SystemExit('oracle builder called: ' + code.co_name)\n"
        "sys.setprofile(hook)\n"
        "import xutil_spark.contract\n"
        "import __spark_entry__ as E\n"
        "n = len(E.queries())\n"
        "sys.setprofile(None)\n"
        "print(n)\n"
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.split() == ["156"]


def test_duplicate_contract_name_raises(monkeypatch):
    from xutil_spark import contract

    monkeypatch.setattr(contract, "MODULES", ["entry_queries", "entry_queries"])
    with pytest.raises(ValueError, match="registered twice"):
        contract._merge()


def test_xxh64_matches_published_vectors():
    """The pure-Python XXH64 behind the simhash VALUES oracle must match
    the published reference vectors (Cyan4973/xxHash test data)."""
    from xutil_spark.entry_queries import _xxh64

    assert _xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert _xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert _xxh64(b"as", 0) == 0x1C330FB2D66BE179
    assert _xxh64(b"asd", 0) == 0x631C37CE72A97393
    assert _xxh64(b"asdf", 0) == 0x415872F599CEA71E


def test_xxh64_matches_spark_and_simhash_oracle(spark):
    """Cross-check the oracle-side implementations against the engine:
    _xxh64(seed 42) == Spark xxhash64 on every length class (tail 1-7,
    one 8-byte lane, 32-byte stripes), and the pure-Python simhash /
    winnow reimplementations reproduce the Spark operators bit-exactly
    on a literal corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xutil_spark.entry_queries import _simhash_py, _winnow_py, _xxh64
    from xutil_spark.operators.dedup import simhash
    from xutil_spark.operators.textops import rolling_fingerprints

    samples = ["", "a", "abc", "asdfghj", "eightby8", "0123456789abcdef",
               "x" * 31, "y" * 32, "z" * 100, "word one  two\tthree"]
    sdf = spark.createDataFrame(pd.DataFrame({"s": samples}))
    got = {r["s"]: r["h"] for r in
           sdf.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        expect = _xxh64(s.encode(), 42)
        expect = expect - (1 << 64) if expect >= (1 << 63) else expect
        assert got[s] == expect, s

    docs = ["Alpha beta gamma delta", "  spaced   out tokens  ",
            "", "short", "The quick brown fox jumps over the lazy dog " * 3]
    ddf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs}))
    sh = {r["doc_id"]: r["simhash"] for r in simhash(ddf).collect()}
    fp = {r["doc_id"]: r["fingerprint"]
          for r in rolling_fingerprints(ddf).collect()}
    for i, t in enumerate(docs):
        assert sh[i] == _simhash_py(t), f"simhash doc {i}"
        assert fp[i] == _winnow_py(t), f"winnow doc {i}"
