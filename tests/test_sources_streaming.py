"""Archive source + streaming window tests."""

import gzip
import io
import os
import tarfile
import time
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.sources import archives as A


@pytest.fixture(scope="module")
def archive_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("archives")
    csv1 = b"a,b,c\n1,2,3\n4,5,6\n"
    csv2 = b"a,b,c\n7,8,9\n"
    # zip with a csv and a gz member
    with zipfile.ZipFile(d / "batch1.zip", "w") as zf:
        zf.writestr("part1.csv", csv1)
        zf.writestr("part2.csv.gz", gzip.compress(csv2))
        zf.writestr("ignore.bin", b"\x00\x01")  # filtered by suffix
    # tar.gz with a csv member
    with tarfile.open(d / "batch2.tar.gz", "w:gz") as tf:
        info = tarfile.TarInfo("part3.csv")
        info.size = len(csv1)
        tf.addfile(info, io.BytesIO(csv1))
    # bare gz
    with open(d / "batch3.csv.gz", "wb") as fh:
        fh.write(gzip.compress(csv2))
    return str(d)


def test_read_archive_members(spark, archive_dir):
    m = A.read_archive_members(spark, archive_dir).toPandas()
    members = sorted(m["member"])
    assert members == ["batch3.csv", "part1.csv", "part2.csv.gz", "part3.csv"]
    assert int(m["size"].min()) > 0
    row = m[m["member"] == "part2.csv.gz"].iloc[0]
    assert bytes(row["content"]).startswith(b"a,b,c")  # gunzipped inline


def test_members_as_csv_merges_under_first_header(spark, archive_dir):
    members = A.read_archive_members(spark, archive_dir)
    df = A.members_as_csv(spark, members)
    pdf = df.toPandas()
    assert list(pdf.columns) == ["_archive", "_member", "a", "b", "c"]
    assert len(pdf) == 2 + 1 + 2 + 1  # rows across all members
    assert set(pdf["a"]) == {"1", "4", "7"}


def test_incremental_new_files(spark, archive_dir):
    listing = A.read_archive_members(spark, archive_dir).select("member", "size")
    done = spark.createDataFrame(pd.DataFrame({"member": ["part1.csv", "batch3.csv"]}))
    new = A.incremental_new_files(listing, done)
    assert sorted(r["member"] for r in new.collect()) == ["part2.csv.gz", "part3.csv"]


def test_write_csv_split(spark, tmp_path):
    df = spark.range(0, 1000).select(F.col("id").cast("string").alias("v"))
    out = str(tmp_path / "csv_out")
    A.write_csv_split(df.coalesce(1), out, max_records_per_file=300)
    parts = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(parts) >= 4  # 1000 rows / 300 per file
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 1000


def test_streaming_cell_counts(spark, tmp_path):
    """Drive the windowed cell aggregation with a file stream of located
    events; verify against the equivalent batch aggregation."""
    from xutil_spark.streaming.windows import streaming_cell_counts

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:01:00", "2024-01-01 00:02:00",
                              "2024-01-01 00:15:00", "2024-01-01 00:16:00"]),
        "lon": [121.47, 121.47, 121.47, 116.40],
        "lat": [31.23, 31.23, 31.23, 39.90],
    })
    batch_df = spark.createDataFrame(pdf)
    batch_df.write.parquet(src + "/part0.parquet")

    stream = spark.readStream.schema(batch_df.schema).parquet(src + "/*.parquet")
    agg = streaming_cell_counts(stream, zoom=10, window="10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("cellcounts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("SELECT * FROM cellcounts").toPandas()
    # batch equivalent
    exp = streaming_cell_counts(batch_df, zoom=10, window="10 minutes")
    # (the same function works on a batch frame minus the watermark)
    exp_pdf = exp.toPandas()
    key = ["window_start", "cell"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp_pdf.sort_values(key).reset_index(drop=True)
    assert list(g["n_events"]) == list(e["n_events"])
    assert len(g) == 3  # two windows in Shanghai cell + one Beijing


def test_skip_bom_quirks():
    """file.go:136-194 parity incl. the UTF-16 len==2 quirk."""
    assert A.skip_bom(b"\xef\xbb\xbfabc") == b"abc"
    assert A.skip_bom(b"\x00\x00\xfe\xffZZ") == b"ZZ"
    assert A.skip_bom(b"\xff\xfe\x00\x00ZZ") == b"ZZ"
    # UTF-16 BOM stripped ONLY for exactly-2-byte payloads (Go ==)
    assert A.skip_bom(b"\xfe\xff") == b""
    assert A.skip_bom(b"\xff\xfe") == b""
    assert A.skip_bom(b"\xfe\xffab") == b"\xfe\xffab"
    assert A.skip_bom(b"plain") == b"plain"


def test_members_xml_and_gbk(spark, tmp_path):
    """XML members via the XMLToCSV hook + GBK charset decode
    (csv.go:264-277, archive.go:139-169)."""
    d = tmp_path / "xmlzip"
    d.mkdir()
    xml = ("<root><rec><a>x</a><b>1</b></rec>"
           "<rec><a>y</a><b>2</b></rec></root>").encode()
    with zipfile.ZipFile(d / "mix.zip", "w") as zf:
        zf.writestr("cn.csv", "a,b\n北京,9\n".encode("gbk"))
        zf.writestr("doc.xml", xml)
    m = A.read_archive_members(spark, str(d / "mix.zip"))
    out = A.members_as_csv(spark, m, encoding="gbk").toPandas()
    got = sorted(zip(out["_member"], out["a"], out["b"]))
    assert got == [("cn.csv", "北京", "9"),
                   ("doc.xml", "x", "1"), ("doc.xml", "y", "2")]


def test_members_as_csv_heterogeneous_headers(spark, tmp_path):
    """csv.go:144-165 merge pin: the FIRST member's header names the
    columns; every later member drops its own header line and its data
    rows append POSITIONALLY (not by name) — extra trailing columns
    drop, short rows fill ''."""
    d = tmp_path / "hetzip"
    d.mkdir()
    with zipfile.ZipFile(d / "het.zip", "w") as zf:
        zf.writestr("01_first.csv", "a,b\n1,2\n")
        zf.writestr("02_wide.csv", "x,y,z\n7,8,9\n")
        zf.writestr("03_narrow.csv", "q\n5\n")
    m = A.read_archive_members(spark, str(d / "het.zip"))
    out = A.members_as_csv(spark, m).toPandas().sort_values("_member")
    assert list(out.columns) == ["_archive", "_member", "a", "b"]
    assert out[["a", "b"]].values.tolist() == [
        ["1", "2"],   # first member, its own header
        ["7", "8"],   # wide member: positional, "z"=9 dropped
        ["5", ""],    # narrow member: '' fill
    ]


def test_members_as_csv_probe_is_header_only(spark, tmp_path):
    """The schema probe must not collect a whole member: a member whose
    body would explode memory parses fine because only the leading
    bytes reach the driver.  (Proxy check: probe succeeds when content
    past the first 64 KB is NOT valid CSV text.)"""
    d = tmp_path / "bigzip"
    d.mkdir()
    body = "a,b\n" + "1,2\n" * 40000  # ~160 KB, larger than probe window
    with zipfile.ZipFile(d / "big.zip", "w") as zf:
        zf.writestr("big.csv", body)
    m = A.read_archive_members(spark, str(d / "big.zip"))
    out = A.members_as_csv(spark, m)
    assert out.columns == ["_archive", "_member", "a", "b"]
    assert out.count() == 40000


def test_row_kv_select_semantics(spark):
    """csv.go:281-313: case-insensitive rename, reorder, '' fill."""
    df = spark.createDataFrame(
        pd.DataFrame({"Name": ["n1"], "AGE": ["3"], "city": ["c"]})
    )
    out = A.row_kv_select(
        df, kv={"name": "uname", "City": "town"},
        outhead=["TOWN", "uname", "ghost", "age"],
    ).toPandas()
    assert list(out.columns) == ["TOWN", "uname", "ghost", "age"]
    assert out.iloc[0].tolist() == ["c", "n1", "", "3"]


def test_file_lines_count_and_head(spark, tmp_path):
    p = tmp_path / "lc"
    p.mkdir()
    (p / "x.txt").write_text("h1,h2\nr1\nr2\n")
    (p / "y.txt").write_text("only")  # no trailing newline → 1 line
    got = A.file_lines_count(spark, str(p / "*.txt")).toPandas()
    counts = {f.rsplit("/", 1)[-1]: n for f, n in
              zip(got["fname"], got["n_lines"])}
    assert counts == {"x.txt": 3, "y.txt": 1}
    assert A.file_head(spark, str(p / "x.txt")) == ["h1", "h2"]


def test_file_list_pattern_timestamps(spark):
    listing = spark.createDataFrame(
        pd.DataFrame({"fname": ["a_20240215.csv", "a_nope.csv", "b.csv"]})
    )
    got = A.file_list_pattern(
        listing, [("a", r"^a_(\d{8})\.csv$")]
    ).toPandas()
    assert len(got) == 1
    assert got.iloc[0].tolist() == ["a", "2024-02-15 00:00:00", "a_20240215.csv"]


def test_rows_kv_file_sink(spark, tmp_path):
    """RowsKVFile (csv.go:315-383): rename-map reorder + chunked CSV."""
    df = spark.createDataFrame(
        pd.DataFrame({"A": ["1", "2"], "b": ["x", "y"]})
    )
    out = str(tmp_path / "kvout")
    A.rows_kv_file(df, out, kv={"a": "id"}, outhead=["id", "gone", "b"])
    back = spark.read.option("header", "true").csv(out).toPandas()
    assert list(back.columns) == ["id", "gone", "b"]
    assert sorted(back["id"]) == ["1", "2"]
    assert back["gone"].isna().all() or (back["gone"] == "").all()


def test_geocode_enrich_distinct_resolution(spark):
    """map.go:135-155 idiom: distinct addresses resolve once; enriched
    rows carry stable Poi columns; duplicate addresses share a Poi."""
    from xutil_spark.operators.geocode import geocode_distinct, geocode_enrich

    df = spark.createDataFrame(
        pd.DataFrame({"rid": [1, 2, 3], "addr": ["甲", "乙", "甲"]})
    )
    dim = geocode_distinct(df, "addr").toPandas()
    assert len(dim) == 2  # one Poi per distinct address
    out = geocode_enrich(df, "addr").toPandas().sort_values("rid")
    a = out[out["addr"] == "甲"]
    assert a["geo_lng"].nunique() == 1 and len(a) == 2
    assert out["geo_province"].notna().all()
    assert ((out["geo_lng"] >= 73.5) & (out["geo_lng"] <= 134.5)).all()


def test_geocode_live_resolver_retries_and_failure(spark, tmp_path):
    """live_resolver_udf (map.go:74-133 retry/cache idiom) with an
    injected flaky fetcher: an address that succeeds on attempt 3
    resolves (within the ≤5-retry budget); one that always errors and
    one that always returns status=0 yield status=0 rows carrying the
    last error — never a stage-killing exception.  Attempt counts are
    spied through a scratch file (UDFs run in worker processes)."""
    import json

    from pyspark.sql import functions as F

    from xutil_spark.operators.geocode import geocode_distinct, live_resolver_udf

    spy = str(tmp_path / "calls.jsonl")

    def fetch(addr):
        with open(spy, "a") as fh:
            fh.write(json.dumps(addr) + "\n")
        n = sum(1 for line in open(spy) if json.loads(line) == addr)
        if addr == "flaky" and n < 3:
            raise IOError(f"boom {n}")
        if addr == "dead":
            raise IOError("always down")
        if addr == "rejected":
            return {"status": 0, "message": "quota"}
        return {"status": 1, "message": "ok", "lng": 116.4, "lat": 39.9,
                "province": "P", "city": "C", "district": "D",
                "city_code": "0001", "level": "street"}

    df = spark.createDataFrame(pd.DataFrame(
        {"addr": ["flaky", "dead", "rejected", "good", "flaky"]}
    )).coalesce(1)
    dim = geocode_distinct(df, "addr", resolver=live_resolver_udf(fetch))
    got = {r["_addr"]: r["poi"].asDict()
           for r in dim.select("_addr", "poi").collect()}
    assert got["flaky"]["status"] == 1 and got["flaky"]["lng"] == 116.4
    assert got["good"]["status"] == 1
    assert got["dead"]["status"] == 0 and "always down" in got["dead"]["message"]
    assert got["rejected"]["status"] == 0 and got["rejected"]["message"] == "quota"
    calls = [json.loads(line) for line in open(spy)]
    assert calls.count("flaky") == 3     # retried to success, then cached
    assert calls.count("good") == 1      # distinct-dedupe: one call
    assert calls.count("dead") == 5      # full retry budget
    assert calls.count("rejected") == 5  # bad status retries too


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Stateful streaming dedup: duplicates across TWO micro-batches
    collapse to the first arrival (applyInPandasWithState).  Parquet
    sink: the memory sink cannot recover from a checkpoint, and the
    cross-restart state is exactly what's under test."""
    from xutil_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    b1 = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                       "text": ["aa", "bb", "aa", "cc"]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src + "/b1.parquet")

    schema = spark.createDataFrame(b1).schema
    stream = spark.readStream.schema(schema).parquet(src + "/*.parquet")
    out = streaming_first_seen(stream)
    chk, sink = str(tmp_path / "chk1"), str(tmp_path / "sink1")

    def run_once():
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", chk)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run_once()
    got1 = spark.read.parquet(sink).toPandas()
    assert sorted(got1["doc_id"]) == [1, 2, 4]  # doc 3 is a dup of 1

    # second micro-batch: one repeat ("bb") + one new ("dd"); state
    # recovers from the checkpoint, so only the new text survives
    b2 = pd.DataFrame({"doc_id": [5, 6], "text": ["bb", "dd"]})
    spark.createDataFrame(b2).coalesce(1).write.parquet(src + "/b2.parquet")
    run_once()
    got2 = spark.read.parquet(sink).toPandas()
    assert sorted(got2["doc_id"]) == [1, 2, 4, 6]

    # STATE-SIZE PIN (scale contract): state is keyed by digest with
    # one flag row per key — numKeys in the state store equals the
    # distinct-digest count and each key's state is a single long, so
    # nothing grows per key across micro-batches.  4 distinct texts
    # seen over the two batches -> exactly 4 state keys.
    state = spark.read.format("statestore").load(chk)
    assert state.count() == 4  # aa, bb, cc, dd — one flag row per digest
    # and each key's state value is the single long flag, not a blob
    vals = state.select("value.groupState.*").toPandas()
    assert set(vals.columns) == {"seen"} and (vals["seen"] == 1).all()


def test_streaming_sessionize(spark, tmp_path):
    """Session windows: a >gap break inside one key splits sessions;
    open tails flush via the processing-time timeout (either in the
    trailing batch of the first trigger or in the follow-up trigger)."""
    from xutil_spark.streaming.stateful import streaming_sessionize

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    pdf = pd.DataFrame({
        "user_id": [7, 7, 7, 9],
        "ts": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:10:00",  # session A
            "2024-01-01 02:00:00",                          # session B (gap>30min)
            "2024-01-01 00:05:00",                          # user 9
        ]),
    })
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.parquet(src + "/b1.parquet")
    stream = spark.readStream.schema(sdf.schema).parquet(src + "/*.parquet")
    out = streaming_sessionize(stream, gap_seconds=1800, idle_flush_ms=500)
    chk, sink = str(tmp_path / "chk2"), str(tmp_path / "sink2")

    def run_once():
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", chk)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    time.sleep(1.0)
    # empty follow-up batch lets any remaining timeout fire
    spark.createDataFrame([], schema=sdf.schema).coalesce(1).write.parquet(
        src + "/b2.parquet")
    run_once()
    got = spark.read.parquet(sink).toPandas()
    sess = {
        (int(r["user_id"]), str(r["session_start"]), str(r["session_end"]),
         int(r["n_events"]))
        for _, r in got.iterrows()
    }
    assert sess == {
        (7, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2),
        (7, "2024-01-01 02:00:00", "2024-01-01 02:00:00", 1),
        (9, "2024-01-01 00:05:00", "2024-01-01 00:05:00", 1),
    }


def test_streaming_sessionize_multi_chunk_group(spark, tmp_path):
    """ADVICE regression: a key group larger than one Arrow batch
    (16384 rows) arrives as MULTIPLE chunks in arbitrary shuffle order;
    per-chunk sorting would mis-split sessions.  20k events for one
    user, 10s apart, written in SHUFFLED order → exactly one session
    spanning all of them."""
    import numpy as np

    from xutil_spark.streaming.stateful import streaming_sessionize

    rng = np.random.default_rng(7)
    n = 20000
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.arange(n) * 10, unit="s")
    perm = rng.permutation(n)
    pdf = pd.DataFrame({"user_id": [1] * n, "ts": ts[perm]})
    src = str(tmp_path / "mc_src")
    os.makedirs(src)
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.parquet(src + "/b1.parquet")
    stream = spark.readStream.schema(sdf.schema).parquet(src + "/*.parquet")
    out = streaming_sessionize(stream, gap_seconds=1800, idle_flush_ms=500)
    chk, sink = str(tmp_path / "mc_chk"), str(tmp_path / "mc_sink")

    def run_once():
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", chk)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()
    time.sleep(1.0)
    spark.createDataFrame([], schema=sdf.schema).coalesce(1).write.parquet(
        src + "/b2.parquet")
    run_once()
    got = spark.read.parquet(sink).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert int(r["n_events"]) == n
    assert str(r["session_start"]) == "2024-01-01 00:00:00"
    assert str(r["session_end"]) == str(ts[-1])


def test_apply_value_processor(spark):
    """csv.go:36 ValueProcessor: per-value string hook over string
    columns only; non-string columns untouched."""
    df = spark.createDataFrame(
        pd.DataFrame({"s": ["  a ", "b"], "t": ["x", " y"], "n": [1, 2]})
    )
    out = A.apply_value_processor(df, lambda c: F.upper(F.trim(c))).toPandas()
    assert out["s"].tolist() == ["A", "B"]
    assert out["t"].tolist() == ["X", "Y"]
    assert out["n"].tolist() == [1, 2]
    sub = A.apply_value_processor(df, lambda c: F.trim(c), columns=["s"]).toPandas()
    assert sub["s"].tolist() == ["a", "b"]
    assert sub["t"].tolist() == ["x", " y"]  # untouched
