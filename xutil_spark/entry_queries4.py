"""Driver-contract queries, batch 4 (round 2):

* the INVERSE coordinate transforms (gis.go:106-144, 269-275,
  294-306) — closing the §2.4 conversion-matrix oracle gap left by the
  forward directions in batches 1/3;
* the projection/source operators added this round: rename-map reorder,
  ValueProcessor, array index-of, TimeExtend, AES round-trip,
  BmapMocator, archive XML+GBK parse, file line counts, FTP-listing
  pattern extraction, geocode enrichment;
* the stateful-streaming pair (first-seen dedup, gap sessionization),
  the dup-cluster connected-components pipeline (recursive-CTE
  oracle), IVF exact-mode ANN, and the audio/video multimodal paths.

Oracle-parity rules as everywhere: identical column aliases, ROUND'd
float outputs, integer-deterministic derived inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _PTS_SQL, _await_stream, _points, _read, _utc, o_cosine_top5,
)

# ------------------------------------------------------------ shared SQL

# WGS↔GCJ offset pipeline (gis.go:70-96) as reusable CTE text: computes
# dlon/dlat at (lon, lat).  `sign` = +1 forward (wgs2gcj), -1 inverse
# (gcj2wgs — the reference's single-step approximate inverse,
# gis.go:106-112: subtract the FORWARD offset evaluated at the GCJ point).


def _offset_sql(src_cte: str, sign: str, out_lon: str, out_lat: str) -> str:
    tlon = (
        "300.0 + x + 2.0*y + 0.1*x*x + 0.1*x*y + 0.1*sqrt(abs(x))"
        " + (20.0*sin(6.0*x*pi()) + 20.0*sin(2.0*x*pi())) * 2.0/3.0"
        " + (20.0*sin(x*pi()) + 40.0*sin(x/3.0*pi())) * 2.0/3.0"
        " + (150.0*sin(x/12.0*pi()) + 300.0*sin(x/30.0*pi())) * 2.0/3.0"
    )
    tlat = (
        "-100.0 + 2.0*x + 3.0*y + 0.2*y*y + 0.1*x*y + 0.2*sqrt(abs(x))"
        " + (20.0*sin(6.0*x*pi()) + 20.0*sin(2.0*x*pi())) * 2.0/3.0"
        " + (20.0*sin(y*pi()) + 40.0*sin(y/3.0*pi())) * 2.0/3.0"
        " + (160.0*sin(y/12.0*pi()) + 320.0*sin(y*pi()/30.0)) * 2.0/3.0"
    )
    return f"""
xy AS (SELECT pid, lon, lat, lon - 105.0 AS x, lat - 35.0 AS y FROM {src_cte}),
t AS (SELECT pid, lon, lat, ({tlon}) AS dlon0, ({tlat}) AS dlat0,
             lat / 180.0 * pi() AS radlat FROM xy),
m AS (SELECT pid, lon, lat, dlon0, dlat0, radlat,
             1.0 - 0.00669342162296594323 * sin(radlat) * sin(radlat) AS magic
      FROM t),
res AS (SELECT pid,
  ROUND(lon {sign} (dlon0 * 180.0) / (6378245.0 / sqrt(magic) * cos(radlat) * pi()), 8) AS {out_lon},
  ROUND(lat {sign} (dlat0 * 180.0) / ((6378245.0 * (1.0 - 0.00669342162296594323))
        / (magic * sqrt(magic)) * pi()), 8) AS {out_lat}
  FROM m)"""


# BD09→GCJ02 (gis.go:124-132): x=lon-0.0065, y=lat-0.006,
# z=√(x²+y²) − 2e-5·sin(y·xπ), θ=atan2(y,x) − 3e-6·cos(x·xπ).
_BD2GCJ_SQL = """
d AS (SELECT pid, lon - 0.0065 AS bx, lat - 0.006 AS by FROM {src}),
zt AS (SELECT pid, bx, by,
       sqrt(bx*bx + by*by) - 0.00002 * sin(by * (pi() * 3000.0 / 180.0)) AS z,
       atan2(by, bx) - 0.000003 * cos(bx * (pi() * 3000.0 / 180.0)) AS theta
       FROM d),
gcj AS (SELECT pid, ROUND(z * cos(theta), 8) AS {glon},
                    ROUND(z * sin(theta), 8) AS {glat} FROM zt)"""


# ------------------------------------------------------------- gcj2wgs


def q_gcj2wgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCJ-02 → WGS-84 single-step approximate inverse (gis.go:106-112):
    subtracts the forward offset evaluated AT the GCJ point (not
    iterative) — reference quirk preserved; 8-dp half-away outputs."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir)
    g = geo_udfs.gcj2wgs(F.col("lon"), F.col("lat"))
    return pts.select(
        "pid",
        g.getField("lon").alias("wlon"),
        g.getField("lat").alias("wlat"),
    )


def o_gcj2wgs() -> str:
    return f"""
WITH pts AS ({_PTS_SQL}),
{_offset_sql("pts", "-", "wlon", "wlat")}
SELECT pid, {"wlon"}, {"wlat"} FROM res
"""


# ------------------------------------------------------------- bd2gcj


def q_bd2gcj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BD-09 → GCJ-02 polar-distortion inverse (gis.go:124-132)."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir)
    g = geo_udfs.bd2gcj(F.col("lon"), F.col("lat"))
    return pts.select(
        "pid",
        g.getField("lon").alias("glon"),
        g.getField("lat").alias("glat"),
    )


def o_bd2gcj() -> str:
    body = _BD2GCJ_SQL.format(src="pts", glon="glon", glat="glat")
    return f"""
WITH pts AS ({_PTS_SQL}),
{body}
SELECT pid, glon, glat FROM gcj
"""


# ------------------------------------------------------------- bd2wgs


def q_bd2wgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BD-09 → WGS-84 composition (gis.go:140-144): bd2gcj (8-dp
    rounded) then gcj2wgs of the ROUNDED intermediate — stage-wise
    rounding exactly as the reference composes PointRound8 calls."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir)
    g = geo_udfs.bd2wgs(F.col("lon"), F.col("lat"))
    return pts.select(
        "pid",
        g.getField("lon").alias("wlon"),
        g.getField("lat").alias("wlat"),
    )


def o_bd2wgs() -> str:
    stage1 = _BD2GCJ_SQL.format(src="pts", glon="lon", glat="lat")
    return f"""
WITH pts AS ({_PTS_SQL}),
{stage1},
gcjpts AS (SELECT pid, lon, lat FROM gcj),
{_offset_sql("gcjpts", "-", "wlon", "wlat")}
SELECT pid, wlon, wlat FROM res
"""


# -------------------------------------------------------- mercator_to_bd09


def q_mercator_to_bd09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baidu Mercator meters → BD-09 (gis.go:294-306): 6-band MC2LL
    polynomial, x abs()'d before the band evaluator (reference quirk —
    output longitude never negative).  Inputs derived from pid so both
    engines compute from identical integers; |my| spans all six MCBAND
    rows including the polar band ≥ 12.89e6."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).select("pid").dropDuplicates(["pid"])
    mx = (F.col("pid") % 2001 - 1000).cast("double") * 21000.0
    my = (F.col("pid") % 1301 - 650).cast("double") * 19900.0
    src = pts.select("pid", mx.alias("mx"), my.alias("my"))
    b = geo_udfs.mercator_to_bd09(F.col("mx"), F.col("my"))
    return src.select(
        "pid",
        F.round(b.getField("lon"), 6).alias("blon"),
        F.round(b.getField("lat"), 6).alias("blat"),
    )


def o_mercator_to_bd09() -> str:
    from xutil_spark.kernels.baidu import _MC2LL, _MCBAND

    band = (
        f"CASE WHEN ay >= {_MCBAND[0]!r} THEN 0 WHEN ay >= {_MCBAND[1]!r} THEN 1"
        f" WHEN ay >= {_MCBAND[2]!r} THEN 2 WHEN ay >= {_MCBAND[3]!r} THEN 3"
        f" WHEN ay >= {_MCBAND[4]!r} THEN 4 ELSE 5 END"
    )
    cf_cases = ", ".join(
        f"(CASE band {' '.join(f'WHEN {i} THEN {float(_MC2LL[i][j])!r}' for i in range(6))} END) AS cf{j}"
        for j in range(10)
    )
    # same association as kernels.baidu._yr (square-chained powers);
    # x is abs()'d BEFORE the evaluator so xt never sign-flips
    return f"""
WITH pts AS (SELECT DISTINCT pid FROM ({_PTS_SQL})),
mc AS (SELECT pid, CAST(pid % 2001 - 1000 AS DOUBLE) * 21000.0 AS mx,
               CAST(pid % 1301 - 650 AS DOUBLE) * 19900.0 AS my FROM pts),
sel AS (SELECT pid, abs(mx) AS axm, my, abs(my) AS ay FROM mc),
bd AS (SELECT pid, axm, my, {band} AS band FROM sel),
co AS (SELECT pid, axm, my, {cf_cases} FROM bd),
e1 AS (SELECT *, cf0 + cf1 * abs(axm) AS xt, abs(my) / cf9 AS cc FROM co),
e2 AS (SELECT *, cc * cc AS cc2 FROM e1),
e3 AS (SELECT *, cc2 * cc AS cc3, cc2 * cc2 AS cc4 FROM e2),
e4 AS (SELECT *, cc4 * cc AS cc5, cc4 * cc2 AS cc6 FROM e3),
e5 AS (SELECT pid, my, xt,
              cf2 + cf3 * cc + cf4 * cc2 + cf5 * cc3 + cf6 * cc4
                  + cf7 * cc5 + cf8 * cc6 AS yt
       FROM e4)
SELECT pid, ROUND(xt, 6) + 0.0 AS blon,
       ROUND(CASE WHEN my < 0 THEN -yt ELSE yt END, 6) + 0.0 AS blat
FROM e5
"""


# ------------------------------------------------------------- tile2wgs


def q_tile2wgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile (x, y, z=12) → NW-corner WGS (gis.go:269-275) — returns
    (lat, lng) in the reference's quirky order.  Tile coords derived
    from pid integers."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).select("pid").dropDuplicates(["pid"])
    src = pts.select(
        "pid",
        (F.col("pid") % 4096).alias("tx"),
        ((F.col("pid") * 7919) % 4096).alias("ty"),
    )
    t = geo_udfs.tile2wgs(F.col("tx"), F.col("ty"), F.lit(12))
    return src.select(
        "pid", "tx", "ty",
        F.round(t.getField("lat"), 8).alias("lat"),
        F.round(t.getField("lng"), 8).alias("lng"),
    )


def o_tile2wgs() -> str:
    # n = π − 2π·y/2^z ; lat = 180/π·atan(sinh(n)) ; lng = x/2^z·360 − 180
    return f"""
WITH pts AS (SELECT DISTINCT pid FROM ({_PTS_SQL})),
tc AS (SELECT pid, pid % 4096 AS tx, (pid * 7919) % 4096 AS ty FROM pts),
n AS (SELECT pid, tx, ty,
             pi() - 2.0 * pi() * CAST(ty AS DOUBLE) / 4096.0 AS nv FROM tc)
SELECT pid, tx, ty,
       ROUND(180.0 / pi() * atan(0.5 * (exp(nv) - exp(-nv))), 8) AS lat,
       ROUND(CAST(tx AS DOUBLE) / 4096.0 * 360.0 - 180.0, 8) AS lng
FROM n
"""


# ===================================================== projection / rename


def q_row_kv_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename-map projection (RowReOrder/RowKVind/RowsKVFile,
    csv.go:281-383): case-insensitive kv rename, explicit output order,
    missing output columns filled with '' — the reference's main
    column-mapping surface as one declarative select."""
    _utc(spark)
    from xutil_spark.sources.archives import row_kv_select

    ev = _read(spark, sf_dir, "events")
    return row_kv_select(
        ev,
        kv={"EVENT_TYPE": "etype", "User_Id": "uid"},
        outhead=["etype", "uid", "value", "missing_col", "event_id"],
    )


def o_row_kv_reorder() -> str:
    return """
SELECT event_type AS etype, user_id AS uid, value, '' AS missing_col, event_id
FROM events
"""


def q_strings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringsIndex/IntsIndex (strings.go:9-26): 0-based first-match
    index in the token array, -1 when absent."""
    _utc(spark)
    from xutil_spark.operators.relational import strings_index

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "")
    return docs.select(
        "doc_id",
        strings_index(toks, "the").alias("idx_the"),
        strings_index(toks, "zzz_absent_zzz").alias("idx_missing"),
    )


def o_strings_index() -> str:
    toks = ("list_filter(string_split(regexp_replace(lower(trim(text)),"
            " '\\s+', ' ', 'g'), ' '), x -> x <> '')")
    return f"""
SELECT doc_id,
  CAST(list_position({toks}, 'the') - 1 AS INT) AS idx_the,
  CAST(list_position({toks}, 'zzz_absent_zzz') - 1 AS INT) AS idx_missing
FROM documents WHERE doc_id < 200
"""


def q_time_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeExtend (time.go:141-148): truncate to the hour then the
    half-open run of s steps — forward s=3 and backward s=-2, exploded
    to one row per step."""
    _utc(spark)
    from xutil_spark.operators.relational import time_extend

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    fwd = ev.select(
        "event_id", F.lit("fwd").alias("dir"),
        F.explode(time_extend(F.col("ts"), 3, 3600)).alias("t"),
    )
    back = ev.select(
        "event_id", F.lit("back").alias("dir"),
        F.explode(time_extend(F.col("ts"), -2, 3600)).alias("t"),
    )
    return fwd.unionByName(back).select(
        "event_id", "dir", F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("t")
    )


def o_time_extend() -> str:
    return """
WITH ev AS (SELECT event_id, date_trunc('hour', ts) AS h FROM events
            WHERE event_id % 97 = 0),
fwd AS (SELECT event_id, 'fwd' AS dir,
               unnest(generate_series(h, h + INTERVAL 2 HOUR, INTERVAL 1 HOUR)) AS t
        FROM ev),
back AS (SELECT event_id, 'back' AS dir,
               unnest(generate_series(h - INTERVAL 2 HOUR, h - INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS t
        FROM ev)
SELECT event_id, dir, strftime(t, '%Y-%m-%d %H:%M:%S') AS t FROM fwd
UNION ALL
SELECT event_id, dir, strftime(t, '%Y-%m-%d %H:%M:%S') AS t FROM back
"""


def q_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto.Encrypt/Decrypt AES round-trip (crypto.go:95-160) via
    Spark-native aes_encrypt/aes_decrypt: ECB/PKCS (≡ the reference's
    AES+ECB+PKCS5) and CBC/PKCS.  The oracle pins the decrypted
    plaintext — a broken cipher chain yields non-matching rows."""
    _utc(spark)
    from xutil_spark.functions import crypto

    key = "0123456789abcdef"  # 16-byte AES-128 key
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    ecb = crypto.decrypt(crypto.encrypt(F.col("text"), key, mode="ECB"),
                         key, mode="ECB")
    cbc = crypto.decrypt(crypto.encrypt(F.col("text"), key, mode="CBC"),
                         key, mode="CBC")
    return docs.select(
        "doc_id",
        ecb.cast("string").alias("pt_ecb"),
        cbc.cast("string").alias("pt_cbc"),
        (ecb.cast("string") == F.col("text")).alias("ok_ecb"),
        (cbc.cast("string") == F.col("text")).alias("ok_cbc"),
    )


def o_aes_roundtrip() -> str:
    return """
SELECT doc_id, text AS pt_ecb, text AS pt_cbc, TRUE AS ok_ecb, TRUE AS ok_cbc
FROM documents WHERE doc_id % 5 = 0
"""


def q_des_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto DES + stream modes (crypto.go:95-160) through the
    NIST-pinned python kernel (kernels/blockciphers): DES/CBC/PKCS5
    and DES/CTR round-trips with the reference's IV=key semantics,
    plus a per-row known-answer column — the first ciphertext block of
    DES-ECB(key 133457799BBCDFF1, pt 0123456789ABCDEF), which the
    oracle pins to the published FIPS-81-lineage value 85E813540F0AB405
    (a round-trip alone would pass for any self-inverse bug)."""
    _utc(spark)
    from xutil_spark.functions import crypto

    key = "deskey12"  # 8-byte DES key (IV = key, crypto.go:77)
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 3)
    cbc = crypto.decrypt(
        crypto.encrypt(F.col("text"), key, algorithm="DES", mode="CBC"),
        key, algorithm="DES", mode="CBC",
    ).cast("string")
    ctr = crypto.decrypt(
        crypto.encrypt(F.col("text"), key, algorithm="DES", mode="CTR"),
        key, algorithm="DES", mode="CTR",
    ).cast("string")
    # KAT through the full column path: ZERO-padding an exactly-8-byte
    # literal appends one all-zero block, so ct[0:8] is the raw block
    # encryption of the published test vector
    kat = F.substring(
        F.hex(crypto.encrypt(
            F.lit(bytes.fromhex("0123456789ABCDEF")),
            bytes.fromhex("133457799BBCDFF1"),
            algorithm="DES", mode="ECB", padding="ZERO",
        )), 1, 16,
    )
    return docs.select(
        "doc_id",
        cbc.alias("pt_cbc"),
        ctr.alias("pt_ctr"),
        (cbc == F.col("text")).alias("ok_cbc"),
        (ctr == F.col("text")).alias("ok_ctr"),
        kat.alias("des_kat"),
    )


def o_des_roundtrip() -> str:
    return """
SELECT doc_id, text AS pt_cbc, text AS pt_ctr, TRUE AS ok_cbc,
       TRUE AS ok_ctr, '85E813540F0AB405' AS des_kat
FROM documents WHERE doc_id % 5 = 3
"""


def q_bmap_mocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BmapMocator (map.go:265-293): Baidu encoded polyline → Mercator
    parse → MercatorToBd09 per vertex → LINESTRING WKT with Go-%g
    formatting.  Mocator strings are synthesized from pid integers, so
    the whole chain is deterministic and the driver oracle is a
    computed-VALUES golden from kernels/baidu_scalar.py (independent
    scalar MercatorToBd09 + formatting; Go %g itself is additionally
    pinned by pytest goldens vs map.go vectors)."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).select("pid").dropDuplicates(["pid"]).filter(
        F.col("pid") % 23 == 1
    )
    # coords stay non-negative: the reference splits polyline segments
    # on '-' (map.go:274), so negative mercator values can never appear
    # in real mocator strings (China-region Baidu mercator is positive)
    xs = [((F.col("pid") * 31 + i * 7) % 2001).cast("long") * 21000
          for i in range(3)]
    ys = [((F.col("pid") * 17 + i * 11) % 1301).cast("long") * 19900
          for i in range(3)]
    coords = F.concat_ws(",", *[c.cast("string")
                                for pair in zip(xs, ys) for c in pair])
    moc = F.concat(F.lit("4|0,0;1,1|1-"), coords, F.lit(";"))
    return pts.select("pid", geo_udfs.bmap_mocator(moc).alias("wkt"))


def o_bmap_mocator() -> str:
    """Computed-VALUES golden: the mocator inputs are pure integer
    arithmetic on pid, so kernels/baidu_scalar.py (independent scalar
    MercatorToBd09 + %g path, re-transcribed tables, no shared code
    with kernels/baidu.py) re-derives every WKT string."""
    import duckdb as _dd

    from xutil_spark.kernels.baidu_scalar import bmap_mocator_py

    pids = [r[0] for r in _dd.sql(
        "SELECT DISTINCT l_orderkey * 10 + l_linenumber AS pid "
        "FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet') "
        "WHERE (l_orderkey * 10 + l_linenumber) % 23 = 1 ORDER BY pid"
    ).fetchall()]
    rows = []
    for pid in pids:
        coords = ",".join(
            f"{((pid * 31 + i * 7) % 2001) * 21000},"
            f"{((pid * 17 + i * 11) % 1301) * 19900}"
            for i in range(3)
        )
        wkt = bmap_mocator_py(f"4|0,0;1,1|1-{coords};")
        rows.append(f"({pid},'{wkt}')")
    return f"""
SELECT CAST(pid AS BIGINT) AS pid, wkt
FROM (VALUES {",".join(rows)}) AS t(pid, wkt)
"""


# ======================================================== archive sources


_FIXTURE_DIR = "/tmp/xutil_fixture_zip"


def _write_fixture_zip() -> str:
    """Deterministic zip with a GBK csv, a gzipped csv, and an XML
    member — the reference's headline ETL input shape (csv.go:264-277
    XML dispatch + archive.go:139-169 GBK decode)."""
    import gzip
    import os
    import zipfile

    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    path = os.path.join(_FIXTURE_DIR, "fixture.zip")
    csv_gbk = "a,b\n北京,1\n上海,2\n".encode("gbk")
    csv_gz = gzip.compress("a,b\n广州,3\n".encode("gbk"), mtime=0)
    xml = (
        "<root><rec><a>深圳</a><b>4</b></rec>"
        "<rec><a>成都</a><b>5</b></rec></root>"
    ).encode("utf-8")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        for name, data in [("one.csv", csv_gbk), ("two.csv.gz", csv_gz),
                           ("three.xml", xml)]:
            zf.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), data)
    return path


def q_parse_zip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParseZip end-to-end (csv.go:102-210): zip scan → member expand →
    per-suffix parse (GBK csv via CSVBytes semantics, gzipped member,
    XML via the XMLToCSV hook) → merge under one header."""
    _utc(spark)
    from xutil_spark.sources.archives import members_as_csv, read_archive_members

    path = _write_fixture_zip()
    members = read_archive_members(spark, path)
    out = members_as_csv(spark, members, encoding="gbk")
    return out.select(
        F.element_at(F.split(F.col("_archive"), "/"), -1).alias("archive"),
        F.col("_member").alias("member"), "a", "b",
    )


def o_parse_zip_xml() -> str:
    rows = [
        ("fixture.zip", "one.csv", "北京", "1"),
        ("fixture.zip", "one.csv", "上海", "2"),
        ("fixture.zip", "two.csv.gz", "广州", "3"),
        ("fixture.zip", "three.xml", "深圳", "4"),
        ("fixture.zip", "three.xml", "成都", "5"),
    ]
    vals = " UNION ALL ".join(
        f"SELECT '{a}' AS archive, '{m}' AS member, '{x}' AS a, '{y}' AS b"
        for a, m, x, y in rows
    )
    return vals


def q_file_lines_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileLinesCount / FilePatternLinesCount (file.go:23-58) over a
    deterministic fixture directory: per-file line counts from a
    distributed text scan."""
    _utc(spark)
    import os

    from xutil_spark.sources.archives import file_lines_count

    d = os.path.join(_FIXTURE_DIR, "lines")
    os.makedirs(d, exist_ok=True)
    for i in range(4):
        with open(os.path.join(d, f"f{i}.txt"), "w") as f:
            f.write("".join(f"line{j}\n" for j in range(10 + 7 * i)))
    out = file_lines_count(spark, os.path.join(d, "*.txt"))
    return out.select(
        F.element_at(F.split(F.col("fname"), "/"), -1).alias("fname"), "n_lines"
    )


def o_file_lines_count() -> str:
    vals = " UNION ALL ".join(
        f"SELECT 'f{i}.txt' AS fname, CAST({10 + 7 * i} AS BIGINT) AS n_lines"
        for i in range(4)
    )
    return vals


def q_file_list_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FtpFileList (ftp.go:287-319): regex + embedded-timestamp
    extraction over a file listing — matched files tagged with their
    rule id and the TimeParse'd capture ('' when unparseable)."""
    _utc(spark)
    import pandas as pd

    names = (
        [f"cdr_2024{m:02d}{d:02d}.csv" for m in (1, 2) for d in (5, 17)]
        + ["cdr_badstamp.csv", "other_20240105.csv", "report-20240301T12.txt"]
    )
    listing = spark.createDataFrame(pd.DataFrame({"fname": names}))
    from xutil_spark.sources.archives import file_list_pattern

    return file_list_pattern(listing, [
        ("cdr", r"^cdr_(\d{8})\.csv$"),
        ("rep", r"^report-(\d{8})T\d{2}\.txt$"),
    ])


def o_file_list_pattern() -> str:
    rows = (
        [(f"cdr", f"2024-{m:02d}-{d:02d} 00:00:00", f"cdr_2024{m:02d}{d:02d}.csv")
         for m in (1, 2) for d in (5, 17)]
        + [("rep", "2024-03-01 00:00:00", "report-20240301T12.txt")]
    )
    vals = " UNION ALL ".join(
        f"SELECT '{r}' AS rule_id, '{t}' AS dtime, '{f}' AS fname"
        for r, t, f in rows
    )
    return vals


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup CLUSTERING: MinHash-LSH candidates → exact
    Jaccard ≥ 0.5 verify → connected components (iterative min-label
    propagation) → (doc_id, cluster_id).  The oracle replays the same
    edges through a recursive reachability CTE — the iterative-
    algorithm class, SQL-checked."""
    _utc(spark)
    from xutil_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs, ngram_jaccard_pairs,
    )

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, k=8, bands=8, rows=2)
    verified = ngram_jaccard_pairs(docs, cand, k=8, threshold=0.5)
    comp = connected_components(verified)
    return comp.select(F.col("id").alias("doc_id"), "cluster_id")


def o_dup_clusters() -> str:
    from xutil_spark.entry_queries3 import o_ngram_jaccard

    return f"""
WITH RECURSIVE verified AS ({o_ngram_jaccard()}),
edges AS (
  SELECT a AS src, b AS dst FROM verified
  UNION
  SELECT b AS src, a AS dst FROM verified
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
)
SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src
"""


def q_cosine_top5_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in EXACT mode (nprobe = n_lists → every inverted list
    probed): must equal the brute-force oracle bit-for-bit — proves the
    quantize → bucket-join → re-score plumbing loses nothing.  The
    approximate tier (nprobe < n_lists) is recall-pinned in pytest."""
    _utc(spark)
    from xutil_spark.operators.similarity import cosine_topk_ivf

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return cosine_topk_ivf(q, emb, dim=64, k=5, n_lists=16, nprobe=16)


def o_cosine_top5_ivf() -> str:
    return o_cosine_top5()


def q_value_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueProcessor hook (csv.go:36): a per-value string transform
    (trim + upper here) applied to every string column of the parsed
    table in one projection."""
    _utc(spark)
    from xutil_spark.sources.archives import apply_value_processor

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 2)
    out = apply_value_processor(
        docs, lambda c: F.upper(F.trim(c)), columns=["lang", "source"]
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def o_value_processor() -> str:
    return """
SELECT doc_id, UPPER(TRIM(lang)) AS lang, UPPER(TRIM(source)) AS source, n_chars
FROM documents WHERE doc_id % 9 = 2
"""


# ========================================================= audio / video


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: synthetic PCM clips (typed-metadata binary
    column) → mapInPandas decode → acoustic features.  Rows-only (binary
    codecs are not SQL-expressible); numpy-oracle pinned in pytest."""
    _utc(spark)
    from xutil_spark.data.synth_av import audio_table
    from xutil_spark.raster.av import audio_features

    return audio_features(audio_table(spark, 1000))


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video path: synthetic raw-RGB videos → every-10th
    frame sample with timestamps + luminance (video becomes images
    downstream).  Rows-only; pixel-exact pytest pins."""
    _utc(spark)
    from xutil_spark.data.synth_av import video_table
    from xutil_spark.raster.av import frame_sample

    f = frame_sample(video_table(spark, 200), every_n=10)
    return f.select("video_id", "caption", "frame_idx", "ts_sec", "mean_lum")


# ====================================================== stateful streaming


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming first-seen dedup (applyInPandasWithState,
    SURVEY §2.10 / north-star custom stateful operator): documents
    parquet replayed as a file stream, per-digest first arrival kept
    (min doc_id within the batch), parquet sink + checkpoint.  State is
    keyed BY digest (one flag row per key — the state store shards the
    keys; nothing grows per key).  The oracle is the equivalent batch
    group-by."""
    _utc(spark)
    import shutil
    import tempfile

    from xutil_spark.streaming.stateful import streaming_first_seen

    import os

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    work = tempfile.mkdtemp(prefix="xutil_stream_dedup_")
    # the file-stream source wants a DIRECTORY of files — stage the
    # table into the work dir (symlink: no data copy)
    src = f"{work}/src"
    os.makedirs(src)
    os.symlink(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_first_seen(stream)
    sink, chk = f"{work}/sink", f"{work}/chk"
    q = (
        out.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await_stream(q, work)
    res = spark.read.parquet(sink).select("doc_id", "digest").localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return res


def o_streaming_dedup() -> str:
    return """
SELECT MIN(doc_id) AS doc_id, md5(text) AS digest
FROM documents GROUP BY md5(text)
"""


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState):
    events replayed as a file stream, 30-min inactivity-gap sessions
    per user.  Tail flush via a far-future SENTINEL event per user
    (flush="none"): the sentinel closes every real session by the gap
    rule and itself stays in state unemitted — one deterministic
    trigger, no processing-time timeouts.  The oracle computes the same
    sessions via lag + cumsum."""
    _utc(spark)
    import os
    import shutil
    import tempfile

    from xutil_spark.streaming.stateful import streaming_sessionize

    ev = _read(spark, sf_dir, "events")
    schema = ev.schema
    work = tempfile.mkdtemp(prefix="xutil_stream_sess_")
    src = f"{work}/src"
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    # sentinel injection is itself a Spark job (no driver collect —
    # at real cardinality the distinct user set is a fact table):
    # every column cast to the exact source schema type, written as
    # parquet, and the part files linked into the stream directory
    # (the file-stream source lists files, it does not recurse into
    # subdirectories, so the Spark output dir can't be dropped in
    # whole)
    import glob as _glob

    vals = {
        "event_id": F.lit(-1),
        "ts": F.lit("2099-01-01 00:00:00"),
        "user_id": F.col("user_id"),
        "event_type": F.lit("sentinel"),
        "value": F.lit(0.0),
        "props": F.lit(""),
    }
    sent_dir = f"{work}/sent_out"
    (ev.select("user_id").distinct()
     .select(*[vals[f.name].cast(f.dataType).alias(f.name)
               for f in schema.fields])
     .write.parquet(sent_dir))
    for i, part in enumerate(
            sorted(_glob.glob(f"{sent_dir}/part-*.parquet"))):
        os.symlink(part, f"{src}/sentinels-{i:05d}.parquet")
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_sessionize(stream, gap_seconds=1800, flush="none")
    sink, chk = f"{work}/sink", f"{work}/chk"
    q = (
        out.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await_stream(q, work)
    res = (
        spark.read.parquet(sink)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .localCheckpoint()
    )
    shutil.rmtree(work, ignore_errors=True)
    return res


def o_streaming_sessions() -> str:
    return """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): every event picks the latest profile
    update with update_ts <= event ts for its user.  Spark lacks the
    operator; the engine's union-tag + single-window plan (one shuffle,
    no range join) is checked against DuckDB's NATIVE ASOF LEFT JOIN.
    Updates derive deterministically from user ids: 10 updates per user,
    every 3 days from Jan 1 + (uid % 7) hours."""
    _utc(spark)
    from xutil_spark.operators.relational import as_of_join

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    left = ev.select("event_id", "user_id", "ts")
    users = ev.select("user_id").distinct()
    upd = users.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("_k"),
    ).select(
        "user_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("user_id") % 7)
            + F.make_interval(days=F.col("_k") * 3)
        ).alias("ts"),
        (F.col("user_id") * 100 + F.col("_k")).alias("profile_v"),
    )
    out = as_of_join(left, upd, on="user_id", ts="ts")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "profile_v",
    )


def o_asof_join() -> str:
    return """
WITH ev AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 5 = 0),
upd AS (
  SELECT u.user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (u.user_id % 7) * INTERVAL 1 HOUR
           + (k.k * 3) * INTERVAL 1 DAY AS ts,
         u.user_id * 100 + k.k AS profile_v
  FROM (SELECT DISTINCT user_id FROM ev) u
  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS k) k
)
SELECT ev.event_id, ev.user_id,
       strftime(ev.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       upd.profile_v
FROM ev ASOF LEFT JOIN upd
  ON ev.user_id = upd.user_id AND ev.ts >= upd.ts
"""


# ========================================================= geocode enrich


def q_geocode_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapAPI geocode-enrichment surface (map.go:17-29, 135-155): each
    DISTINCT address resolves once (the sync.Map cache idiom) then fact
    rows broadcast-join the Poi dim.  Deterministic offline resolver
    (md5-derived coords + fixed region tables)."""
    _utc(spark)
    from xutil_spark.operators.geocode import geocode_enrich

    cust = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 1)
    out = geocode_enrich(cust, "c_name")
    return out.select(
        "c_custkey", "c_name", "geo_lng", "geo_lat",
        "geo_province", "geo_city", "geo_district",
    )


def o_geocode_enrich() -> str:
    from xutil_spark.operators.geocode import CITIES, DISTRICTS, PROVINCES

    def pick(vals, alias):
        arms = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(vals))
        return f"(CASE idx {arms} END) AS {alias}"

    return f"""
WITH cust AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 4 = 1),
h AS (SELECT c_custkey, c_name, md5(c_name) AS hx FROM cust),
n AS (SELECT c_custkey, c_name,
             ('0x' || substr(hx, 1, 6))::BIGINT AS h1,
             ('0x' || substr(hx, 7, 6))::BIGINT AS h2,
             CAST(('0x' || substr(hx, 13, 2))::BIGINT % 4 AS INT) AS idx
      FROM h)
SELECT c_custkey, c_name,
       ROUND(73.5 + h1 / {float(0xFFFFFF)!r} * 61.0, 6) AS geo_lng,
       ROUND(18.2 + h2 / {float(0xFFFFFF)!r} * 35.3, 6) AS geo_lat,
       {pick(PROVINCES, "geo_province")},
       {pick(CITIES, "geo_city")},
       {pick(DISTRICTS, "geo_district")}
FROM n
"""


CONTRACT = {
    "gcj2wgs": (q_gcj2wgs, o_gcj2wgs),
    "bd2gcj": (q_bd2gcj, o_bd2gcj),
    "bd2wgs": (q_bd2wgs, o_bd2wgs),
    "mercator_to_bd09": (q_mercator_to_bd09, o_mercator_to_bd09),
    "tile2wgs": (q_tile2wgs, o_tile2wgs),
    "row_kv_reorder": (q_row_kv_reorder, o_row_kv_reorder),
    "strings_index": (q_strings_index, o_strings_index),
    "time_extend": (q_time_extend, o_time_extend),
    "aes_roundtrip": (q_aes_roundtrip, o_aes_roundtrip),
    "des_roundtrip": (q_des_roundtrip, o_des_roundtrip),
    "bmap_mocator": (q_bmap_mocator, o_bmap_mocator),
    "parse_zip_xml": (q_parse_zip_xml, o_parse_zip_xml),
    "file_lines_count": (q_file_lines_count, o_file_lines_count),
    "file_list_pattern": (q_file_list_pattern, o_file_list_pattern),
    "geocode_enrich": (q_geocode_enrich, o_geocode_enrich),
    "streaming_dedup": (q_streaming_dedup, o_streaming_dedup),
    "streaming_sessions": (q_streaming_sessions, o_streaming_sessions),
    "value_processor": (q_value_processor, o_value_processor),
    "dup_clusters": (q_dup_clusters, o_dup_clusters),
    "cosine_top5_ivf": (q_cosine_top5_ivf, o_cosine_top5_ivf),
    "asof_join": (q_asof_join, o_asof_join),
}
