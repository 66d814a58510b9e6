"""Relational-parity + text-analysis operator tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.operators import relational as R
from xutil_spark.operators import textops as T


# ------------------------------------------------------------------ set ops

def test_set_ops_semantics(spark):
    s1 = spark.createDataFrame(pd.DataFrame({"v": ["a", "b", "b", "c"]}))
    s2 = spark.createDataFrame(pdf2 := pd.DataFrame({"v": ["b", "d"]}))
    minus = sorted(R.strings_minus(s1, s2, "v").toPandas()["v"])
    assert minus == ["a", "c"]  # strings.go:47-60: keeps s1 dups, drops b
    inter = sorted(R.strings_intersect(s1, s2, "v").toPandas()["v"])
    assert inter == ["b", "b"]  # keeps s1 duplicates
    union = sorted(R.strings_union(s1, s2, "v").toPandas()["v"])
    assert union == ["a", "b", "c", "d"]  # deduped


def test_strings_uniq_first_wins(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": ["x", "y", "x"], "ord": [1, 2, 3], "payload": [10, 20, 30]})
    )
    got = R.strings_uniq(df, "v", order_col="ord").toPandas().sort_values("v")
    assert list(got["payload"]) == [10, 20]


# ------------------------------------------------------------ parse semantics

def test_parse_zero_fill_vs_skip(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["1", "x", "2.5", ""]}))
    got = df.select(
        R.to_int_zero_fill("s").alias("i"),
        R.to_double_zero_fill("s").alias("d"),
    ).toPandas()
    assert list(got["i"]) == [1, 0, 0, 0]  # "2.5" fails int parse → 0
    assert list(got["d"]) == [1.0, 0.0, 2.5, 0.0]
    arr = spark.createDataFrame(pd.DataFrame({"s": ["1,x,2.5,,3"]})).select(
        R.split_doubles_skip("s", ",").alias("a")
    ).toPandas()
    assert list(arr["a"][0]) == [1.0, 2.5, 3.0]  # skip semantics


def test_col_float64_aggs(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["1,2,3,4", "bad,", "5"]}))
    got = df.select(
        R.col_float64("s", ",", "SUM").alias("sum"),
        R.col_float64("s", ",", "MAX").alias("max"),
        R.col_float64("s", ",", "MIN").alias("min"),
        R.col_float64("s", ",", "AVG").alias("avg"),
        R.col_float64("s", ",", "STDDEV").alias("sd"),
    ).toPandas()
    assert got["sum"][0] == 10.0 and got["avg"][0] == 2.5
    # population stddev (math.go:50-52): sqrt(mean((x-mean)^2))
    assert got["sd"][0] == pytest.approx(np.std([1, 2, 3, 4]))
    assert pd.isna(got["sum"][1])  # empty after skip → null (ref panics)
    assert got["max"][2] == 5.0


# ----------------------------------------------------------------- time ops

def test_time_trunc_sunday_week(spark):
    # 2024-01-10 is a Wednesday; Sunday-start week begins 2024-01-07
    # (time.go:23-24: d - weekday), unlike ISO Monday 2024-01-08
    df = spark.createDataFrame(pd.DataFrame({"ts": pd.to_datetime([
        "2024-01-10 13:45:00", "2024-01-07 00:00:00", "2024-01-06 23:59:59",
    ])}))
    got = df.select(R.time_trunc("ts", "week").alias("w")).toPandas()
    assert str(got["w"][0])[:10] == "2024-01-07"
    assert str(got["w"][1])[:10] == "2024-01-07"
    assert str(got["w"][2])[:10] == "2023-12-31"


def test_time_trunc_units(spark):
    df = spark.createDataFrame(pd.DataFrame({"ts": pd.to_datetime(["2024-03-15 13:45:33"])}))
    got = df.select(
        R.time_trunc("ts", "month").alias("m"),
        R.time_trunc("ts", "day").alias("d"),
        R.time_trunc("ts", "hour").alias("h"),
    ).toPandas()
    assert str(got["m"][0]) == "2024-03-01 00:00:00"
    assert str(got["d"][0]) == "2024-03-15 00:00:00"
    assert str(got["h"][0]) == "2024-03-15 13:00:00"


def test_time_rule_forward_backward(spark):
    df = spark.createDataFrame(pd.DataFrame({"ts": pd.to_datetime(["2024-03-15 13:45:33"])}))
    fwd = df.select(R.time_rule("ts", "day", 3).alias("r")).toPandas()["r"][0]
    assert [str(t)[:10] for t in fwd] == ["2024-03-15", "2024-03-16", "2024-03-17"]
    bwd = df.select(R.time_rule("ts", "hour", -2).alias("r")).toPandas()["r"][0]
    assert [str(t) for t in bwd] == ["2024-03-15 13:00:00", "2024-03-15 12:00:00"]


def test_time_parse_ladder(spark):
    cases = {
        "2024-03-15": "2024-03-15 00:00:00",
        "2024-03-15 13": "2024-03-15 13:00:00",
        "2024-03-15 13:45": "2024-03-15 13:45:00",
        "2024-03-15 13:45:33": "2024-03-15 13:45:33",
        "2024-03-15T13:45:33": "2024-03-15 13:45:33",
        "20240315": "2024-03-15 00:00:00",
        "2024031513": "2024-03-15 13:00:00",
        "202403151345": "2024-03-15 13:45:00",
        "20240315134533": "2024-03-15 13:45:33",
        "20240315.1345": "2024-03-15 13:45:00",
        "20240315.134533": "2024-03-15 13:45:33",
    }
    df = spark.createDataFrame(pd.DataFrame({"s": list(cases)}))
    got = df.select("s", R.time_parse("s").alias("t")).toPandas()
    for _, r in got.iterrows():
        assert str(r["t"]) == cases[r["s"]], r["s"]


def test_time_split_half_open(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "b": pd.to_datetime(["2024-01-01 00:00:00"]),
        "e": pd.to_datetime(["2024-01-01 03:00:00"]),
    }))
    got = df.select(R.time_split("b", "e", 3600).alias("r")).toPandas()["r"][0]
    assert len(got) == 3  # [b, e) — e excluded (time.go:134-139)


# ------------------------------------------------------------------- base-n

def test_base_n_roundtrip_76(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": [9999, 0, 76, 75]}))
    got = df.select(
        R.decimal_to_any("v", 76).alias("e"),
        R.any_to_decimal(R.decimal_to_any("v", 76), 76).alias("rt"),
    ).toPandas()
    assert got["e"][0] == "1F["  # math.go:170-173 demo golden
    assert got["e"][1] == ""    # reference: loop never runs for 0
    assert got["e"][2] == "10"
    assert got["e"][3] == "Z"
    assert list(got["rt"]) == [9999, 0, 76, 75]


def test_base_36_matches_conv(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": [123456, 35]}))
    got = df.select(R.decimal_to_any("v", 36).alias("e"),
                    R.any_to_decimal(R.decimal_to_any("v", 36), 36).alias("rt")).toPandas()
    assert got["e"][1] == "z"
    assert list(got["rt"]) == [123456, 35]


# ----------------------------------------------------------------- id cards

def test_id_card_pipeline(spark):
    """idcard.go:136-143 demo: 210212831019104 (15-digit)."""
    dim = spark.createDataFrame(pd.DataFrame({
        "code": ["210000", "210200", "210212", "140522"],
        "name": ["辽宁省", "大连市", "旅顺口区", "端氏镇"],
    }))
    ids = spark.createDataFrame(pd.DataFrame({"id": ["210212831019104"]}))
    got = R.id_card_pipeline(ids, dim, as_of="2026-01-01").toPandas().iloc[0]
    assert got["id"] == "210212198310191044"  # 15→18 with check digit 4
    assert got["gender"] == "F"  # digit 17 = 0 → even
    assert str(got["birthdate"]) == "1983-10-19"
    assert got["age"] == 42
    assert got["district"] == "旅顺口区"
    assert got["city"] == "大连市"
    assert got["province"] == "辽宁省"
    assert bool(got["_ok_pattern"]) and bool(got["_ok_check"])


def test_id_card_region_decode_full_cardinality(spark):
    """3-level prefix decode against the FULL ~3.4k-row region dim
    (data/synth.region_rows, loaded through load_region_dim's JSON
    route — idcard.go:40-53 at real cardinality), pinned against a
    scalar dict lookup for district-, city- and province-level hits
    plus codes with missing district (110199, 320499) and a missing
    province (830101 → all three levels null)."""
    import json
    import tempfile

    from xutil_spark.data.synth import region_rows

    regions = region_rows()
    assert len(regions) > 3000
    lookup = dict(regions)
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump(lookup, fh)
        path = fh.name
    dim = R.load_region_dim(spark, path)
    assert dim.count() == len(regions)

    codes = [c for c, _ in regions if c[4:6] != "00"][::293] + [
        "110199", "320499", "830101",
    ]
    ids = spark.createDataFrame(pd.DataFrame({
        "id": [f"{c}19830101001" for c in codes]  # 15-digit → 18 upgrade
    }))
    got = R.id_card_pipeline(ids, dim, as_of="2026-01-01").toPandas()
    by_code = {r["id"][:6]: r for _, r in got.iterrows()}
    assert len(by_code) == len(codes)
    for c in codes:
        r = by_code[c]
        assert r["district"] == lookup.get(c), c
        assert r["city"] == lookup.get(c[:4] + "00"), c
        assert r["province"] == lookup.get(c[:2] + "0000"), c
    assert by_code["830101"]["province"] is None


def test_id_validity_and_pattern(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "id": ["210212198310191044", "210212198310191043", "00021219831019104x"]
    }))
    got = df.select(
        R.id_is_pattern("id").alias("p"), R.id_is_valid("id").alias("v")
    ).toPandas()
    assert list(got["p"]) == [True, True, False]
    assert list(got["v"]) == [True, False, False]


# ---------------------------------------------------------------- text ops

def test_token_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["the quick  brown fox", "", "  a  "]}))
    got = df.select(T.token_count("t").alias("n"),
                    T.bpe_ish_token_count("t").alias("b")).toPandas()
    assert list(got["n"]) == [4, 0, 1]
    # "the"(1) + "quick"(2) + "brown"(2) + "fox"(1) = 6 BPE-ish pieces
    assert got["b"][0] == 6


def test_lang_id(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": [
        "the cat and the dog of the house",
        "el perro de la casa es grande y los gatos",
        "zzz qqq www",
    ]}))
    got = df.select(T.lang_id("t").alias("l")).toPandas()
    assert list(got["l"]) == ["en", "es", "und"]


def test_quality_features(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": [
        "The quick brown fox jumps over the lazy dog, twice.",
        "a a a a a a a a",
    ]}))
    got = T.quality_features(df).toPandas()
    assert got["quality_score"][0] > got["quality_score"][1]
    assert got["n_tokens"][0] == 10
    assert 0 < got["punct_ratio"][0] < 0.1
    assert got["uniq_token_ratio"][1] == pytest.approx(1 / 8)


def test_rolling_fingerprints_shift_invariance(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, "PREFIX " + base, "completely different content here entirely"],
    }))
    got = T.rolling_fingerprints(df, window=8, keep=6).toPandas()
    fps = {r["doc_id"]: set(r["fingerprint"]) for _, r in got.iterrows()}
    overlap_near = len(fps[1] & fps[2]) / 6
    overlap_far = len(fps[1] & fps[3]) / 6
    assert overlap_near >= 0.5  # rolling hashes survive the prefix shift
    assert overlap_far == 0.0


def test_strings_index(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from xutil_spark.operators.relational import strings_index

    df = spark.createDataFrame(pd.DataFrame({"arr": [["a", "b", "a"], ["x"]]}))
    got = df.select(
        strings_index(F.col("arr"), "a").alias("ia"),
        strings_index(F.col("arr"), "zz").alias("iz"),
    ).toPandas()
    assert got["ia"].tolist() == [0, -1]   # first occurrence, 0-based
    assert got["iz"].tolist() == [-1, -1]


def test_time_extend_half_open(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from xutil_spark.operators.relational import time_extend

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2024-03-05 10:47:13"])})
    )
    fmt = lambda c: F.transform(c, lambda t: F.date_format(t, "yyyy-MM-dd HH:mm:ss"))
    got = df.select(
        fmt(time_extend(F.col("ts"), 2, 3600)).alias("fwd"),
        fmt(time_extend(F.col("ts"), -2, 3600)).alias("back"),
        fmt(time_extend(F.col("ts"), 0, 3600)).alias("zero"),
    ).toPandas().iloc[0]
    # time.go:141-148: truncate, then half-open [b, e)
    assert list(got["fwd"]) == ["2024-03-05 10:00:00", "2024-03-05 11:00:00"]
    assert list(got["back"]) == ["2024-03-05 08:00:00", "2024-03-05 09:00:00"]
    assert len(got["zero"]) == 0


def test_crypto_aes_and_digests(spark):
    import hashlib
    import pandas as pd
    from pyspark.sql import functions as F
    from xutil_spark.functions import crypto

    df = spark.createDataFrame(pd.DataFrame({"t": ["hello 世界", ""]}))
    key = "0123456789abcdef"
    out = df.select(
        "t",
        crypto.decrypt(crypto.encrypt(F.col("t"), key), key)
        .cast("string").alias("rt_ecb"),
        crypto.decrypt(crypto.encrypt(F.col("t"), key, mode="CBC"),
                       key, mode="CBC").cast("string").alias("rt_cbc"),
        crypto.sha1_hex(F.col("t")).alias("sha1"),
        crypto.md5_hex(F.col("t")).alias("md5"),
    ).toPandas()
    assert out["rt_ecb"].tolist() == out["t"].tolist()
    assert out["rt_cbc"].tolist() == out["t"].tolist()
    for _, r in out.iterrows():
        assert r["sha1"] == hashlib.sha1(r["t"].encode()).hexdigest()
        assert r["md5"] == hashlib.md5(r["t"].encode()).hexdigest()


def _gf_mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _aes_sbox() -> list[int]:
    def rotl8(x, n):
        return ((x << n) | (x >> (8 - n))) & 0xFF

    sbox = [0x63]  # affine(inv(0)=0) = 0x63
    for a in range(1, 256):
        inv = next(b for b in range(1, 256) if _gf_mul(a, b) == 1)
        sbox.append(inv ^ rotl8(inv, 1) ^ rotl8(inv, 2)
                    ^ rotl8(inv, 3) ^ rotl8(inv, 4) ^ 0x63)
    return sbox


def _aes128_encrypt_block(key: bytes, block: bytes,
                          _sbox_cache: list = []) -> bytes:
    """From-scratch FIPS-197 AES-128 single-block encrypt — an
    implementation INDEPENDENT of the JVM's, built here only to pin
    reference parity of the engine's aes_encrypt semantics."""
    if not _sbox_cache:
        _sbox_cache.extend(_aes_sbox())
    sbox = _sbox_cache
    w = [list(key[4 * i: 4 * i + 4]) for i in range(4)]
    rcon = 1
    for i in range(4, 44):
        t = list(w[i - 1])
        if i % 4 == 0:
            t = [sbox[b] for b in t[1:] + t[:1]]
            t[0] ^= rcon
            rcon = _gf_mul(rcon, 2)
        w.append([x ^ y for x, y in zip(w[i - 4], t)])
    s = list(block)

    def add_round_key(rnd):
        for c in range(4):
            for r in range(4):
                s[4 * c + r] ^= w[4 * rnd + c][r]

    def sub_shift_mix(final):
        for i in range(16):
            s[i] = sbox[s[i]]
        for r in range(1, 4):
            row = [s[r + 4 * c] for c in range(4)]
            row = row[r:] + row[:r]
            for c in range(4):
                s[r + 4 * c] = row[c]
        if not final:
            for c in range(4):
                a = s[4 * c: 4 * c + 4]
                s[4 * c + 0] = _gf_mul(a[0], 2) ^ _gf_mul(a[1], 3) ^ a[2] ^ a[3]
                s[4 * c + 1] = a[0] ^ _gf_mul(a[1], 2) ^ _gf_mul(a[2], 3) ^ a[3]
                s[4 * c + 2] = a[0] ^ a[1] ^ _gf_mul(a[2], 2) ^ _gf_mul(a[3], 3)
                s[4 * c + 3] = _gf_mul(a[0], 3) ^ a[1] ^ a[2] ^ _gf_mul(a[3], 2)

    add_round_key(0)
    for rnd in range(1, 10):
        sub_shift_mix(final=False)
        add_round_key(rnd)
    sub_shift_mix(final=True)
    add_round_key(10)
    return bytes(s)


def test_crypto_aes_golden_parity(spark):
    """Reference-parity pin for AES/ECB/PKCS5 (crypto.go:95-125): the
    engine's ciphertext must equal a from-scratch FIPS-197 AES-128
    implementation (itself validated against the NIST AES-128 known-
    answer vector) + PKCS#5 padding — not just round-trip."""
    import pandas as pd

    from xutil_spark.functions import crypto

    # NIST FIPS-197 / SP 800-38A AES-128-ECB known-answer vector
    nist_key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    nist_pt = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert _aes128_encrypt_block(nist_key, nist_pt).hex() == \
        "3ad77bb40d7a3660a89ecaf32466ef97"

    key = "0123456789abcdef"  # 16-byte ASCII key (engine keys are str)
    plaintext = "hello xutil parity"
    pad = 16 - len(plaintext.encode()) % 16
    padded = plaintext.encode() + bytes([pad]) * pad
    expected = b"".join(
        _aes128_encrypt_block(key.encode(), padded[i: i + 16])
        for i in range(0, len(padded), 16)
    )
    df = spark.createDataFrame(pd.DataFrame({"t": [plaintext]}))
    got = df.select(
        F.hex(crypto.encrypt("t", key, mode="ECB", padding="PKCS")).alias("c")
    ).collect()[0]["c"]
    assert got.lower() == expected.hex()


def test_sha1_golden(spark):
    """Hash.SHA1 (crypto.go:31-35) golden vectors."""
    import pandas as pd

    from xutil_spark.functions import crypto

    df = spark.createDataFrame(pd.DataFrame({"t": ["abc", ""]}))
    got = [r["h"] for r in
           df.select(crypto.sha1_hex("t").alias("h")).collect()]
    assert got == ["a9993e364706816aba3e25717850c26c9cd0d89d",
                   "da39a3ee5e6b4b0d3255bfef95601890afd80709"]


def test_crypto_unsupported_modes_raise():
    import pytest
    from xutil_spark.functions import crypto

    with pytest.raises(NotImplementedError):
        crypto.encrypt("c", "k" * 16, algorithm="RC4")
    with pytest.raises(NotImplementedError):
        crypto.encrypt("c", "k" * 16, mode="XTS")


def test_blockcipher_nist_kats():
    """Kernel pins: DES forward/inverse on the classic FIPS-81-lineage
    known answer; AES-128 forward/inverse on FIPS-197 appendix C.1;
    AES CTR / OFB / CFB128 first blocks on NIST SP 800-38A
    (F.5.1 / F.4.1 / F.3.13)."""
    from xutil_spark.kernels.blockciphers import AES128, DES, _keystream_apply

    d = DES(bytes.fromhex("133457799BBCDFF1"))
    ct = d.encrypt_block(bytes.fromhex("0123456789ABCDEF"))
    assert ct.hex().upper() == "85E813540F0AB405"
    assert d.decrypt_block(ct).hex().upper() == "0123456789ABCDEF"

    a = AES128(bytes.fromhex("000102030405060708090a0b0c0d0e0f"))
    ct = a.encrypt_block(bytes.fromhex("00112233445566778899aabbccddeeff"))
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert a.decrypt_block(ct).hex() == "00112233445566778899aabbccddeeff"

    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    pt1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    ctr0 = bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff")
    assert _keystream_apply(AES128(key), iv, pt1, "CFB", False).hex() \
        == "3b3fd92eb72dad20333449f8e83cfb4a"
    assert _keystream_apply(AES128(key), iv, pt1, "OFB", False).hex() \
        == "3b3fd92eb72dad20333449f8e83cfb4a"
    assert _keystream_apply(AES128(key), ctr0, pt1, "CTR", False).hex() \
        == "874d6191b620e3261bef6864990db6ce"


def test_blockcipher_roundtrip_matrix():
    """crypto.go semantics round-trip for every algorithm × mode ×
    padding (IV = key, pad in every mode, ZERO strips both ends)."""
    from xutil_spark.kernels.blockciphers import crypt

    msg = "The quick brown fox -- 你好".encode()
    for algo, key in (("DES", b"deskey12"), ("AES", b"0123456789abcdef")):
        for mode in ("ECB", "CBC", "CTR", "OFB", "CFB"):
            for padding in ("PKCS5", "ZERO"):
                ct = crypt(msg, key, algo, mode, padding)
                assert crypt(ct, key, algo, mode, padding, decrypt=True) \
                    == msg, (algo, mode, padding)
    # ZERO-unpad both-ends quirk (Go bytes.TrimFunc, crypto.go:60-64):
    # leading NULs in the plaintext are stripped on decrypt too
    ct = crypt(b"\x00lead", b"deskey12", "DES", "ECB", "ZERO")
    assert crypt(ct, b"deskey12", "DES", "ECB", "ZERO", decrypt=True) == b"lead"


def test_crypto_des_stream_modes_spark(spark):
    """DES/CBC and AES/CTR column round-trips through the pandas-UDF
    kernel path (reference IV=key semantics)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from xutil_spark.functions import crypto

    df = spark.createDataFrame(pd.DataFrame({"t": ["hello 世界", "x", ""]}))
    out = df.select(
        "t",
        crypto.decrypt(crypto.encrypt(F.col("t"), "deskey12",
                                      algorithm="DES", mode="CBC"),
                       "deskey12", algorithm="DES", mode="CBC")
        .cast("string").alias("rt_des"),
        crypto.decrypt(crypto.encrypt(F.col("t"), "0123456789abcdef",
                                      mode="CTR"),
                       "0123456789abcdef", mode="CTR")
        .cast("string").alias("rt_ctr"),
    ).toPandas()
    assert out["rt_des"].tolist() == out["t"].tolist()
    assert out["rt_ctr"].tolist() == out["t"].tolist()


def test_as_of_join_vs_pandas_merge_asof(spark):
    """Union-tag as-of join vs pandas merge_asof: no-match nulls, exact
    same-ts inclusivity, per-key isolation."""
    import pandas as pd
    from pyspark.sql import functions as F
    from xutil_spark.operators.relational import as_of_join

    left = pd.DataFrame({
        "k": [1, 1, 1, 2, 3],
        "ts": pd.to_datetime([
            "2024-01-01 08:00:00", "2024-01-01 10:00:00",
            "2024-01-01 11:00:00", "2024-01-01 10:30:00",
            "2024-01-01 09:00:00",
        ]),
        "x": [10, 20, 30, 40, 50],
    })
    right = pd.DataFrame({
        "k": [1, 1, 2],
        "ts": pd.to_datetime([
            "2024-01-01 09:00:00", "2024-01-01 11:00:00",  # == left ts
            "2024-01-01 10:00:00",
        ]),
        "v": [100, 200, 300],
    })
    got = (
        as_of_join(spark.createDataFrame(left), spark.createDataFrame(right),
                   on="k", ts="ts")
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"),
        on="ts", by="k", direction="backward",
    ).sort_values(["k", "ts"]).reset_index(drop=True)
    assert got["x"].tolist() == exp["x"].tolist()
    assert got["v"].astype("float").fillna(-1).tolist() == \
        exp["v"].astype("float").fillna(-1).tolist()
    # key 1 @ 08:00 has no update yet; key 3 has none at all → null
    assert pd.isna(got.loc[(got["k"] == 1) & (got["x"] == 10), "v"]).all()
    assert pd.isna(got.loc[got["k"] == 3, "v"]).all()
    # same-instant update IS visible (inclusive <=)
    assert got.loc[(got["k"] == 1) & (got["x"] == 30), "v"].iloc[0] == 200


def test_as_of_join_null_payload_surfaces(spark):
    """ADVICE regression: a matched right row whose payload VALUE is
    NULL must surface that NULL (DuckDB ASOF / merge_asof semantics),
    not skip back to an older non-null value."""
    import pandas as pd
    from xutil_spark.operators.relational import as_of_join

    left = spark.createDataFrame(pd.DataFrame({
        "k": [1], "ts": pd.to_datetime(["2024-01-01 12:00:00"]), "x": [1],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1],
        "ts": pd.to_datetime(["2024-01-01 09:00:00", "2024-01-01 11:00:00"]),
        "v": [100.0, None],  # the LATEST matching row carries NULL
    }))
    got = as_of_join(left, right, on="k", ts="ts").toPandas()
    assert len(got) == 1 and pd.isna(got["v"].iloc[0])


def test_as_of_join_property_random(spark):
    """Property: union-tag as-of join == pandas merge_asof on randomized
    (but deterministic) key/ts layouts, including duplicate left ts."""
    import numpy as np
    import pandas as pd
    from xutil_spark.operators.relational import as_of_join

    rng = np.random.default_rng(20260817)
    for trial in range(3):
        n_l, n_r = 120, 40
        left = pd.DataFrame({
            "k": rng.integers(0, 8, n_l),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_l), unit="m"),
            "x": np.arange(n_l),
        })
        right = pd.DataFrame({
            "k": rng.integers(0, 10, n_r),  # some keys never in left
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_r), unit="m"),
            "v": np.arange(n_r) * 1000,
        }).drop_duplicates(["k", "ts"])  # unique (k, ts) → well-defined
        got = (
            as_of_join(spark.createDataFrame(left),
                       spark.createDataFrame(right), on="k", ts="ts")
            .toPandas().sort_values("x").reset_index(drop=True)
        )
        exp = pd.merge_asof(
            left.sort_values(["ts", "x"], kind="stable"),
            right.sort_values("ts", kind="stable"),
            on="ts", by="k", direction="backward",
        ).sort_values("x").reset_index(drop=True)
        assert got["v"].astype("float").fillna(-1).tolist() == \
            exp["v"].astype("float").fillna(-1).tolist(), trial


def test_rolling_fingerprints_property(spark):
    """Property: the concatenated-buffer vectorized winnowing equals a
    direct per-doc computation for random texts incl. empty/short."""
    import numpy as np
    import pandas as pd
    from xutil_spark.operators import textops as T

    rng = np.random.default_rng(7)
    texts = []
    for i in range(40):
        n = int(rng.integers(0, 60))
        texts.append("".join(chr(97 + int(c)) for c in rng.integers(0, 26, n)))
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(40), "text": texts}))
    got = {r["doc_id"]: list(r["fingerprint"])
           for _, r in T.rolling_fingerprints(df, window=8, keep=5)
           .toPandas().iterrows()}

    B, W = 1000003, 8
    def direct(t):
        data = t.encode()
        if len(data) < W:
            return []
        hs = set()
        for i in range(len(data) - W + 1):
            acc = 0
            for j in range(W):
                acc = (acc * B + data[i + j]) % (1 << 64)
            hs.add(acc)
        out = sorted(hs)[:5]
        return [x - (1 << 64) if x >= (1 << 63) else x for x in out]

    for i, t in enumerate(texts):
        assert got[i] == direct(t), i


# ---------------------------------------------------- repetition filters


def test_repetition_features_known_values(spark):
    from xutil_spark.operators.textops import repetition_features

    df = spark.createDataFrame(
        [
            (1, "the cat sat the cat sat the cat"),
            (2, "alpha beta gamma delta"),
            (3, ""),
            (4, "one two"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    # doc 1: 6 trigrams, 3 distinct -> 0.5; "the cat" x3, 6 chars x3
    # occurrences over 24 non-space chars -> 0.75
    assert out[1]["n_words"] == 8
    assert out[1]["dup_trigram_frac"] == 0.5
    assert out[1]["top_bigram"] == "the cat"
    assert out[1]["top_bigram_char_frac"] == 0.75
    assert out[1]["keep"] is False
    # doc 2: all n-grams unique; tie on count=1 -> lexicographically
    # smallest bigram; 9 bigram chars / 19 doc chars
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["top_bigram"] == "alpha beta"
    assert out[2]["top_bigram_char_frac"] == round(9 / 19, 6)
    # doc 3: empty -> all-zero metrics, keep
    assert out[3]["n_words"] == 0
    assert out[3]["top_bigram"] == ""
    assert out[3]["top_bigram_char_frac"] == 0.0
    assert out[3]["keep"] is True
    # doc 4: a single bigram covering the whole doc
    assert out[4]["top_bigram_char_frac"] == 1.0
    assert out[4]["keep"] is False


def test_line_repetition_features_known_values(spark):
    from xutil_spark.operators.textops import line_repetition_features

    df = spark.createDataFrame(
        [(1, "aa\nbb\naa\n\ncc"), (2, "solo"), (3, "")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in line_repetition_features(df).collect()}
    # 4 non-empty lines, 3 distinct; 8 line chars, 6 distinct-set chars
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_frac"] == 0.25
    assert out[1]["dup_line_char_frac"] == 0.25
    assert out[2]["dup_line_frac"] == 0.0
    assert out[3]["n_lines"] == 0
    assert out[3]["dup_line_char_frac"] == 0.0


def test_pii_scrub_known_values(spark):
    from xutil_spark.operators.textops import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-y.co.uk now, dial +86 138-0000 1234, "
                "host 192.168.0.1 end"),
            (2, "no pii here"),
            (3, "two mails p@q.io and r@s.dev"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (1, 1, 1)
    assert out[1]["scrubbed"] == (
        "mail <EMAIL> now, dial <PHONE>, host <IPV4> end"
    )
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ipv4"]) == (0, 0, 0)
    assert out[2]["scrubbed"] == "no pii here"
    assert out[3]["n_email"] == 2
    assert out[3]["scrubbed"] == "two mails <EMAIL> and <EMAIL>"


# ------------------------------------------------------------- sampling


def test_sampling_deterministic_and_mass(spark):
    """operators/sampling: identical calls return identical rows
    (hash-rank determinism), fractions land near their expected mass,
    stratified-n is exact per stratum, and mixture copies realize
    floor(w)/ceil(w) with a 1-based copy_id."""
    import numpy as np
    from xutil_spark.operators import sampling as S

    n = 4000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "lang": np.where(np.arange(n) % 3 == 0, "en",
                         np.where(np.arange(n) % 3 == 1, "zh", "de")),
    })
    df = spark.createDataFrame(pdf)

    a = sorted(r["doc_id"] for r in
               S.sample_fraction(df, 0.3, "doc_id").collect())
    b = sorted(r["doc_id"] for r in
               S.sample_fraction(df, 0.3, "doc_id").collect())
    assert a == b                       # deterministic
    assert abs(len(a) / n - 0.3) < 0.03  # mass
    # different salt = different (but still deterministic) pick
    c = sorted(r["doc_id"] for r in
               S.sample_fraction(df, 0.3, "doc_id", salt=9).collect())
    assert c != a and abs(len(c) / n - 0.3) < 0.03
    assert S.sample_fraction(df, 1.0, "doc_id").count() == n
    assert S.sample_fraction(df, 0.0, "doc_id").count() == 0

    topn = S.sample_stratified_n(df, "lang", 25, "doc_id").toPandas()
    assert topn.groupby("lang").size().to_dict() == {"en": 25, "zh": 25, "de": 25}

    sizes = pdf.groupby("lang").size()
    frac = S.sample_stratified_fraction(
        df, "lang", {"en": 0.5, "zh": 0.1}, "doc_id", default=0.25
    ).toPandas()
    got = frac.groupby("lang").size()
    assert abs(got["en"] / sizes["en"] - 0.5) < 0.06
    assert abs(got["zh"] / sizes["zh"] - 0.1) < 0.04
    assert abs(got["de"] / sizes["de"] - 0.25) < 0.05

    mix = S.mixture_resample(
        df, "lang", {"en": 2.5, "zh": 0.25}, "doc_id"
    ).toPandas()
    per = mix.groupby("lang")
    # en: every row 2 or 3 copies, mean ≈ 2.5
    en_copies = per.get_group("en").groupby("doc_id").size()
    assert set(en_copies.unique()) <= {2, 3}
    assert abs(en_copies.mean() - 2.5) < 0.1
    # zh: surviving rows exactly once, ~25% survive
    zh = per.get_group("zh")
    assert zh.groupby("doc_id").size().max() == 1
    assert abs(len(zh) / sizes["zh"] - 0.25) < 0.05
    # unlisted stratum: weight 1 → every row exactly once
    de = per.get_group("de")
    assert len(de) == sizes["de"] and set(de["copy_id"]) == {1}
    assert mix["copy_id"].min() == 1


def test_blockcipher_roundtrip_hypothesis():
    """Property: crypt(crypt(m)) == m for arbitrary byte strings across
    the mode × padding matrix (PKCS5 exact; ZERO modulo its documented
    both-ends NUL-stripping quirk)."""
    from hypothesis import given, settings, strategies as st

    from xutil_spark.kernels.blockciphers import crypt

    @settings(max_examples=40, deadline=None)
    @given(
        st.binary(min_size=0, max_size=200),
        st.sampled_from(["ECB", "CBC", "CTR", "OFB", "CFB"]),
        st.sampled_from([("DES", b"deskey12"), ("AES", b"0123456789abcdef")]),
    )
    def check(msg, mode, algo_key):
        algo, key = algo_key
        ct = crypt(msg, key, algo, mode, "PKCS5")
        assert crypt(ct, key, algo, mode, "PKCS5", decrypt=True) == msg
        ct0 = crypt(msg, key, algo, mode, "ZERO")
        assert crypt(ct0, key, algo, mode, "ZERO", decrypt=True) \
            == msg.strip(b"\x00")

    check()


def test_sampling_rank_properties(spark):
    """Properties of the md5 hash rank: fraction-monotone (a smaller
    fraction's sample is a subset of a larger one at the same salt) and
    stratified-n is rank-consistent (the n=5 pick is a prefix of the
    n=10 pick per stratum)."""
    from xutil_spark.operators import sampling as S

    pdf = pd.DataFrame({
        "doc_id": np.arange(1000, dtype=np.int64),
        "lang": ["en" if i % 2 else "zh" for i in range(1000)],
    })
    df = spark.createDataFrame(pdf)
    small = {r["doc_id"] for r in S.sample_fraction(df, 0.1, "doc_id").collect()}
    big = {r["doc_id"] for r in S.sample_fraction(df, 0.4, "doc_id").collect()}
    assert small <= big  # threshold monotonicity

    n5 = {(r["lang"], r["doc_id"])
          for r in S.sample_stratified_n(df, "lang", 5, "doc_id").collect()}
    n10 = {(r["lang"], r["doc_id"])
           for r in S.sample_stratified_n(df, "lang", 10, "doc_id").collect()}
    assert n5 <= n10  # prefix property


def test_decontaminate_13gram(spark):
    """Known-overlap corpus: doc 1 is the benchmark; doc 2 shares a
    13-gram window with it, doc 3 shares only 12 consecutive words,
    doc 4 is short (<13 tokens)."""
    from xutil_spark.operators.textops import decontaminate

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),                      # benchmark member
            (2, "x y " + " ".join(words[:13])),        # exact 13-gram hit
            (3, "x " + " ".join(words[:12]) + " zz"),  # only 12 shared
            (4, "too short for any thirteen gram"),
        ],
        ["doc_id", "text"],
    )
    bench = docs.filter("doc_id = 1")
    out = {r["doc_id"]: (r["contaminated"], r["n_hits"])
           for r in decontaminate(docs, bench, n=13).collect()}
    assert out[1][0] and out[1][1] == 8      # 20 tokens -> 8 own 13-grams
    assert out[2] == (True, 1)
    assert out[3] == (False, 0)
    assert out[4] == (False, 0)


def test_bm25_scores_match_pure_python(spark):
    """BM25 output equals an independent pure-Python computation of the
    Okapi formula on the same corpus."""
    import math

    from xutil_spark.operators.textops import bm25_scores

    texts = [
        "spark window spark table",
        "window vector window window data",
        "customer data table row",
        "nothing relevant here",
        "spark",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    terms = ["spark", "window", "customer"]
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, terms).collect()}

    toks = [t.split() for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    k1, b = 1.2, 0.75
    for i, tk in enumerate(toks):
        s = 0.0
        for term in terms:
            tf = tk.count(term)
            df = sum(1 for o in toks if term in o)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * ((tf * (k1 + 1.0))
                        / (tf + k1 * ((1.0 - b) + b * (len(tk) / avgdl))))
        expect = round(s, 4)
        if expect > 0:
            assert got[i] == pytest.approx(expect, abs=1e-9)
        else:
            assert i not in got


def test_bigram_pmi_match_pure_python(spark):
    """PMI output equals an independent pure-Python count of unigram /
    adjacent-bigram frequencies plugged into ln((c_xy/M)/((c_x/N)(c_y/N)))."""
    import math
    from collections import Counter

    texts = [
        "new york new york city",
        "new york is a city",
        "york new haven",
        "a b a b a b",
        "solo",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
           for r in T.bigram_pmi(docs, min_count=2).collect()}

    toks = [t.split() for t in texts]
    uni = Counter(w for t in toks for w in t)
    big = Counter((t[i], t[i + 1]) for t in toks for i in range(len(t) - 1))
    n = sum(uni.values())
    m = sum(big.values())
    expect = {
        pair: (c, round(math.log((c / m) / ((uni[pair[0]] / n)
                                            * (uni[pair[1]] / n))), 4))
        for pair, c in big.items() if c >= 2
    }
    assert set(got) == set(expect)
    for pair, (c, pmi) in expect.items():
        assert got[pair][0] == c
        assert got[pair][1] == pytest.approx(pmi, abs=1e-9)


def test_group_percentiles_exact_matches_numpy(spark):
    """Exact grouped percentiles equal numpy's type-7 linear
    interpolation (the same (n-1)·p rank formula Spark implements)."""
    rng = np.random.RandomState(7)
    rows = [("a" if i % 3 else "b", float(v))
            for i, v in enumerate(rng.uniform(0, 1000, 101))]
    df = spark.createDataFrame(rows, ["k", "v"])
    ps = [0.25, 0.5, 0.75, 0.95]
    out = {r["k"]: r for r in
           R.group_percentiles(df, ["k"], "v", ps).collect()}
    for k in ("a", "b"):
        vals = np.array([v for kk, v in rows if kk == k])
        assert out[k]["n_items"] == len(vals)
        for p in ps:
            expect = round(float(np.percentile(vals, p * 100,
                                               method="linear")), 4)
            assert out[k][f"p{int(p * 100)}"] == pytest.approx(expect, abs=1e-9)


def test_group_percentiles_approx_bounded_error(spark):
    """The approx (Greenwald-Khanna) scale path lands within rank error
    1/accuracy of the exact order statistics."""
    vals = [float(i) for i in range(2000)]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    out = R.group_percentiles(df, ["k"], "v", [0.5, 0.9],
                              exact=False, accuracy=1000).collect()[0]
    # rank error <= n/accuracy = 2 -> value error <= 2 on this grid
    assert abs(out["p50"] - 999.5) <= 2.5
    assert abs(out["p90"] - 1799.1) <= 2.5


def test_token_kl_drift_match_pure_python(spark):
    """Per-slice KL(P_slice || P_corpus) equals an independent
    pure-Python histogram computation; a slice identical in
    distribution to the corpus scores ~0 and KL is always >= 0."""
    import math
    from collections import Counter

    rows = [
        ("web", "the cat sat on the mat"),
        ("web", "the dog ate the food"),
        ("code", "def foo def bar return return return"),
        ("code", "class foo class bar"),
        ("tiny", "the the the"),
    ]
    docs = spark.createDataFrame(rows, ["source", "text"])
    got = {r["source"]: r for r in
           T.token_kl_drift(docs, slice_col="source").collect()}

    corpus = Counter(w for _, t in rows for w in t.split())
    n = sum(corpus.values())
    for src in ("web", "code", "tiny"):
        cnt = Counter(w for s, t in rows if s == src for w in t.split())
        n_s = sum(cnt.values())
        kl = sum((c / n_s) * math.log((c / n_s) / (corpus[w] / n))
                 for w, c in cnt.items())
        assert got[src]["n_tokens"] == n_s
        assert got[src]["kl"] == pytest.approx(round(kl, 4), abs=1e-9)
        assert got[src]["kl"] >= 0.0
