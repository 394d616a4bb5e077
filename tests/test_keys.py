"""Salt/row-key parity tests (SURVEY.md §2.8-2.9, hard part #1).

Golden values follow the reference's ``getSaltValue`` algorithm exactly
(Utils.scala:83-96): ``String.hashCode``-STYLE ``h = 31*h + byte`` fold
over UTF-8 bytes with int32 wraparound, but the accumulator starts at 1
(``var result = 1``, Utils.scala:89), the empty string short-circuits to
0 (Utils.scala:85), and the salt is ``Math.abs(h % 24)`` — abs AFTER the
mod (Utils.scala:94), so it is always in 0..23.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.functions import keys as K

# Hand-derived from the reference algorithm (init 1; NOT plain
# java.lang.String#hashCode, which inits 0):
#   h("a")  = 31*1 + 97         = 128
#   h("ab") = 31*128 + 98       = 4066
GOLDEN_HASH = {
    "": 0,
    "a": 128,
    "ab": 4066,
    "hello": 127791473,
    "IF123456": 14972097,
    "polygenelubricants": 1303011777,
    "LT00001\x00202602\x000Qlrfgl": -(2**31),  # Integer.MIN_VALUE, salt 8
}

CASES = [
    "",
    "a",
    "ab",
    "hello",
    "IF123456",
    "polygenelubricants",
    "Lot1\x0012\x003\x004",
    "ünïcode",
    "x" * 500,
    "trailing\x00",
    "\x00leading",
    "LT00001\x00202602\x000Qlrfgl",  # hashes to Integer.MIN_VALUE
]


def test_java_hash_py_golden():
    for s, h in GOLDEN_HASH.items():
        assert K.java_hash_py(s) == h, s


def test_salt_py_range():
    # abs AFTER the mod (Utils.scala:94) → always a valid bucket, even
    # for negative hashes.
    for s in CASES:
        assert 0 <= K.salt_py(s) < K.SALT_BUCKETS


def test_salt_py_negative_hash():
    # A negative int32 hash still lands in 0..23: Java computes
    # abs(h % 24) on the small remainder, equal to abs(h) % 24 with
    # exact abs.  ("abcdefgh" hashes to -547780731 under the init-1 fold.)
    h = K.java_hash_py("abcdefgh")
    assert h == -547780731
    assert K.salt_py("abcdefgh") == abs(h) % 24


def test_salt_py_min_value_edge(monkeypatch):
    # Route boundary int32 hashes through salt_py ITSELF (monkeypatched
    # hash; only one CASES key reaches MIN_VALUE) and pin the
    # closed form abs(h) % b against Java's Math.abs(h % b) — including
    # MIN_VALUE, where an int32 abs of the hash would overflow but the
    # abs-of-small-remainder (and the 64-bit abs salt_py uses) do not.
    for h in (-(2**31), -(2**31) + 1, -25, -24, -1, 0, 1, 23, 24, 2**31 - 1):
        monkeypatch.setattr(K, "java_hash_py", lambda s, _h=h: _h)
        q = abs(h) // 24  # Java % truncates toward zero
        java_mod = h + q * 24 if h < 0 else h - q * 24
        assert K.salt_py("any-key") == abs(java_mod), h
    assert abs(-(2**31)) % 24 == 8  # the MIN_VALUE case concretely


def test_jvm_expr_matches_python(spark):
    """Parity: python reference, JVM expressions (the byte fold and the
    salt), and the vectorized Arrow hash must agree byte-exactly; a null
    key salts to null."""
    df = spark.createDataFrame([(s,) for s in CASES + [None]], "k string")
    rows = df.select(
        "k",
        K.java_hash("k").alias("h"),
        K.salt_bucket("k").alias("s"),
        K.java_hash_vec("k").alias("hv"),
    ).collect()
    assert len(rows) == len(CASES) + 1
    for r in rows:
        if r.k is None:
            assert (r.h, r.s, r.hv) == (None, None, None)
            continue
        assert r.h == K.java_hash_py(r.k), repr(r.k)
        assert r.s == K.salt_py(r.k), repr(r.k)
        assert r.hv == K.java_hash_py(r.k), repr(r.k)


def test_vectorized_hash_parity_random():
    """The numpy closed form (31^L + Σ b_i·31^(L-1-i) mod 2^32) equals
    the sequential fold for arbitrary unicode/binary-ish strings,
    including empties and multi-byte codepoints."""
    import random
    import string

    import pandas as pd

    rng = random.Random(20260813)
    alphabet = string.printable + "é€漢字ÿ\x00"
    cases = [""] + [
        "".join(rng.choices(alphabet, k=rng.randrange(0, 80)))
        for _ in range(2000)
    ]
    got = K.java_hash_np(pd.Series(cases))
    for s, g in zip(cases, got):
        assert int(g) == K.java_hash_py(s), repr(s)


def test_duckdb_salt_sql_matches():
    con = duckdb.connect()
    for s in ["a", "hello", "IF123456", "L1", "x" * 40]:
        got = con.execute("SELECT " + K.duckdb_salt_sql(repr(s))).fetchone()[0]
        assert got == K.salt_py(s), s


def test_row_key_and_split_roundtrip(spark):
    df = spark.createDataFrame([("L1", 202233, 7, 42)], ["a", "b", "c", "d"])
    out = df.select(
        K.row_key("a", "b", "c", "d").alias("rk")
    ).select(K.split_preserve("rk").alias("parts")).first()
    assert out.parts == ["L1", "202233", "7", "42"]


def test_row_key_null_fields_skipped_like_reference(spark):
    # concat_ws SKIPS null fields (JVM semantics): key (A, null, B)
    # collapses to "A\x00B" — identical to the reference's concat_ws at
    # Utils.scala:212-214, so parity holds; callers that need null-safe
    # keys must coalesce first.  This test pins the behavior.
    df = spark.createDataFrame([("A", None, "B")], "a string, b string, c string")
    out = df.select(K.row_key("a", "b", "c").alias("rk")).first()
    assert out.rk == "A\x00B"


def test_split_preserves_trailing_empties(spark):
    # The reference hand-rolled getSplitsFromString for exactly this
    # (Utils.scala:853-876).
    df = spark.createDataFrame([("a\x00b\x00\x00",)], ["v"])
    out = df.select(K.split_preserve("v").alias("p")).first()
    assert out.p == ["a", "b", "", ""]


def test_salt_distribution_on_lineitem(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rk = K.row_key("l_returnflag", "l_linestatus", "l_orderkey")
    dist = (
        li.select(K.salt_bucket(rk).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    buckets = {r.s for r in dist}
    assert buckets <= set(range(K.SALT_BUCKETS))
    # Hash salting should touch most buckets even at sf0.001.
    assert len(buckets) >= 20
