"""Golden-vector + property tests for the byte-level key functions (X1,
X2, X4) — the oracle here is an independent straight port of the
reference's observable algorithm (SURVEY.md §5)."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from hbase_tools_spark.functions.keys import (
    midpoint_key,
    salt_key_bytes,
    to_string_binary,
)


def _reference_salt(row_key: str) -> bytes:
    """Independent port of KeyGenerator.generateKeyAsBytes
    (common/KeyGenerator.java:27-49): Bytes.toBytes(long crc)[4:8] salt,
    then the two layout branches, written with explicit arraycopy
    semantics to mirror the Java."""
    input_bytes = row_key.encode("utf-8")
    crc = zlib.crc32(input_bytes) & 0xFFFFFFFF
    # Java: long salt -> 8-byte big-endian; copy bytes [4,8)
    salt8 = crc.to_bytes(8, "big")
    salt = salt8[4:8]
    if len(input_bytes) < 4:
        return salt + input_bytes
    out = bytearray(8 + len(input_bytes))
    out[0:4] = salt
    out[4:6] = input_bytes[len(input_bytes) - 2 :]
    out[6:8] = input_bytes[len(input_bytes) - 4 : len(input_bytes) - 2]
    out[8:] = input_bytes
    return bytes(out)


GOLDEN = ["a", "abc", "abcd", "row-0001", "Customer#000000042", "", "zz"]


def test_salt_golden_vectors():
    for key in GOLDEN:
        assert salt_key_bytes(key.encode()) == _reference_salt(key), key


@given(st.text(max_size=64))
@settings(max_examples=300, deadline=None)
def test_salt_property(key):
    assert salt_key_bytes(key.encode("utf-8")) == _reference_salt(key)


@given(st.binary(max_size=32))
@settings(max_examples=200, deadline=None)
def test_printable_roundtrip_ascii(b):
    s = to_string_binary(b)
    # printable output must be ASCII and deterministic
    assert s == to_string_binary(b)
    s.encode("ascii")


@given(st.binary(min_size=0, max_size=12), st.binary(min_size=0, max_size=12))
@settings(max_examples=300, deadline=None)
def test_midpoint_between(start, end):
    eff_end = b"\xff" * 8 if end == b"" else end
    width = max(len(start), len(eff_end), 1)
    a = int.from_bytes(start.ljust(width, b"\x00"), "big")
    b_ = int.from_bytes(eff_end.ljust(width, b"\x00"), "big")
    mid = midpoint_key(start, end)
    v = int.from_bytes(mid, "big")
    lo, hi = min(a, b_), max(a, b_)
    assert lo <= v <= hi
    if hi - lo >= 2:
        assert lo < v < hi


def test_midpoint_unbounded_end_default():
    # empty end key means unbounded -> 8 x 0xFF (TableSplitter.java:100-103)
    assert midpoint_key(b"\x00" * 8, b"") == b"\x7f" + b"\xff" * 7


def test_split_points_key_width_invariant_and_jvm_midpoint(spark):
    """The split_points SQL fast path assumes 12-byte ASCII keys (the
    oracle hardcodes the same fold width): assert the fixture honors the
    invariant, and pin the JVM limb-math midpoint to the arbitrary-width
    Python ``midpoint_key`` on every (start, end) pair in the data."""
    from pyspark.sql import functions as F

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.operators.keyspace import _midpoint12_hex

    m = load_model(spark, "/root/testdata/sf0.01")
    keys = m.meta_regions.select("start_key", "end_key").collect()
    assert keys
    for r in keys:
        assert len(r["start_key"]) == 12
        assert r["end_key"] == "" or len(r["end_key"]) == 12
    got = (
        m.meta_regions.select(
            "start_key",
            "end_key",
            _midpoint12_hex(F.col("start_key"), F.col("end_key")).alias("h"),
        )
        .collect()
    )
    for r in got:
        expect = midpoint_key(
            r["start_key"].encode(), r["end_key"].encode()
        ).hex()
        assert r["h"] == expect, (r["start_key"], r["end_key"])


def test_midpoint12_hex_seeded_vectors_vs_python(spark):
    """JVM limb-math midpoint == arbitrary-width Python midpoint over
    200 seeded random 12-digit key pairs (including unbounded ends and
    adjacent keys)."""
    import random

    from pyspark.sql import functions as F

    from hbase_tools_spark.operators.keyspace import _midpoint12_hex

    rng = random.Random(0xC0FFEE)
    rows = []
    for _ in range(200):
        a = rng.randrange(10**12)
        kind = rng.randrange(4)
        if kind == 0:
            b = ""
        elif kind == 1:
            b = str(min(a + 1, 10**12 - 1)).zfill(12)
        else:
            b = str(rng.randrange(10**12)).zfill(12)
        rows.append((str(a).zfill(12), b))
    got = (
        spark.createDataFrame(rows, "start_key string, end_key string")
        .select(
            "start_key",
            "end_key",
            _midpoint12_hex(F.col("start_key"), F.col("end_key")).alias("h"),
        )
        .collect()
    )
    for r in got:
        expect = midpoint_key(r["start_key"].encode(), r["end_key"].encode()).hex()
        assert r["h"] == expect, (r["start_key"], r["end_key"])


def _native_salted(spark, keys):
    """(hex, printable) of the native salted-key columns per key."""
    from hbase_tools_spark.functions.keys import (
        salted_key_hex,
        salted_key_printable,
    )

    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, k string")
    rows = df.select(
        "i", salted_key_hex("k").alias("h"), salted_key_printable("k").alias("p")
    ).collect()
    return [(r["h"], r["p"]) for r in sorted(rows, key=lambda r: r["i"])]


def _check_native_salted(spark, keys):
    for k, (h, p) in zip(keys, _native_salted(spark, keys)):
        if k is None:
            assert (h, p) == (None, None)
            continue
        raw = salt_key_bytes(k.encode("utf-8"))
        assert h == raw.hex(), k
        assert p == to_string_binary(raw), k


def test_native_salted_keys_golden_vectors(spark):
    _check_native_salted(
        spark,
        GOLDEN + ["b", "\\", "a\\b", "é", "日本", "\x00\x7f\x1f ~", None],
    )


@given(
    st.lists(
        st.one_of(
            st.text(max_size=3),
            st.text(alphabet=st.sampled_from("ab\\~ \x1f\x7féß日本😀"), max_size=24),
            st.text(max_size=40),
            st.none(),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_native_salted_keys_property(spark, keys):
    _check_native_salted(spark, keys)
