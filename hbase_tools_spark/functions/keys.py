"""Byte-level rowkey functions (M5), re-derived from the reference's
observable behavior.  The pure-Python functions are the golden source
the oracle and the property tests use; the salted-key columns are
native Column expressions over the same layout:

* X1 salted key (common/KeyGenerator.java:27-49): CRC32 of the UTF-8
  key gives 4 big-endian salt bytes; short keys (<4 bytes) get
  ``salt || key``; longer keys get ``salt || key[-2:] || key[-4:-2] ||
  key`` (the swapped 2+2 tail bytes spread lexicographically-adjacent
  keys across regions).
* X2 printable encoding (Bytes.toStringBinary): ASCII 32..126 kept,
  everything else rendered ``\\xNN``.
* X4 range midpoint (splitter/TableSplitter.java:95-112 /
  Bytes.split): keys as big-endian unsigned integers, empty end key
  defaults to 8 x 0xFF, midpoint = (start+end)/2 at the common padded
  width.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def salt_key_bytes(key: bytes) -> bytes:
    """X1 — deterministic salted-key layout (see module docstring)."""
    crc = zlib.crc32(key) & 0xFFFFFFFF
    salt = crc.to_bytes(4, "big")
    if len(key) < 4:
        return salt + key
    return salt + key[-2:] + key[-4:-2] + key


def to_string_binary(b: bytes) -> str:
    """X2 — HBase-style printable rendering of a byte key."""
    out = []
    for ch in b:
        if 32 <= ch <= 126 and ch != 92:  # printable, not backslash
            out.append(chr(ch))
        else:
            out.append(f"\\x{ch:02X}")
    return "".join(out)


def midpoint_key(start: bytes, end: bytes) -> bytes:
    """X4 — arithmetic midpoint of [start, end) as big-endian unsigned
    integers; empty end means 'unbounded' -> 8 x 0xFF.  No query calls
    it: it is the arbitrary-width reference the JVM
    ``keyspace._midpoint12_hex`` is pinned against (tests/test_keys.py)."""
    if end == b"":
        end = b"\xff" * 8
    width = max(len(start), len(end), 1)
    a = int.from_bytes(start.ljust(width, b"\x00"), "big")
    b_ = int.from_bytes(end.ljust(width, b"\x00"), "big")
    mid = (a + b_) // 2
    return mid.to_bytes(width, "big")


def _salted_key_sql(key: str) -> str:
    """SQL text of ``salt_key_bytes`` over the UTF-8 bytes of the string
    column ``key`` (null in, null out)."""
    b = f"CAST({key} AS BINARY)"
    return (
        f"concat(unhex(lpad(hex(crc32({b})), 8, '0')), "
        f"CASE WHEN octet_length({b}) >= 4 "
        f"THEN concat(substr({b}, -2, 2), substr({b}, -4, 2)) ELSE X'' END, "
        f"{b})"
    )


# The salted-key columns are built from SQL text, not the Column API:
# one parse instead of dozens of py4j round trips (both columns 39 vs
# 93 ms per plan on a 4-vCPU VM).


def salted_key_hex(key: str) -> Column:
    """X1 salted key of the string column ``key``, lower-case hex."""
    return F.expr(f"lower(hex({_salted_key_sql(key)}))")


def salted_key_printable(key: str) -> Column:
    """X1 salted key of the string column ``key`` in the X2 printable
    form (``to_string_binary``).  The bytes are split as hex pairs
    rather than indexed by position, so the salted key is computed
    once per row, not once per byte inside the lambda."""
    return F.expr(
        f"array_join(transform(regexp_extract_all(hex({_salted_key_sql(key)}),"
        " '(..)', 1), x -> CASE WHEN x BETWEEN '20' AND '7E' AND x != '5C'"
        " THEN CAST(unhex(x) AS STRING) ELSE concat(chr(92), 'x', x) END), '')"
    )
