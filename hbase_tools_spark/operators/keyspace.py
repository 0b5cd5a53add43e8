"""Key-tool operators (M5): SURVEY.md §2 IDs X1/X2/X4 — the byte-level
UDF surface, hash-verified against DuckDB despite DuckDB lacking CRC32:

* ``salted_keys`` restricts itself to the deterministic key set
  ``c_custkey < 100`` (present at every scale factor; TPC-H names are
  ``Customer#%09d``), so the oracle is a golden VALUES relation
  precomputed at import time by the same pure functions the golden
  vectors in tests/test_keys.py certify against the reference port
  (common/KeyGenerator.java:27-49).  The oracle still JOINs the real
  ``customer`` table, so the row set comes from the data on both sides.
* ``split_points`` midpoints are plain big-integer math
  (splitter/TableSplitter.java:95-112), which DuckDB can compute
  exactly in HUGEINT (keys are 12-byte ASCII, so values < 2^96):
  Horner-fold the bytes, average, render hex — a fully computed
  oracle, not a golden table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..catalog import Model
from ..functions.keys import (
    salt_key_bytes,
    salted_key_hex,
    salted_key_printable,
    to_string_binary,
)
from ..registry import query

_N_SALT_KEYS = 100  # c_custkey < 100 exists at every fixture SF


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _salted_golden_values() -> str:
    """Golden VALUES rows for the deterministic TPC-H key set, computed
    by the same pure functions the property tests certify."""
    rows = []
    for ck in range(_N_SALT_KEYS):
        name = f"Customer#{ck:09d}"
        raw = salt_key_bytes(name.encode("utf-8"))
        rows.append(
            f"({ck}, {_sql_quote(raw.hex())}, "
            f"{_sql_quote(to_string_binary(raw))})"
        )
    return ",\n".join(rows)


@query(
    "salted_keys",
    oracle=f"""
SELECT c.c_custkey, c.c_name AS row_key, v.salted_hex, v.salted_printable
FROM customer c
JOIN (VALUES
{_salted_golden_values()}
) v(ck, salted_hex, salted_printable) ON v.ck = c.c_custkey
WHERE c.c_custkey < {_N_SALT_KEYS}
""",
    views=[],
)
def salted_keys(m: Model) -> DataFrame:
    """X1+X2 — salted probe keys for customer names
    (common/KeyGenerator.java:27-49, KeyGeneratorRunner.java:8-15):
    CRC32-derived 4-byte salt + swapped-tail layout, rendered as hex and
    HBase printable forms.  Native Column expressions, no Python
    worker; at 100 TB this stays fully data-parallel (pure per-row
    function, no shuffle).  Deterministic key subset so the golden
    VALUES oracle hash-matches."""
    return m.customer.filter(F.col("c_custkey") < _N_SALT_KEYS).select(
        "c_custkey",
        F.col("c_name").alias("row_key"),
        salted_key_hex("c_name").alias("salted_hex"),
        salted_key_printable("c_name").alias("salted_printable"),
    )


def salted_keys_full(m: Model) -> DataFrame:
    """Unrestricted X1/X2 surface for the ``key_generator`` CLI tool:
    salted keys for EVERY customer row.  The registered ``salted_keys``
    query restricts itself to the deterministic ``c_custkey < 100``
    subset purely so its golden-VALUES oracle stays enumerable — the
    CLI must not inherit that restriction (a key_generator user salts
    whole tables).  Correctness rides on the same pure functions the
    golden-vector + hypothesis property tests certify against the
    reference port (tests/test_keys.py)."""
    return m.customer.select(
        "c_custkey",
        F.col("c_name").alias("row_key"),
        salted_key_hex("c_name").alias("salted_hex"),
        salted_key_printable("c_name").alias("salted_printable"),
    )


def _key_limb(col, off: int):
    """Big-endian value of 6 ASCII bytes ``col[off..off+6)`` as a long:
    hex-render the raw bytes, conv() back to decimal — exact for 48-bit
    values, and a 4-node expression where a per-byte Horner fold is ~20
    (the fold form inflated Catalyst analysis to ~0.7 s per fresh plan,
    dwarfing the 0.04 s execution)."""
    return F.conv(F.hex(F.substring(col, off, 6).cast("binary")), 16, 10).cast("long")


def _midpoint12_hex(start, end):
    """JVM-side midpoint of two 12-byte ASCII keys (end '' = unbounded →
    the reference's 8×0xFF default, zero-padded to width 12) as 24 hex
    chars — exact two-limb integer arithmetic: each key splits into two
    48-bit limbs (sums < 2^50, well inside LongType), the halving
    propagates the odd-high-limb carry into the low limb.  Bit-identical
    to the oracle's single HUGEINT fold and to the arbitrary-width
    ``midpoint_key`` library UDF (equality pinned in tests/test_keys.py),
    while staying entirely inside whole-stage codegen."""
    unbounded = end == ""
    hi_a, lo_a = _key_limb(start, 1), _key_limb(start, 7)
    hi_b = F.when(unbounded, F.lit((1 << 48) - 1)).otherwise(_key_limb(end, 1))
    lo_b = F.when(unbounded, F.lit(0xFFFF00000000)).otherwise(_key_limb(end, 7))
    s_hi, s_lo = hi_a + hi_b, lo_a + lo_b
    lo_tot = F.shiftright(s_hi.bitwiseAND(F.lit(1)) * F.lit(1 << 48) + s_lo, 1)
    m_hi = F.shiftright(s_hi, 1) + F.shiftright(lo_tot, 48)
    m_lo = lo_tot.bitwiseAND(F.lit((1 << 48) - 1))
    return F.concat(
        F.lpad(F.lower(F.hex(m_hi)), 12, "0"), F.lpad(F.lower(F.hex(m_lo)), 12, "0")
    )


# Big-endian byte value of a 12-char ASCII key as HUGEINT (Horner fold —
# exact integer math, no floating 256^i), and the unbounded-end default
# 8 x 0xFF = (2^64 - 1) << 32 at the common 12-byte width.
_KEY_INT = (
    "list_reduce(list_transform(range(1, 13), "
    "i -> CAST(ascii(substring({k}, i, 1)) AS HUGEINT)), (a, b) -> a * 256 + b)"
)
_FF8_PADDED = "CAST(18446744073709551615 AS HUGEINT) * 4294967296"
_POW48 = 281474976710656  # 2^48: split the 96-bit midpoint for to_hex


@query(
    "split_points",
    oracle=f"""
SELECT table_name, region_id, start_key, end_key,
       lpad(lower(to_hex(CAST(mid // {_POW48} AS BIGINT))), 12, '0') ||
       lpad(lower(to_hex(CAST(mid % {_POW48} AS BIGINT))), 12, '0')
         AS split_point_hex
FROM (
  SELECT table_name, region_id, start_key, end_key,
         ({_KEY_INT.format(k='start_key')} +
          CASE WHEN end_key = '' THEN {_FF8_PADDED}
               ELSE {_KEY_INT.format(k='end_key')} END) // 2 AS mid,
         row_number() OVER (
           PARTITION BY table_name
           ORDER BY size_mb DESC, region_id
         ) AS rn
  FROM (
    SELECT mr.table_name, mr.region_id, mr.start_key, mr.end_key,
           coalesce(rm.size_mb, 0.0) AS size_mb
    FROM meta_regions mr
    LEFT JOIN region_metrics rm ON rm.region_id = mr.region_id
  ) sized
) t
WHERE rn = 1
""",
    views=["meta_regions", "region_metrics"],
)
def split_points(m: Model) -> DataFrame:
    """X4+W3 — split points for the biggest region per table: midpoint of
    [start_key, end_key) as big-endian unsigned integers with the
    reference's 8x0xFF unbounded-end default
    (splitter/TableSplitter.java:95-112).  Oracle computes the same
    midpoint in exact HUGEINT arithmetic.

    Plan shape: per-table argmax as scalar-max + broadcast join-back
    (max(struct) would force a SortAggregate over the full region
    relation — scalar max stays in whole-stage-codegen HashAggregate
    with map-side partials; the join-backs broadcast the 8-row argmax
    relation).  The argmax core is ONE ``spark.sql`` text — the
    Column-API form spent ~0.2 s/plan on py4j round-trips alone — and
    the midpoint is the SAME ``_midpoint12_hex`` Column helper the key
    tests pin against the Python reference (one implementation, no
    hand-inlined SQL twin), applied to the 8 surviving rows."""
    best = m.spark.sql("""
WITH sized AS (
  SELECT /*+ BROADCAST(rm) */ mr.table_name, mr.region_id, coalesce(rm.size_mb, 0.0) AS size_mb
  FROM meta_regions mr LEFT JOIN region_metrics rm ON rm.region_id = mr.region_id
),
mx AS (SELECT table_name, max(size_mb) AS ms FROM sized GROUP BY table_name),
tied AS (
  SELECT /*+ BROADCAST(mx) */ s.table_name AS tn, min(s.region_id) AS rid
  FROM sized s JOIN mx ON s.table_name = mx.table_name AND s.size_mb = mx.ms
  GROUP BY s.table_name
)
SELECT /*+ BROADCAST(tied) */ mr.table_name, mr.region_id, mr.start_key, mr.end_key
FROM meta_regions mr JOIN tied ON mr.table_name = tied.tn AND mr.region_id = tied.rid
""")
    return best.select(
        "table_name",
        "region_id",
        "start_key",
        "end_key",
        _midpoint12_hex(F.col("start_key"), F.col("end_key")).alias("split_point_hex"),
    )
