"""Deterministic, cross-engine-replayable sketches: HyperLogLog
cardinality, K-minimum-values set overlap, and a count-min frequency
sketch over the ``events`` stream history, plus an HDR-bucket quantile
sketch over document lengths.

The engine-native sketch paths (``approx_count_distinct``,
``percentile_approx``) already exist as uncertified twins beside their
exact queries (operators/analyzer.py) because their register layouts
are engine-internal.  This module closes that gap: each sketch here is
built from first principles on the shared md5 hash contract
(pipeline.py's ``conv(substr(md5(x), ...), 16, 10)`` ==
``CAST('0x' || substr(md5(x), ...) AS BIGINT)``), so DuckDB can replay
the *identical* registers and the driver hash-gates the estimates
themselves — the only certified-approximate family in the repo.

Reference parity: the reference's cardinality/skew diagnostics are
exact loops over collected metrics (reports/ReportsServer.java's
per-table counting, distribute/DistributorServer.java's per-server
skew scan).  At 100 TB exact distinct-counting per dimension is a
full shuffle of the key universe; these sketches are the
constant-memory mergeable form of the same questions, with the exact
answer computed beside them as the certificate.

Scale notes (100 TB of events):
  * HLL state is m=256 registers per group — the per-(type,bucket)
    ``max(rho)`` aggregate does nearly all its work map-side (≤ m rows
    per group survive per partition), and the register relation is
    ``n_types × 256`` rows regardless of event cardinality;
  * KMV never globally sorts: a 4096-cell range histogram over the
    hash space finds the per-type k-th-smallest boundary cell, only
    hashes below the boundary survive to the (tiny) exact top-k window
    — the docs_budget_selection two-phase-threshold shape applied to
    order statistics;
  * count-min counters are a fixed d×w = 4×2048 grid — the explode is
    map-side only (partial aggregation collapses each partition to at
    most d·w cells before the shuffle), candidates probe the grid via
    a broadcast of the 8 KiB counter relation;
  * every estimate is one IEEE double expression over exact integers
    (plus a precomputed CPython-libm lookup for HLL's linear-counting
    branch — same libm as DuckDB's ``ln``), so both engines agree
    bit-for-bit — see model.py float rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Model
from ..functions.exprs import fround, fround_sql
from ..functions.partitioning import spread_if_undersplit
from ..registry import query

# ---------------------------------------------------------------------------
# Shared: the sketch key is the active (user, utc-day) pair — richer
# cardinality than bare user_id and the unit a curation/telemetry team
# actually counts ("daily actives").  Day is exact integer floor-div of
# microseconds (positive epochs, so Spark's truncating `div` == DuckDB's
# flooring `//`); the key string is engine-identical.
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000

_KEY_SQL = (
    "CAST(user_id AS VARCHAR) || ':' || "
    f"CAST(epoch_us(ts) // {_US_PER_DAY} AS VARCHAR)"
)

#: 48-bit hash of the key (12 hex chars of md5) — the shared contract.
_H48_SQL = "CAST(('0x' || substr(md5(k), 1, 12)) AS BIGINT)"


def daily_key_col() -> F.Column:
    """The (user, utc-day) sketch key — shared with the streaming twin
    (streaming/jobs.py).  ``F.concat`` (not ``concat_ws``) to mirror
    the oracle's ``||`` NULL semantics: a NULL user_id or ts yields a
    NULL key in BOTH engines (concat_ws would silently coin a real
    ':day' key on the Spark side only and desynchronize the sketches)."""
    return F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("string"),
    )


_key_col = daily_key_col


def _h48(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast(
        "bigint"
    )


# ---------------------------------------------------------------------------
# HyperLogLog cardinality (Flajolet et al. 2007), p=8, deterministic
# ---------------------------------------------------------------------------

_HLL_M = 256          # registers (p = 8 bucket bits of the 48-bit hash)
_HLL_REM = 40         # remaining bits -> rho in 1..41
_HLL_RMAX = _HLL_REM + 1
#: alpha_m * m^2 * 2^(REM+1) — the raw-estimate numerator as ONE Python
#: double literal so both engines divide the identical constant by the
#: exact integer register sum.
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_A = _HLL_ALPHA * _HLL_M * _HLL_M * float(2**_HLL_RMAX)
_HLL_LC_GATE = 2.5 * _HLL_M  # below this raw estimate, linear counting


#: Full oracle body for the HLL estimate — shared verbatim by the batch
#: query and its streaming twin (the streaming register store drains to
#: the identical register relation, so the same SQL certifies both).
HLL_ORACLE = f"""
WITH keyed AS (
  SELECT event_type, {_KEY_SQL} AS k FROM events
),
dk AS (  -- one row per distinct (type, key); b/rho are key-functional
  SELECT DISTINCT event_type, k,
         {_H48_SQL} % {_HLL_M} AS b,
         CASE WHEN {_H48_SQL} // {_HLL_M} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin({_H48_SQL} // {_HLL_M}))
         END AS rho
  FROM keyed
),
reg AS (
  SELECT event_type, b, max(rho) AS mr FROM dk GROUP BY event_type, b
),
agg AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RMAX} - mr)) AS BIGINT)
           + (CAST({_HLL_M} AS BIGINT) - count(*))
             * (CAST(1 AS BIGINT) << {_HLL_RMAX}) AS s,
         {_HLL_M} - count(*) AS zeros
  FROM reg GROUP BY event_type
),
exact AS (
  SELECT event_type, count(*) AS n_exact FROM dk GROUP BY event_type
),
est AS (
  SELECT e.event_type, e.n_exact, a.zeros,
         {_HLL_A!r} / CAST(a.s AS DOUBLE) AS raw
  FROM exact e JOIN agg a USING (event_type)
),
fin AS (
  SELECT event_type, n_exact,
         CASE WHEN raw <= {_HLL_LC_GATE!r} AND zeros > 0
              THEN {float(_HLL_M)!r}
                   * ln({float(_HLL_M)!r}
                        / (CASE WHEN zeros > 0 THEN zeros ELSE 1 END))
              ELSE raw
         END AS e
  FROM est
)
SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
       {fround_sql('e', 4)} AS hll_estimate,
       {fround_sql(f"({fround_sql('e', 4)} - n_exact) / n_exact", 6)}
         AS rel_err
FROM fin
ORDER BY event_type
"""


def hll_rho_cols(ev: DataFrame) -> DataFrame:
    """(event_type, k) -> (event_type, k, b, rho): bucket and
    leading-zero rank of the shared 48-bit hash.  Pure built-in integer
    expressions (whole-stage codegen); NOT deduplicated — max() register
    aggregation absorbs duplicates, so streaming callers feed this
    straight into a stateful max."""
    hashed = ev.select("event_type", "k", _h48(F.col("k")).alias("h"))
    return (
        hashed.select(
            "event_type",
            "k",
            (F.col("h") % _HLL_M).alias("b"),
            F.expr(f"h div {_HLL_M}").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(_HLL_RMAX)).otherwise(
                F.lit(_HLL_RMAX) - F.length(F.bin(F.col("w")))
            ),
        )
        .select("event_type", "k", "b", "rho")
    )


def _lc_lookup(spark) -> DataFrame:
    """The linear-counting readout ``m * ln(m / zeros)`` for every
    possible non-zero empty-register count, precomputed with CPython's
    libm ``math.log`` — the same libm the DuckDB oracle's ``ln`` calls,
    so values are bit-identical to computing it in-plan (the pln Arrow
    stage this replaces cost ~0.25 s per query for a 5-row input).
    A 256-row driver-built constant relation: model-sized, broadcast —
    the ship-constants-as-DATA rule (NOTES.md traps)."""
    import math

    rows = [
        (z, float(_HLL_M) * math.log(float(_HLL_M) / z))
        for z in range(1, _HLL_M + 1)
    ]
    return spark.createDataFrame(rows, "zeros bigint, lc double")


def hll_finalize(reg: DataFrame, exact: DataFrame) -> DataFrame:
    """(event_type, b, mr) registers + (event_type, n_exact) ->
    the certified estimate table.  Exact-integer register sum, one
    IEEE division, libm lookup for the linear-counting branch."""
    agg = reg.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(1L, {_HLL_RMAX} - mr)"))
            + (F.lit(_HLL_M).cast("bigint") - F.count(F.lit(1)))
            * F.lit(1 << _HLL_RMAX).cast("bigint")
        ).alias("s"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).cast("bigint").alias("zeros"),
    )
    est = exact.join(F.broadcast(agg), "event_type").withColumn(
        "raw", F.lit(_HLL_A) / F.col("s").cast("double")
    )
    est = est.join(F.broadcast(_lc_lookup(est.sparkSession)), "zeros", "left")
    e = F.when(
        (F.col("raw") <= F.lit(_HLL_LC_GATE)) & (F.col("zeros") > 0),
        F.col("lc"),
    ).otherwise(F.col("raw"))
    est = est.withColumn("hll_estimate", fround(e, 4))
    return est.select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        "hll_estimate",
        fround(
            (F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    ).orderBy("event_type")


def hll_exact_counts(m: Model) -> DataFrame:
    """The exact distinct-actives certificate branch (batch)."""
    ev = spread_if_undersplit(m.events, "user_id").select(
        "event_type", _key_col().alias("k")
    )
    return (
        ev.distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )


@query("events_hll_cardinality", oracle=HLL_ORACLE, views=[])
def events_hll_cardinality(m: Model) -> DataFrame:
    """HyperLogLog daily-active cardinality per event type, certified
    against its own exact count — the deterministic sketch the driver
    can hash-gate (unlike engine-native ``approx_count_distinct``,
    whose register layout is Spark-internal).

    Registers: p=8 bucket bits and rho = leading-zero rank of the
    remaining 40 bits of the shared 48-bit md5 hash, via exact integer
    ``length(bin(w))`` — no floating log anywhere in the register path.
    The register sum stays exact: occupied buckets contribute
    ``1 << (41 - max_rho)`` and empties ``1 << 41`` (≤ 2^49 total, in
    bigint), so the only FP ops are the final ``A / S`` division and
    the linear-counting branch's libm ``ln`` (precomputed CPython-libm
    lookup relation), both bit-identical across engines.

    Plan: ONE fact scan -> distinct (type, key) [the only
    event-proportional shuffle, map-side partial] -> 256-register
    aggregate + exact count from the same relation -> 5-row join.  At
    100 TB the register relation is ``n_types × 256`` rows no matter
    the event count; dropping the exact-certificate branch (pure
    verification surface) makes the whole query constant-state."""
    ev = spread_if_undersplit(m.events, "user_id").select(
        "event_type", _key_col().alias("k")
    )
    dk = hll_rho_cols(ev).distinct()  # ONE shuffle feeds both branches
    reg = dk.groupBy("event_type", "b").agg(F.max("rho").alias("mr"))
    exact = dk.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    return hll_finalize(reg, exact)


# ---------------------------------------------------------------------------
# K-minimum-values overlap (Beyer et al. 2007) between event types
# ---------------------------------------------------------------------------

_KMV_K = 128
_KMV_CELL = 1 << 36  # 4096 range cells over the 48-bit hash space
_H48_MAX = float(1 << 48)


@query(
    "events_kmv_overlap",
    oracle=f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5({_KEY_SQL}), 1, 12)) AS BIGINT) AS h
  FROM events
),
sk AS (  -- per-type k smallest distinct hashes
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM dh
  QUALIFY rk <= {_KMV_K}
),
tps AS (SELECT DISTINCT event_type AS t FROM sk),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b FROM tps a JOIN tps b ON a.t < b.t
),
merged AS (  -- union of the two sketches, re-ranked
  SELECT p.type_a, p.type_b, s.h,
         max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS ia,
         max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS ib
  FROM pairs p
  JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
  GROUP BY p.type_a, p.type_b, s.h
),
ranked AS (
  SELECT *, row_number()
            OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
  FROM merged
  QUALIFY rk <= {_KMV_K}
),
paired AS (
  SELECT type_a, type_b,
         CAST(sum(ia * ib) AS BIGINT) AS matches,
         max(h) AS kth,
         CAST(count(*) AS BIGINT) AS kk
  FROM ranked GROUP BY type_a, type_b
),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_exact_inter
  FROM dh a JOIN dh b
    ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(coalesce(e.n_exact_inter, 0) AS BIGINT) AS n_exact_inter,
       {fround_sql('p.matches / p.kk', 6)} AS kmv_jaccard,
       {fround_sql(
           f'(p.matches / p.kk) * ((p.kk - 1) * {_H48_MAX!r} / p.kth)', 2
       )} AS kmv_inter_est
FROM paired p LEFT JOIN exact e USING (type_a, type_b)
ORDER BY type_a, type_b
""",
    views=[],
)
def events_kmv_overlap(m: Model) -> DataFrame:
    """K-minimum-values overlap between every pair of event types on
    the daily-active key: estimated Jaccard and intersection size from
    two k=128 order-statistic sketches, certified against the exact
    pairwise intersection.

    KMV property used: the k smallest hashes of A∪B are computable
    from the two per-set sketches alone, so J ≈ |union-sketch ∩ A_k ∩
    B_k| / k and \\|A∪B\\| ≈ (k-1)·2^48 / kth_min — all exact-integer
    inputs into one fixed IEEE expression.

    Plan — the 100 TB shape (never a global sort): distinct (type, h)
    [map-side partial]; a 4096-cell range histogram over the hash
    space; per-type boundary cell = first with cumulative ≥ k (tiny
    window); only hashes at-or-below their type's boundary survive
    (broadcast threshold join — ~k·O(1) rows) into the exact top-k
    window.  Each sketch then collapses to ONE row holding its sorted
    k-array (state bounded by k), and pairing is pure JVM array math
    on the n_types-row relation — top-k of the union, membership
    flags, kth order statistic — zero further shuffles.  The
    exact-intersection branch is the verification certificate (a
    distinct-hash self-join, bounded by distinct actives, not events);
    production would drop it and keep only the sketch side.

    Everything downstream of ``dh`` keys on the 48-bit hash, exact
    branch included — a 64-bit-space collision merges two actives in
    BOTH engines identically, understating truth by ~|keys|²/2^49
    (≈ 3e-6 at 40k actives); the certificate certifies the sketch
    against hash-space truth, which is the space KMV estimates in."""
    dh = (
        spread_if_undersplit(m.events, "user_id")
        .select("event_type", _h48(_key_col()).alias("h"))
        .distinct()
    )
    # Two-phase threshold: range histogram -> per-type boundary cell.
    hist = dh.groupBy(
        "event_type", F.expr(f"h div {_KMV_CELL}").alias("cell")
    ).agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy("cell")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    bnd = (
        cum.where(F.col("cum") >= _KMV_K)
        .groupBy("event_type")
        .agg(F.min("cell").alias("bb"))
    )
    surv = dh.join(F.broadcast(bnd), "event_type", "left").where(
        F.col("bb").isNull() | (F.expr(f"h div {_KMV_CELL}") <= F.col("bb"))
    )
    sk = (
        surv.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .where(F.col("rk") <= _KMV_K)
        .select("event_type", "h")
    )
    # One row per type: the sorted k-array.  All pairing below is JVM
    # array math on this n_types-row relation — no further exchanges.
    skarr = sk.groupBy("event_type").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    paired_src = (
        skarr.alias("a")
        .join(
            F.broadcast(skarr.alias("b")),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.slice(
                F.array_sort(F.array_union(F.col("a.hs"), F.col("b.hs"))),
                1,
                _KMV_K,
            ).alias("u"),
            F.col("a.hs").alias("ahs"),
            F.col("b.hs").alias("bhs"),
        )
    )
    paired = paired_src.select(
        "type_a",
        "type_b",
        F.size(
            F.array_intersect(F.array_intersect(F.col("u"), F.col("ahs")), F.col("bhs"))
        )
        .cast("bigint")
        .alias("matches"),
        F.element_at(F.col("u"), F.size(F.col("u"))).alias("kth"),
        F.size(F.col("u")).cast("bigint").alias("kk"),
    )
    exact = (
        dh.alias("a")
        .join(
            dh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_exact_inter"))
    )
    jacc = F.col("matches") / F.col("kk")
    u_est = (
        (F.col("kk") - 1) * F.lit(_H48_MAX) / F.col("kth")
    )
    return (
        paired.join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("n_exact_inter"), F.lit(0))
            .cast("bigint")
            .alias("n_exact_inter"),
            fround(jacc, 6).alias("kmv_jaccard"),
            fround(jacc * u_est, 2).alias("kmv_inter_est"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005), d=4 x w=2048
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 2048
_CMS_TOPN = 32


def _cms_cols_spark() -> list[F.Column]:
    """The d=4 counter columns: disjoint 8-hex slices of ONE md5 of the
    user key, each mod w — the Bloom-filter slice trick
    (pipeline.py:985)."""
    return [
        (
            F.conv(
                F.expr(f"substr(md5(cast(uk as binary)), {1 + 8 * r}, 8)"),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        ).alias(f"c{r}")
        for r in range(_CMS_D)
    ]


_CMS_COL_SQL = (
    f"CAST(('0x' || substr(md5(uk), 1 + 8 * r, 8)) AS BIGINT) % {_CMS_W}"
)


#: Full oracle body for the CMS probe — shared by the batch query and
#: its streaming twin (counter counts are additive, so the drained
#: update-mode running totals finalize to the identical grid).
CMS_ORACLE = f"""
WITH ue AS (
  SELECT CAST(user_id AS VARCHAR) AS uk, user_id FROM events
),
cells AS (
  SELECT r, {_CMS_COL_SQL} AS c
  FROM ue CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rows
),
counters AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY r, c
),
per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, n_exact FROM per_user
  ORDER BY n_exact DESC, user_id LIMIT {_CMS_TOPN}
),
probes AS (
  SELECT t.user_id, t.n_exact, rows.r,
         {_CMS_COL_SQL.replace('uk', 'CAST(t.user_id AS VARCHAR)')} AS c
  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rows
)
SELECT p.user_id, max(p.n_exact) AS n_exact,
       CAST(min(k.cnt) AS BIGINT) AS cms_estimate,
       CAST(min(k.cnt) - max(p.n_exact) AS BIGINT) AS overcount
FROM probes p JOIN counters k ON p.r = k.r AND p.c = k.c
GROUP BY p.user_id
ORDER BY n_exact DESC, user_id
"""


def cms_cells(ue: DataFrame) -> DataFrame:
    """(uk) -> exploded (r, c) coordinates, one per hash row.  Partial
    aggregation collapses these to ≤ d·w cells per partition before any
    shuffle — shared by the batch counter build and the streaming
    stateful count."""
    return ue.select(
        F.posexplode(F.array(*_cms_cols_spark())).alias("r", "c")
    )


def cms_probe_top(counters: DataFrame, m: Model) -> DataFrame:
    """Probe a (r, c, cnt) counter grid at the exact top-N users and
    emit the certified estimate table (all-integer columns)."""
    per_user = m.events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    top = per_user.orderBy(F.desc("n_exact"), "user_id").limit(_CMS_TOPN)
    probes = (
        top.withColumn("uk", F.col("user_id").cast("string"))
        .select(
            "user_id",
            "n_exact",
            F.posexplode(F.array(*_cms_cols_spark())).alias("r", "c"),
        )
    )
    est = (
        probes.join(F.broadcast(counters), ["r", "c"])
        .groupBy("user_id")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("cnt").cast("bigint").alias("cms_estimate"),
            (F.min("cnt") - F.max("n_exact"))
            .cast("bigint")
            .alias("overcount"),
        )
    )
    return est.orderBy(F.desc("n_exact"), "user_id")


@query("events_cms_heavy_hitters", oracle=CMS_ORACLE, views=[])
def events_cms_heavy_hitters(m: Model) -> DataFrame:
    """Count-min frequency sketch probed at the exact top-32 users:
    d=4 hash rows (disjoint 8-hex md5 slices) × w=2048 counters, point
    estimate = min over rows — certified EXACTLY (every column is an
    integer; CMS is deterministic given the hash family, so the oracle
    replays the identical grid).  ``overcount`` exhibits the sketch's
    one-sided error (estimate ≥ truth, within εN with prob 1-δ for
    d = ln(1/δ), w = e/ε).

    Plan: the counter build explodes each event into its 4 (row, cell)
    coordinates but partial aggregation collapses every partition to ≤
    8192 cells before the shuffle — constant state regardless of event
    count, the 100 TB point of CMS (the exact per-user branch beside it
    is the certificate, shuffling the user universe the way the exact
    heavy-hitter query already does).  Candidates then probe via ONE
    broadcast of the 8 KiB counter grid; reference analog: the skew
    scan of distribute/DistributorServer.java over collected
    per-server counts."""
    ue = spread_if_undersplit(m.events, "user_id").select(
        F.col("user_id").cast("string").alias("uk")
    )
    counters = cms_cells(ue).groupBy("r", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cms_probe_top(counters, m)


# ---------------------------------------------------------------------------
# HDR-style quantile sketch (Hdr/DDSketch bucket layout), 16 sub-buckets
# per power-of-two octave — the mergeable quantile estimator that
# completes the family: cardinality (HLL), frequency (CMS), overlap
# (KMV), quantiles (this).
# ---------------------------------------------------------------------------

_QSK_QS = (0.5, 0.9, 0.99)

#: bucket id of a positive integer x: x itself below 16 (exact), else
#: msb-octave * 16 + the next-4-bits sub-bucket — pure integer ops,
#: <= 6.25% relative bucket width.  DuckDB counterpart below.
_QSK_BID = """
CASE WHEN n_chars < 16 THEN n_chars
     ELSE length(bin(n_chars)) * 16
          + (n_chars - shiftleft(1L, length(bin(n_chars)) - 1))
            DIV shiftleft(1L, length(bin(n_chars)) - 5)
END
"""

_QSK_BID_SQL = """
CASE WHEN n_chars < 16 THEN n_chars
     ELSE length(bin(n_chars)) * 16
          + (n_chars - (CAST(1 AS BIGINT) << (length(bin(n_chars)) - 1)))
            // (CAST(1 AS BIGINT) << (length(bin(n_chars)) - 5))
END
"""

# lo / width reconstructed from the bucket id (bid >= 80 iff octave
# path, since msb >= 5 there).
_QSK_LO = """
CASE WHEN bid < 16 THEN bid
     ELSE shiftleft(1L, CAST(bid DIV 16 AS INT) - 1)
          + (bid % 16) * shiftleft(1L, CAST(bid DIV 16 AS INT) - 5)
END
"""
_QSK_W = """
CASE WHEN bid < 16 THEN 1
     ELSE shiftleft(1L, CAST(bid DIV 16 AS INT) - 5)
END
"""
_QSK_LO_SQL = """
CASE WHEN bid < 16 THEN bid
     ELSE (CAST(1 AS BIGINT) << (CAST(bid // 16 AS INT) - 1))
          + (bid % 16) * (CAST(1 AS BIGINT) << (CAST(bid // 16 AS INT) - 5))
END
"""
_QSK_W_SQL = """
CASE WHEN bid < 16 THEN 1
     ELSE (CAST(1 AS BIGINT) << (CAST(bid // 16 AS INT) - 5))
END
"""

#: DuckDB list literals: bare 0.5 parses as DECIMAL(3,2) and decimal
#: arithmetic is EXACT, silently diverging from Spark's IEEE doubles in
#: `q * n` (1-ulp numerator differences flip fround at the boundary on
#: some histogram states) — force DOUBLE so both engines run the same
#: float ops.  The quantile_cont fraction ARGUMENT may stay decimal
#: (it selects a rank, it never enters output arithmetic).
_QSK_QLIST = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in _QSK_QS)
_QSK_QFRACS = ", ".join(repr(q) for q in _QSK_QS)


#: Shared certificate SQL for the length-quantile sketch — used
#: verbatim by both the batch query and the streaming twin
#: (streaming/jobs.py), exactly like HLL_ORACLE / CMS_ORACLE above.
QSK_ORACLE = f"""
WITH hist AS (
  SELECT {_QSK_BID_SQL} AS bid, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
cum AS (
  SELECT bid, c, CAST(sum(c) OVER (ORDER BY bid) AS BIGINT) AS cm
  FROM hist
),
qs AS (SELECT unnest([{_QSK_QLIST}]) AS q),
cand AS (
  SELECT qs.q, cum.bid, cum.c, cum.cm - cum.c AS prev, tot.n,
         row_number() OVER (PARTITION BY qs.q ORDER BY cum.bid) AS rk
  FROM qs CROSS JOIN tot JOIN cum ON cum.cm >= qs.q * tot.n
),
est AS (
  SELECT q,
         ({_QSK_LO_SQL.strip()})
         + ((q * n - prev) / c) * ({_QSK_W_SQL.strip()}) AS e
  FROM cand WHERE rk = 1
),
exact AS (
  SELECT unnest([{_QSK_QLIST}]) AS q,
         unnest(quantile_cont(n_chars, [{_QSK_QFRACS}])) AS x
  FROM documents
)
SELECT est.q,
       {fround_sql('est.e', 4)} AS est_len,
       {fround_sql('exact.x', 4)} AS exact_len,
       {fround_sql(
           f"({fround_sql('est.e', 4)} - {fround_sql('exact.x', 4)})"
           f" / ({fround_sql('exact.x', 4)})", 6
       )} AS rel_err
FROM est JOIN exact USING (q)
ORDER BY q
"""


def qsk_hist(docs: DataFrame) -> DataFrame:
    """The quantile sketch's ONLY state: the (bid, c) bucket histogram
    of ``n_chars`` under the HDR layout.  Additive (mergeable across
    partitions, files, days — and micro-batches: the streaming twin
    builds the same relation with a built-in streaming count)."""
    return docs.groupBy(F.expr(_QSK_BID).alias("bid")).agg(
        F.count(F.lit(1)).alias("c")
    )


@query("docs_length_quantile_sketch", oracle=QSK_ORACLE, views=[])
def docs_length_quantile_sketch(m: Model) -> DataFrame:
    """Mergeable quantile sketch over document lengths (p50/p90/p99),
    certified against the exact interpolated percentile.  Bucket
    layout is HdrHistogram's: values < 16 are exact, larger values go
    to (msb-octave × 16 + next-4-bits) sub-buckets — ≤ 6.25% relative
    width, pure integer expressions, and the bucket histogram is the
    ONLY state (≤ 16 ids per octave ⇒ ~1000 rows for any realistic
    length domain), so partial histograms merge by addition across
    partitions, files, or days.  The estimate interpolates linearly
    inside the boundary bucket; every FP step is one fixed IEEE
    expression over exact integers, so both engines agree bit-for-bit.

    Plan: ONE scan -> ~60-group map-side-combined histogram aggregate;
    everything downstream (cumsum window, boundary pick, interpolation)
    runs on the constant-size bucket relation.  The exact-percentile
    branch is the verification certificate (a full sort in any engine
    — the thing the sketch exists to avoid at 100 TB); production
    drops it and keeps the histogram.  Reference analog: the size-band
    histograms of analyze/HBaseAnalyzeService.java (A2-A5), which are
    fixed-band histograms of the same shape without the quantile
    readout."""
    # Null lengths are excluded on BOTH sides up front: engines disagree
    # on null placement in ordered windows (Spark NULLS FIRST vs DuckDB
    # NULLS LAST), so a null bucket would silently skew the cumsum.
    docs = m.documents.where(F.col("n_chars").isNotNull())
    return qsk_finalize(qsk_hist(docs), docs)


def qsk_finalize(hist: DataFrame, docs: DataFrame) -> DataFrame:
    """Quantile readout over a (bid, c) bucket histogram: cumsum window
    on the constant-size bucket relation, boundary-bucket pick per
    quantile, in-bucket linear interpolation — plus the exact
    interpolated percentile over ``docs`` as the verification
    certificate.  Shared by the batch query and the streaming twin so
    the finalize arithmetic cannot drift between them."""
    cum = hist.withColumn(
        "cm",
        F.sum("c").over(
            Window.orderBy("bid").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = hist.agg(F.sum("c").cast("bigint").alias("n"))
    qs = (
        docs.sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(q) for q in _QSK_QS])
            ).alias("q")
        )
    )
    cand = (
        qs.join(F.broadcast(tot))
        .join(
            F.broadcast(cum),
            F.col("cm") >= F.col("q") * F.col("n"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q").orderBy("bid")
            ),
        )
        .where(F.col("rk") == 1)
        .withColumn("prev", F.col("cm") - F.col("c"))
    )
    est = cand.select(
        "q",
        (
            F.expr(_QSK_LO)
            + ((F.col("q") * F.col("n") - F.col("prev")) / F.col("c"))
            * F.expr(_QSK_W)
        ).alias("e"),
    )
    exact_row = docs.agg(
        *[
            F.expr(f"percentile(n_chars, {q!r})").alias(f"e{i}")
            for i, q in enumerate(_QSK_QS)
        ]
    )
    exact = exact_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"e{i}").alias("x")
                    )
                    for i, q in enumerate(_QSK_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.x")
    est_r = fround(F.col("e"), 4)
    exact_r = fround(F.col("x"), 4)
    return (
        est.join(F.broadcast(exact), "q")
        .select(
            "q",
            est_r.alias("est_len"),
            exact_r.alias("exact_len"),
            fround((est_r - exact_r) / exact_r, 6).alias("rel_err"),
        )
        .orderBy("q")
    )
