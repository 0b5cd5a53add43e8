"""Join-family operators (M4/M5 support): SURVEY.md §2 IDs J1, J2, J5,
J8 (in planners), SC3, F6.

Scale notes: J1 joins two region-cardinality relations on region_id —
both sides shuffle-partition on the join key (or co-bucket in storage);
J5 broadcasts the region dimension (meta is O(regions), small relative
to probe streams and naturally broadcastable per table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Model
from ..registry import query


@query(
    "region_health_join",
    oracle="""
SELECT mr.region_id, mr.table_name, mr.server,
       coalesce(rm.size_mb, 0.0)      AS size_mb,
       coalesce(rm.file_count, 0)     AS file_count,
       (rm.region_id IS NOT NULL)     AS has_metrics
FROM meta_regions mr
LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
""",
    views=["meta_regions", "region_metrics"],
)
def region_health_join(m: Model) -> DataFrame:
    """J1 — region-info ⋈ region-metrics with moved-region tolerance: a
    missing metrics row means the region moved between the meta scan and
    the metrics fetch (analyze/TableAnalyzer.java:174-203); left join +
    has_metrics flag instead of dropping."""
    rm = m.region_metrics.select("region_id", "size_mb", "file_count")
    return m.meta_regions.join(rm, "region_id", "left").select(
        "region_id",
        "table_name",
        "server",
        F.coalesce(F.col("size_mb"), F.lit(0.0)).alias("size_mb"),
        F.coalesce(F.col("file_count"), F.lit(0)).alias("file_count"),
        F.col("size_mb").isNotNull().alias("has_metrics"),
    )


@query(
    "moved_regions_audit",
    oracle="""
SELECT mr.region_id, mr.table_name, mr.server
FROM meta_regions mr
LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
WHERE rm.region_id IS NULL
""",
    views=["meta_regions", "region_metrics"],
)
def moved_regions_audit(m: Model) -> DataFrame:
    """J1-audit — regions in meta with no metrics ('moved region' log in
    the reference, compactor/CompactorServer.java:194-208)."""
    return m.meta_regions.join(
        m.region_metrics.select("region_id"), "region_id", "left_anti"
    ).select("region_id", "table_name", "server")


@query(
    "metrics_semi_join",
    oracle="""
SELECT rm.region_id, rm.server, rm.size_mb, rm.file_count
FROM region_metrics rm
SEMI JOIN (SELECT region_id FROM meta_regions WHERE table_name = 't3') t
  ON rm.region_id = t.region_id
""",
    views=["meta_regions", "region_metrics"],
)
def metrics_semi_join(m: Model) -> DataFrame:
    """J2 — restrict cluster-wide metrics to one table's region set
    (splitter/TableSplitter.java:150-174)."""
    t3 = m.meta_regions.filter(F.col("table_name") == "t3").select("region_id")
    return m.region_metrics.join(t3, "region_id", "semi").select(
        "region_id", "server", "size_mb", "file_count"
    )


# Adaptive byte-key grid parameters (see locate_in_ranges).
_CELL_MIN = 1024
_CELL_MAX = 65536
_PROXY_NIBBLES = 14  # 7 bytes of key entropy -> proxy fits a signed long


def _hexk(col):
    # hex() of the UTF-8 bytes; hex-string order == byte order ('0'-'9'
    # sort below 'A'-'F' in ASCII), so all comparisons stay byte-exact.
    return F.hex(col.cast("binary"))


def _cell_expr(hcol: str) -> str:
    """SQL for the grid cell of hex-key column ``hcol`` given the scalar
    columns (off, pfx, p_lo, step, cells) from the bounds row.  Weakly
    monotone over arbitrary byte keys: keys ordered before/after the
    boundaries' shared prefix clamp to the first/last cell; keys inside
    it map by their 7-byte big-endian proxy integer."""
    proxy = (
        f"CAST(conv(rpad(substr({hcol}, off + 1, {_PROXY_NIBBLES}),"
        f" {_PROXY_NIBBLES}, '0'), 16, 10) AS BIGINT)"
    )
    return (
        f"CASE WHEN substr({hcol}, 1, off) < pfx THEN CAST(0 AS BIGINT) "
        f"WHEN substr({hcol}, 1, off) > pfx THEN cells - 1 "
        f"ELSE least(cells - 1, greatest(CAST(0 AS BIGINT),"
        f" ({proxy} - p_lo) DIV step)) END"
    )


def locate_in_ranges(
    probes: DataFrame,
    regions: DataFrame,
    probe_key: str = "probe_key",
    start_key: str = "start_key",
    end_key: str = "end_key",
) -> DataFrame:
    """Point-in-range join for ARBITRARY byte keys: match each probe row
    to the region whose ``[start_key, end_key)`` contains its key, where
    ``start_key = ''`` means unbounded-below and ``end_key = ''``
    unbounded-above (HBase region semantics, common/KeyFinder.java:24-46).

    Shape: an adaptive grid equi-join.  A one-row aggregate over the
    region boundaries derives (a) ``off`` — the length of the hex prefix
    shared by ALL boundaries (lcp of min/max), (b) a 7-byte big-endian
    proxy integer of the bytes after that prefix, and (c) a cell width
    that divides the actual proxy span into ``min(65536, max(1024, 4R))``
    cells.  Regions explode into the contiguous cells they overlap
    (disjoint ranges => total grid rows <= cells + R, broadcastable);
    probes compute their cell narrowly and equi-join; the exact
    ``[start, end)`` byte comparison filters the few candidates.

    100 TB: the probe side never shuffles and stays in whole-stage
    codegen (hex/conv/rpad are JVM exprs); the grid adapts to wherever
    the boundary entropy lives, so zero-padded decimals, long shared
    prefixes, and raw binary all spread over ~4R cells.  Worst case
    (all boundaries equal in their first off+7 bytes) degrades to a
    broadcast-NL *within one cell* — still correct via the exact
    predicate.  No numeric cast of the key anywhere."""
    bounds = (
        regions.where(F.col(start_key) != "")
        .agg(
            F.min(_hexk(F.col(start_key))).alias("min_h"),
            F.max(_hexk(F.col(start_key))).alias("max_h"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("min_h", F.lit("")).alias("min_h"),
            F.coalesce("max_h", F.lit("")).alias("max_h"),
            "n",
        )
        # lcp of (min_h, max_h) == hex prefix shared by every boundary;
        # a one-row interpreted fold, never on the per-row hot path.
        .withColumn(
            "off",
            F.expr(
                "IF(least(length(min_h), length(max_h)) = 0, 0,"
                " aggregate(sequence(1, least(length(min_h), length(max_h))), 0,"
                " (acc, i) -> IF(acc = i - 1 AND substr(min_h, i, 1) = substr(max_h, i, 1),"
                " i, acc)))"
            ),
        )
        .withColumn("pfx", F.expr("substr(min_h, 1, off)"))
        .withColumn(
            "p_lo",
            F.expr(
                f"CAST(conv(rpad(substr(min_h, off + 1, {_PROXY_NIBBLES}),"
                f" {_PROXY_NIBBLES}, '0'), 16, 10) AS BIGINT)"
            ),
        )
        .withColumn(
            "p_hi",
            F.expr(
                f"CAST(conv(rpad(substr(max_h, off + 1, {_PROXY_NIBBLES}),"
                f" {_PROXY_NIBBLES}, '0'), 16, 10) AS BIGINT)"
            ),
        )
        .withColumn(
            "cells",
            F.expr(f"CAST(least({_CELL_MAX}, greatest({_CELL_MIN}, 4 * n)) AS BIGINT)"),
        )
        .withColumn(
            "step",
            F.expr("greatest(CAST(1 AS BIGINT), ((p_hi - p_lo) DIV cells) + 1)"),
        )
    )
    region_cols = regions.columns
    grid = (
        regions.crossJoin(F.broadcast(bounds))
        .withColumn("__sh", _hexk(F.col(start_key)))
        .withColumn("__eh", _hexk(F.col(end_key)))
        .withColumn("__c0", F.expr(_cell_expr("__sh")))
        .withColumn(
            "__c1",
            F.when(F.col(end_key) == "", F.expr("cells - 1")).otherwise(
                F.expr(_cell_expr("__eh"))
            ),
        )
        .select(
            *region_cols,
            F.explode(F.sequence("__c0", "__c1")).alias("__cell"),
        )
    )
    probed = (
        probes.crossJoin(F.broadcast(bounds))
        .withColumn("__ph", _hexk(F.col(probe_key)))
        .withColumn("__cell", F.expr(_cell_expr("__ph")))
    )
    in_range = (F.col(probe_key) >= F.col(start_key)) & (
        (F.col(end_key) == "") | (F.col(probe_key) < F.col(end_key))
    )
    return (
        probed.join(F.broadcast(grid), "__cell")
        .filter(in_range)
        .select(*probes.columns, *[c for c in region_cols if c not in probes.columns])
    )


@query(
    "range_lookup",
    oracle="""
SELECT c.c_custkey,
       lpad(CAST(c.c_custkey * 10 AS VARCHAR), 12, '0') AS probe_key,
       mr.region_id
FROM customer c
JOIN (SELECT * FROM meta_regions WHERE table_name = 't0') mr
  ON lpad(CAST(c.c_custkey * 10 AS VARCHAR), 12, '0') >= mr.start_key
 AND (mr.end_key = '' OR lpad(CAST(c.c_custkey * 10 AS VARCHAR), 12, '0') < mr.end_key)
""",
    views=["meta_regions"],
)
def range_lookup(m: Model) -> DataFrame:
    """J5 — point-in-range lookup: locate the region whose [start,end)
    contains each probe key (common/KeyFinder.java:24-46), via the
    byte-key-safe adaptive grid in :func:`locate_in_ranges`.  The
    unbounded-end region folds into the grid's last cell — one hash
    join, no union leg.  (Rejected alternatives, measured slower:
    plain broadcast-NL — 28M predicate evaluations; a boundary-array
    floor join — 20x worse, higher-order array fns are interpreted;
    the round-1 numeric-cast grid — fast but silently empty on
    non-numeric rowkeys.)"""
    probes = m.customer.select(
        "c_custkey",
        F.lpad((F.col("c_custkey") * 10).cast("string"), 12, "0").alias("probe_key"),
    )
    regions = (
        m.meta_regions.filter(F.col("table_name") == "t0")
        .select("region_id", "start_key", "end_key")
    )
    return locate_in_ranges(probes, regions).select(
        "c_custkey", "probe_key", "region_id"
    )


@query(
    "region_bounds",
    oracle="""
SELECT table_name,
       min(start_key) AS first_key,
       max(start_key) AS last_key,
       count(*)       AS regions
FROM meta_regions
GROUP BY table_name
""",
    views=["meta_regions"],
)
def region_bounds(m: Model) -> DataFrame:
    """SC3 — first/last key probe per table: the reference's limit-1
    forward + reversed scans (common/HBaseRegionChecker.java:44-71)
    collapse to min/max aggregates (no physical reverse scan needed)."""
    return (
        m.meta_regions.groupBy("table_name")
        .agg(
            F.min("start_key").alias("first_key"),
            F.max("start_key").alias("last_key"),
            F.count(F.lit(1)).alias("regions"),
        )
    )


@query(
    "server_prefix_resolve",
    oracle="""
SELECT prefix,
       CAST(count(*) AS BIGINT) AS matches,
       min(server) AS resolved_server,
       (count(*) = 1) AS unambiguous
FROM (
  SELECT p.prefix, s.server
  FROM (SELECT 's1' AS prefix UNION ALL SELECT 's2' UNION ALL SELECT 's') p
  JOIN servers s ON starts_with(s.server, p.prefix)
) j
GROUP BY prefix
""",
    views=["servers"],
)
def server_prefix_resolve(m: Model) -> DataFrame:
    """F6 — resolve servers by host:port prefix; exactly one match is
    required (HBaseToolsHelper.java:54-94).  Emits match counts + the
    unambiguous flag instead of throwing."""
    prefixes = m.spark.sql("SELECT * FROM VALUES ('s1'), ('s2'), ('s') AS p(prefix)")
    joined = prefixes.join(
        m.servers, F.col("server").startswith(F.col("prefix"))
    )
    return joined.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("matches"),
        F.min("server").alias("resolved_server"),
        (F.count(F.lit(1)) == 1).alias("unambiguous"),
    )


@query(
    "region_edge_rows",
    oracle="""
SELECT table_name,
       min(start_key) AS first_key,
       min_by(region_id, start_key) AS first_region,
       min_by(server, start_key) AS first_server,
       max(start_key) AS last_key,
       max_by(region_id, start_key) AS last_region,
       max_by(server, start_key) AS last_server
FROM meta_regions
GROUP BY table_name
""",
    views=["meta_regions"],
)
def region_edge_rows(m: Model) -> DataFrame:
    """SC3 full-row form — the reference's first/last-row probes return
    whole rows, not just keys (forward scan limit 1 + reversed scan,
    common/HBaseRegionChecker.java:44-71); ``min_by``/``max_by`` fetch
    the complete edge rows in ONE aggregation pass, replacing the
    reference's physical reversed scan (SURVEY §4: no reverse scan
    needed under an aggregate)."""
    return m.meta_regions.groupBy("table_name").agg(
        F.min("start_key").alias("first_key"),
        F.min_by("region_id", "start_key").alias("first_region"),
        F.min_by("server", "start_key").alias("first_server"),
        F.max("start_key").alias("last_key"),
        F.max_by("region_id", "start_key").alias("last_region"),
        F.max_by("server", "start_key").alias("last_server"),
    )
