"""Health-check queries (SURVEY.md §2 IDs F10, SET4, SC6, X3) — the
analytics half of the reference's HBaseHealthAnalyzeService.

The reference picks check-eligible tables by a region-count band and a
liveness guard (analyze/HBaseHealthAnalyzeService.java:181-224), then
writes one probe row per region keyed start_key‖salt
(analyze/HBaseHealthAnalyzeService.java:137-175).  We emit the
eligibility relation and the probe-write plan; the actual write is the
actuation layer (a connector micro-batch sink in production).

Scale: both queries are a groupBy over the region catalog plus a
broadcast of the tiny live-server dim — no large shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Model
from ..model import EVENTS_AS_OF, EVENTS_AS_OF_LIT
from ..registry import query


@query(
    "health_check_eligible",
    # NB: the registry prepends "WITH <views...>"; this body continues
    # that CTE list (leading comma) rather than opening its own WITH.
    oracle=f"""
, live AS (SELECT CAST(count(*) AS BIGINT) AS n_live FROM servers),
per_table AS (
  SELECT table_name,
         CAST(count(*) AS BIGINT) AS n_regions,
         CAST(count(DISTINCT server) AS BIGINT) AS n_hosts
  FROM meta_regions
  GROUP BY 1
),
dead_hosts AS (
  SELECT mr.table_name, CAST(count(*) AS BIGINT) AS n_dead
  FROM (SELECT DISTINCT table_name, server FROM meta_regions) mr
  LEFT JOIN servers s ON mr.server = s.server
  WHERE s.server IS NULL
  GROUP BY 1
)
SELECT p.table_name, p.n_regions, p.n_hosts, l.n_live,
       (p.n_regions >= 1.2 * l.n_live AND p.n_regions <= 3 * l.n_live) AS in_band,
       (coalesce(d.n_dead, 0) = 0) AS all_hosts_live,
       (p.n_regions >= 1.2 * l.n_live AND p.n_regions <= 3 * l.n_live
        AND coalesce(d.n_dead, 0) = 0) AS eligible
FROM per_table p
CROSS JOIN live l
LEFT JOIN dead_hosts d ON d.table_name = p.table_name
""",
    views=["meta_regions", "servers"],
)
def health_check_eligible(m: Model) -> DataFrame:
    """F10+SET4 — health-check eligibility per table: region count in
    the [1.2·servers, 3·servers] band and every hosting server live
    (containsAll guard as an anti-join count,
    HBaseHealthAnalyzeService.java:181-224)."""
    live = m.servers.agg(F.count(F.lit(1)).alias("n_live"))
    per_table = m.meta_regions.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.count_distinct("server").alias("n_hosts"),
    )
    hosting = m.meta_regions.select("table_name", "server").distinct()
    dead = (
        hosting.join(m.servers, "server", "left_anti")
        .groupBy("table_name")
        .agg(F.count(F.lit(1)).alias("n_dead"))
    )
    in_band = (F.col("n_regions") >= 1.2 * F.col("n_live")) & (
        F.col("n_regions") <= 3 * F.col("n_live")
    )
    alive = F.coalesce(F.col("n_dead"), F.lit(0)) == 0
    return (
        per_table.crossJoin(F.broadcast(live))
        .join(F.broadcast(dead), "table_name", "left")
        .select(
            "table_name",
            "n_regions",
            "n_hosts",
            "n_live",
            in_band.alias("in_band"),
            alive.alias("all_hosts_live"),
            (in_band & alive).alias("eligible"),
        )
    )


@query(
    "health_probe_plan",
    oracle=f"""
SELECT region_id, table_name, server,
       concat(start_key, '|', substr(md5(start_key), 1, 8)) AS probe_key,
       CAST(floor(epoch({EVENTS_AS_OF})) AS BIGINT) AS check_ts
FROM meta_regions
WHERE table_name = 't0'
""",
    views=["meta_regions"],
)
def health_probe_plan(m: Model) -> DataFrame:
    """SC6+X3 — probe-write plan: one row per region of the probe table,
    keyed start_key‖salt with the check timestamp
    (HBaseHealthAnalyzeService.java:137-175).  The reference salts with
    4 random bytes; exact randomness is irrelevant (the key only needs
    to land inside the region), so the plan uses a deterministic md5
    salt — the actuation layer may swap in true randomness."""
    return m.meta_regions.filter(F.col("table_name") == "t0").select(
        "region_id",
        "table_name",
        "server",
        F.concat(
            F.col("start_key"),
            F.lit("|"),
            F.substring(F.md5(F.col("start_key").cast("binary")), 1, 8),
        ).alias("probe_key"),
        F.unix_timestamp(F.lit(EVENTS_AS_OF_LIT).cast("timestamp")).alias("check_ts"),
    )


@query(
    "regions_by_server",
    oracle="""
SELECT server,
       CAST(count(*) AS BIGINT) AS n_regions,
       array_to_string(list_sort(list(CAST(region_id AS VARCHAR))), ',') AS region_list
FROM meta_regions
GROUP BY server
""",
    views=["meta_regions"],
)
def regions_by_server(m: Model) -> DataFrame:
    """SET1+A12 — the reference's server→regions grouping
    (meta/MetaTableHolder.java:38-49): per-server region set flattened
    to a sorted list (string-joined so both engines compare the same
    scalar)."""
    return m.meta_regions.groupBy("server").agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.array_join(
            F.array_sort(F.collect_list(F.col("region_id").cast("string"))), ","
        ).alias("region_list"),
    )


@query(
    "table_mask_selection",
    oracle="""
SELECT qualified_name, namespace, table_name, disabled
FROM (
  SELECT concat('ns', CAST(CAST(substr(table_name, 2) AS INTEGER) % 2 AS VARCHAR),
                ':', table_name)                                    AS qualified_name,
         concat('ns', CAST(CAST(substr(table_name, 2) AS INTEGER) % 2 AS VARCHAR)) AS namespace,
         table_name,
         (table_name = 't3')                                        AS disabled
  FROM tables_dim
) t
WHERE regexp_matches(table_name, '^t[0-5]$')
  AND namespace = 'ns0'
  AND NOT disabled
""",
    views=["tables_dim"],
)
def table_mask_selection(m: Model) -> DataFrame:
    """F2+F3+F4 — table selection the way every reference tool routes
    work: regex mask (HBase table-mask listing,
    distributor/Distributor.java:70-77), namespace predicate
    (merger/MergerService.java:60-72, ':'-qualified names), and
    disabled-table exclusion (distributor/Distributor.java:121-124).
    Namespace/disabled flags are derived deterministically from the
    fixture table names."""
    ns = F.concat(
        F.lit("ns"), (F.substring("table_name", 2, 10).cast("int") % 2).cast("string")
    )
    t = m.tables_dim.select(
        F.concat(ns, F.lit(":"), F.col("table_name")).alias("qualified_name"),
        ns.alias("namespace"),
        "table_name",
        (F.col("table_name") == "t3").alias("disabled"),
    )
    return t.filter(
        F.col("table_name").rlike("^t[0-5]$")
        & (F.col("namespace") == "ns0")
        & (~F.col("disabled"))
    )
