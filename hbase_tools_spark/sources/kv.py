"""Connector-shaped KV source adapter: rebuild the model's metadata
relations from an HBase-snapshot-shaped cell relation
``(rowkey, cf, qualifier, ts, value)``.

This is the reference's actual data model — a row is a
``family -> qualifier -> cell`` map with versioned cells
(SequenceBufferedMutator.java:320-336), qualifiers are DATA
(``server_<epochMillis>``, meta/TechnicalMeta.java:142-146), and the
source layer scans ``hbase:meta`` / the technical-meta table
(meta/MetaTableInfoService.java:54-72, meta/TechnicalMeta.java:130-158).
A real connector (hbase-spark, or a parquet export of an HBase
snapshot) lands exactly this cell schema; everything downstream of
this module is unchanged — ``load_model_from_kv`` swaps the two
KV-backed relations behind the same ``Model`` contract.

Scale shape: last-write-wins resolution and the qualifier pivot are a
SINGLE shuffle on rowkey (``groupBy(rowkey).pivot(quals).agg(max(
struct(ts, value)))`` — pivot values are explicit, so there is no
distinct-discovery job); the ``server_<ts>`` time-series decode is one
shuffle on (rowkey, qualifier).  A 100 TB snapshot shuffles once into
the model relation and is then persisted — per SURVEY §1.3 the KV form
is the ingest format, not the compute format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Model, load_model

META_CF = "info"  # hbase:meta family for region info
TECH_CF = "cf"    # technical-meta family (meta/TechnicalMeta.java:75)

KV_COLUMNS = ["rowkey", "cf", "qualifier", "ts", "value"]


def latest_cells(kv: DataFrame) -> DataFrame:
    """Last-write-wins cell resolution: keep the highest-``ts`` cell per
    (rowkey, cf, qualifier); a null ``value`` is a delete tombstone and
    removes the cell (SC11 semantics, SequenceBufferedMutator.java:
    277-290).  One shuffle; ``max(struct(ts, value))`` gives the latest
    cell inside the partial aggregate — no window, no second pass."""
    return (
        kv.groupBy("rowkey", "cf", "qualifier")
        .agg(F.max(F.struct("ts", "value")).alias("c"))
        # one selectExpr + string filter: plan-build cost is part of
        # the serving floor (round-11 — each Dataset op re-analyzes
        # eagerly and each Column object is a py4j round trip)
        .selectExpr(
            "rowkey", "cf", "qualifier", "c.ts AS ts", "c.value AS value"
        )
        .where("value IS NOT NULL")
    )


def pivot_latest(kv: DataFrame, cf: str, qualifiers: list[str]) -> DataFrame:
    """Fixed-schema view of dynamic qualifiers: one row per rowkey with
    one column per requested qualifier, latest version winning.  The
    explicit ``qualifiers`` list keeps pivot to a single shuffle (no
    distinct-qualifier discovery job — essential at snapshot scale)."""
    qlist = ", ".join(f"'{q}'" for q in qualifiers)
    wide = (
        kv.where(f"cf = '{cf}' AND qualifier IN ({qlist})")
        .groupBy("rowkey")
        .pivot("qualifier", qualifiers)
        .agg(F.max(F.struct("ts", "value")))
    )
    # fully-tombstoned rows vanish (the NOT-all-null filter == na.drop)
    alive = " OR ".join(f"`{q}`.value IS NOT NULL" for q in qualifiers)
    return wide.where(alive).selectExpr(
        "rowkey", *[f"`{q}`.value AS `{q}`" for q in qualifiers]
    )


def kv_meta_regions(kv: DataFrame) -> DataFrame:
    """Rebuild ``meta_regions`` from an hbase:meta-shaped snapshot:
    rowkey ``<table>,<start_key>,<region_id>`` (the literal hbase:meta
    rowkey layout), qualifier ``info:server``.  ``end_key`` is NOT
    stored in meta — HBase derives it as the next region's start, and
    so do we (lead() per table, '' for the last region;
    common/HBaseRegionChecker.java:61-71)."""
    wide = pivot_latest(kv, META_CF, ["server"])
    # two selectExpr ops (parse, then window) instead of a
    # select/withColumn/select chain — middle component verbatim,
    # robust to ',' inside the start key
    return wide.selectExpr(
        "CAST(substring_index(rowkey, ',', -1) AS BIGINT) AS region_id",
        "substring_index(rowkey, ',', 1) AS table_name",
        "server",
        "substring(rowkey,"
        " length(substring_index(rowkey, ',', 1)) + 2,"
        " length(rowkey) - length(substring_index(rowkey, ',', 1))"
        " - length(substring_index(rowkey, ',', -1)) - 2) AS start_key",
    ).selectExpr(
        "region_id",
        "table_name",
        "server",
        "start_key",
        "coalesce(lead(start_key) OVER ("
        "PARTITION BY table_name ORDER BY start_key), '') AS end_key",
    )


def kv_topology(kv: DataFrame) -> DataFrame:
    """Rebuild the ``topology`` history from technical-meta KV: rowkey =
    region id, qualifier ``server_<epochMillis>``, value = server
    (meta/TechnicalMeta.java:142-146, write path :160-186).  Each
    qualifier is one (snapshot_ts, region, server) assignment; the
    epoch parse is F5/X7 applied at the source layer."""
    cells = latest_cells(kv.where(f"cf = '{TECH_CF}'")).where(
        "startswith(qualifier, 'server_')"
    )
    return cells.selectExpr(
        "timestamp_millis(CAST(split(qualifier, '_')[1] AS BIGINT))"
        " AS snapshot_ts",
        "CAST(rowkey AS BIGINT) AS region_id",
        "value AS server",
    )


def meta_regions_to_kv(meta_regions: DataFrame, ts: int = 0) -> DataFrame:
    """Encode ``meta_regions`` rows as hbase:meta-shaped cells (the
    inverse of :func:`kv_meta_regions`; end_key intentionally dropped —
    meta does not store it)."""
    return meta_regions.selectExpr(
        "concat_ws(',', table_name, start_key, CAST(region_id AS STRING))"
        " AS rowkey",
        f"'{META_CF}' AS cf",
        "'server' AS qualifier",
        f"CAST({int(ts)} AS BIGINT) AS ts",
        "server AS value",
    )


def topology_to_kv(topology: DataFrame) -> DataFrame:
    """Encode the ``topology`` history as technical-meta cells: one
    ``server_<epochMillis>`` qualifier per snapshot (the SC5 sink
    layout, meta/TechnicalMeta.java:160-186)."""
    millis = "CAST(unix_timestamp(snapshot_ts) * 1000 AS BIGINT)"
    return topology.selectExpr(
        "CAST(region_id AS STRING) AS rowkey",
        f"'{TECH_CF}' AS cf",
        f"concat('server_', CAST({millis} AS STRING)) AS qualifier",
        f"{millis} AS ts",
        "server AS value",
    )


def load_model_from_kv(
    spark: SparkSession,
    sf_dir: str,
    meta_kv: DataFrame,
    topo_kv: DataFrame,
) -> Model:
    """The ``load_model`` contract with the two KV-backed relations
    rebuilt from connector-shaped cell snapshots instead of the fixture
    derivations; every registered query runs unchanged against the
    returned model (the porting path off the reference's live scan).
    No query calls it: it is the public connector entry point, kept
    live by ``test_queries_green_on_kv_model``."""
    m = load_model(spark, sf_dir)
    kv_meta_regions(meta_kv).createOrReplaceTempView("meta_regions")
    kv_topology(topo_kv).createOrReplaceTempView("topology")
    # force re-registration on the next plain load_model call — the
    # fixture views must not silently keep the KV overrides
    spark.conf.set("spark.hbase_tools.model_dir", f"{sf_dir}#kv")
    return m


# ---------------------------------------------------------------------------
# Driver-certified KV-ingest roundtrip (round-5 verdict task 3): the
# connector path above is the reference's actual data model and must
# face the same oracle as the parquet path, not just pytest.
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402


#: Row digest shared by both engines: 40-bit md5 slice of the
#: '|'-joined row rendering (concat_ws skips NULLs identically in
#: Spark and DuckDB), summed per table — 2^40 x regions-per-table
#: stays far inside bigint, and any single-field corruption anywhere
#: in the rebuilt relation flips the sum with overwhelming probability.
_ROW_RENDER = (
    "concat_ws('|', CAST(region_id AS {STR}), table_name, server,"
    " start_key, end_key, CAST(n_topo AS {STR}), last_server,"
    " CAST(last_ts AS {STR}))"
)


@query(
    "kv_model_roundtrip",
    oracle="""
, topo AS (
  SELECT region_id,
         CAST(count(*) AS BIGINT)                  AS n_topo,
         arg_max(server, snapshot_ts)              AS last_server,
         CAST(epoch(max(snapshot_ts)) AS BIGINT)   AS last_ts
  FROM topology
  GROUP BY region_id
),
rebuilt AS (
  SELECT mr.region_id, mr.table_name, mr.server, mr.start_key, mr.end_key,
         coalesce(topo.n_topo, 0)  AS n_topo,
         topo.last_server          AS last_server,
         topo.last_ts              AS last_ts
  FROM meta_regions mr
  LEFT JOIN topo ON topo.region_id = mr.region_id
)
SELECT table_name,
       CAST(count(*) AS BIGINT)               AS n_regions,
       CAST(count(DISTINCT server) AS BIGINT) AS n_servers,
       CAST(sum(CAST(('0x' || substr(md5(__RENDER__), 1, 10)) AS BIGINT))
            AS BIGINT)                        AS row_digest,
       CAST(sum(n_topo) AS BIGINT)            AS n_topo_total,
       CAST(max(last_ts) AS BIGINT)           AS max_last_ts,
       min(start_key)                         AS first_start_key,
       max(end_key)                           AS last_end_key
FROM rebuilt
GROUP BY table_name
""".replace("__RENDER__", _ROW_RENDER.format(STR="VARCHAR")),
    views=["meta_regions", "topology"],
)
def kv_model_roundtrip(m: Model) -> DataFrame:
    """Full KV-ingest roundtrip, digest-certified: encode the model's
    ``meta_regions`` and ``topology`` relations into connector-shaped
    cell snapshots (``meta_regions_to_kv``/``topology_to_kv`` — the
    hbase:meta rowkey layout and the ``server_<epochMillis>``
    technical-meta qualifiers, SequenceBufferedMutator.java:320-336,
    meta/TechnicalMeta.java:142-146), then REBUILD both relations
    through the ingest path (last-write-wins cell resolution,
    explicit-qualifier pivot, rowkey parse, lead-derived end keys,
    epoch-qualifier decode) and emit a per-table readout whose
    ``row_digest`` column folds a 40-bit md5 slice of EVERY rebuilt
    row: the oracle computes the identical digest from the derived
    views directly, so a green row certifies per-field equality of the
    whole rebuilt relation without shipping it.

    Scale shape: the encode side is a projection; the rebuild is the
    module's documented single shuffle per relation (groupBy-pivot on
    rowkey, groupBy on cells); the readout collapses to one row per
    table BEFORE leaving the executors — at 100 TB you compare digests,
    never the 10^8-row relation itself.  A real hbase-spark snapshot
    export plugs in where the encoded relations are."""
    rebuilt_meta = kv_meta_regions(meta_regions_to_kv(m.meta_regions))
    rebuilt_topo = kv_topology(topology_to_kv(m.topology))
    topo = rebuilt_topo.groupBy("region_id").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_topo"),
        F.expr("max_by(server, snapshot_ts) AS last_server"),
        F.expr("CAST(unix_timestamp(max(snapshot_ts)) AS BIGINT) AS last_ts"),
    )
    # topo is one row per region — region-count-sized at any corpus
    # scale (the same dimension grain as meta_regions itself), so the
    # explicit broadcast keeps the 150k-row meta side unshuffled
    # instead of leaving the strategy to size estimates.
    rebuilt = rebuilt_meta.join(F.broadcast(topo), "region_id", "left").selectExpr(
        "region_id",
        "table_name",
        "server",
        "start_key",
        "end_key",
        "CAST(coalesce(n_topo, 0) AS BIGINT) AS n_topo",
        "last_server",
        "last_ts",
    )
    render = _ROW_RENDER.format(STR="STRING")
    return rebuilt.groupBy("table_name").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_regions"),
        F.expr("CAST(count(DISTINCT server) AS BIGINT) AS n_servers"),
        F.expr(
            f"CAST(sum(CAST(conv(substring(md5(CAST({render} AS BINARY)),"
            " 1, 10), 16, 10) AS BIGINT)) AS BIGINT) AS row_digest"
        ),
        F.expr("CAST(sum(n_topo) AS BIGINT) AS n_topo_total"),
        F.expr("CAST(max(last_ts) AS BIGINT) AS max_last_ts"),
        F.expr("min(start_key) AS first_start_key"),
        F.expr("max(end_key) AS last_end_key"),
    )


# ---------------------------------------------------------------------------
# Round-7 KV breadth (round-6 verdict task 7): the remaining reference
# table families as connector-shaped data — the lock table
# (meta/TableLock.java:40-108: rowkey = process, cf 'cf', qualifiers
# LOCKED_BY = pid / LOCK = resource, TTL'd puts) and the health-probe
# table (analyze/HBaseHealthAnalyzeService.java:137-175: rowkey =
# region start key + 4-byte salt, qualifier REGION_CHECK_TIME).
# ---------------------------------------------------------------------------

LOCK_CF = "cf"                      # TableLock.java:21
Q_LOCKED_BY = "LOCKED_BY"           # TableLock.java:22
Q_LOCK = "LOCK"                     # TableLock.java:23
Q_PROBE = "REGION_CHECK_TIME"       # HBaseHealthAnalyzeService.java:153

#: Logical lock TTL in sequence units (the reference TTLs lock puts in
#: wall-millis, TableLock.java:72; with the fixture's logical event
#: clock the same liveness rule is 'within the last N sequence ticks').
LOCK_TTL_SEQ = 50


def kv_locks(kv: DataFrame) -> DataFrame:
    """Decode the lock table: current holder per process — last-write-
    wins over the LOCKED_BY/LOCK qualifiers exactly like
    ``TableLock.getCurrentTableLock`` (TableLock.java:85-108) reads the
    newest cell per qualifier.  One shuffle (the shared
    ``latest_cells`` LWW); output is (process, pid, resource,
    lock_seq) where lock_seq is the winning LOCKED_BY cell's ts."""
    cells = latest_cells(kv.where(f"cf = '{LOCK_CF}'"))
    by = cells.where(f"qualifier = '{Q_LOCKED_BY}'").selectExpr(
        "rowkey AS process", "value AS pid", "ts AS lock_seq"
    )
    lk = cells.where(f"qualifier = '{Q_LOCK}'").selectExpr(
        "rowkey AS process", "value AS resource"
    )
    return by.join(lk, "process", "left")


def kv_health_probes(kv: DataFrame) -> DataFrame:
    """Decode health-probe rows: rowkey = ``<start_key>#<salt8hex>``
    (the reference appends 4 random salt BYTES to the region start key,
    HBaseHealthAnalyzeService.java:168-175; the printable '#'+hex form
    is this repo's X2 binary-to-printable convention), qualifier
    REGION_CHECK_TIME, value = the check-time rendering.  LWW per
    probe row, then the salt parse — (start_key, salt, check_time,
    probe_seq)."""
    cells = latest_cells(kv.where(f"cf = '{TECH_CF}'")).where(
        f"qualifier = '{Q_PROBE}'"
    )
    return cells.selectExpr(
        "substring_index(rowkey, '#', 1) AS start_key",
        "substring_index(rowkey, '#', -1) AS salt",
        "value AS check_time",
        "ts AS probe_seq",
    )


def locks_to_kv(attempts: DataFrame) -> DataFrame:
    """Encode lock-acquire attempts as TableLock-shaped cells: each
    attempt puts LOCKED_BY = pid and LOCK = resource under the process
    rowkey (TableLock.java:70-82).  ``attempts`` columns: process,
    seq, pid, resource."""
    base = attempts.selectExpr(
        "process AS rowkey",
        f"'{LOCK_CF}' AS cf",
        "CAST(seq AS BIGINT) AS ts",
        "pid",
        "resource",
    )
    return base.selectExpr(
        "rowkey", "cf", f"'{Q_LOCKED_BY}' AS qualifier", "ts",
        "pid AS value",
    ).unionAll(
        base.selectExpr(
            "rowkey", "cf", f"'{Q_LOCK}' AS qualifier", "ts",
            "resource AS value",
        )
    )


def probes_to_kv(meta_regions: DataFrame) -> DataFrame:
    """Encode one health-probe row per region: salted start-key rowkey
    + REGION_CHECK_TIME cell (HBaseHealthAnalyzeService.java:137-160;
    the salt is the md5-derived deterministic stand-in for the
    reference's 4 random bytes so the oracle can replay it)."""
    return meta_regions.selectExpr(
        "concat(start_key, '#',"
        " substring(md5(CAST(CAST(region_id AS STRING) AS BINARY)), 1, 8))"
        " AS rowkey",
        f"'{TECH_CF}' AS cf",
        f"'{Q_PROBE}' AS qualifier",
        "CAST(region_id AS BIGINT) AS ts",
        "CAST(region_id % 86400 AS STRING) AS value",
    )


_LOCK_RENDER = (
    "concat_ws('|', process, pid, resource,"
    " CASE WHEN now_seq - lock_seq <= {ttl} THEN 'held' ELSE 'expired' END)"
)
_PROBE_RENDER = (
    "concat_ws('|', start_key, salt, check_time, CAST(probe_seq AS {STR}))"
)


@query(
    "kv_admin_roundtrip",
    oracle=f"""
, att AS (
  SELECT concat('proc_', event_type)              AS process,
         event_id                                 AS seq,
         CAST(user_id AS VARCHAR)                 AS pid,
         concat('res_', CAST(user_id % 4 AS VARCHAR)) AS resource
  FROM events
),
mxs AS (SELECT max(seq) AS now_seq FROM att),
cur AS (
  SELECT process,
         arg_max(pid, seq)        AS pid,
         arg_max(resource, seq)   AS resource,
         max(seq)                 AS lock_seq,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM att GROUP BY process
),
lockrows AS (
  SELECT 'lock' AS kind, process AS key, n_rows,
         CAST(('0x' || substr(md5(
              {_LOCK_RENDER.format(ttl=LOCK_TTL_SEQ)}), 1, 10)) AS BIGINT)
           AS row_digest,
         CAST(lock_seq AS BIGINT) AS max_seq,
         pid AS holder, resource
  FROM cur, mxs
),
pr AS (
  SELECT start_key, table_name,
         substr(md5(CAST(region_id AS VARCHAR)), 1, 8) AS salt,
         CAST(region_id % 86400 AS VARCHAR)            AS check_time,
         region_id                                     AS probe_seq
  FROM meta_regions
),
proberows AS (
  SELECT 'probe' AS kind, table_name AS key,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(('0x' || substr(md5(
              {_PROBE_RENDER.format(STR='VARCHAR')}), 1, 10)) AS BIGINT))
              AS BIGINT)          AS row_digest,
         CAST(max(probe_seq) AS BIGINT) AS max_seq,
         min(salt) AS holder, max(salt) AS resource
  FROM pr GROUP BY table_name
)
SELECT * FROM lockrows UNION ALL SELECT * FROM proberows
""",
    views=["meta_regions"],
)
def kv_admin_roundtrip(m: Model) -> DataFrame:
    """Lock-table + health-probe KV roundtrip, digest-certified — the
    two reference table families kv_model_roundtrip does not cover
    (round-6 verdict task 7).  A lock-attempt history derived from
    events encodes as TableLock-shaped cells and decodes back through
    ``kv_locks`` (LWW holder per process + TTL liveness folded into
    the digest); one probe row per region encodes as the salted
    health-table cells and decodes through ``kv_health_probes``, then
    re-associates to its table via the start key.  The readout is one
    row per process/table with a 40-bit-md5 digest over every decoded
    row, so a green row certifies both decode paths per-field.

    Scale shape: both decodes are the module's single-shuffle LWW; the
    probe/table re-association is an equi-join on the globally-unique
    start key; readouts collapse per key before leaving the executors.
    No driver values at all."""
    ev = m.events.selectExpr(
        "concat('proc_', event_type) AS process",
        "CAST(event_id AS BIGINT) AS seq",
        "CAST(user_id AS STRING) AS pid",
        "concat('res_', CAST(user_id % 4 AS STRING)) AS resource",
    )
    locks = kv_locks(locks_to_kv(ev))
    now = ev.agg(F.max("seq").alias("now_seq"))
    n_att = ev.groupBy("process").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_rows")
    )
    lock_render = _LOCK_RENDER.format(ttl=LOCK_TTL_SEQ)
    lockrows = (
        locks.join(n_att, "process")
        .crossJoin(F.broadcast(now))
        .selectExpr(
            "'lock' AS kind",
            "process AS key",
            "n_rows",
            f"CAST(conv(substring(md5(CAST({lock_render} AS BINARY)),"
            " 1, 10), 16, 10) AS BIGINT) AS row_digest",
            "CAST(lock_seq AS BIGINT) AS max_seq",
            "pid AS holder",
            "resource",
        )
    )
    probes = kv_health_probes(probes_to_kv(m.meta_regions))
    probe_render = _PROBE_RENDER.format(STR="STRING")
    proberows = (
        probes.join(
            m.meta_regions.select("start_key", "table_name"), "start_key"
        )
        .groupBy("table_name")
        .agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_rows"),
            F.expr(
                f"CAST(sum(CAST(conv(substring(md5(CAST({probe_render} AS"
                " BINARY)), 1, 10), 16, 10) AS BIGINT)) AS BIGINT)"
                " AS row_digest"
            ),
            F.expr("CAST(max(probe_seq) AS BIGINT) AS max_seq"),
            F.expr("min(salt) AS holder"),
            F.expr("max(salt) AS resource"),
        )
        .selectExpr(
            "'probe' AS kind",
            "table_name AS key",
            "n_rows",
            "row_digest",
            "max_seq",
            "holder",
            "resource",
        )
    )
    return lockrows.unionAll(proberows)
