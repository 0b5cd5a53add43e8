"""Table analyzer (M1): the reference's ``table_analyzer`` tool
(analyze/TableAnalyzer.java) as five declarative aggregation queries over
``region_metrics`` — SURVEY.md §2 IDs A1-A5, W8.

The reference walks ClusterMetrics region-by-region in client code; here
each analysis is one groupBy whose partial aggregation happens map-side,
so at 100 TB the shuffle carries only (group-key, partial-agg) pairs —
a few thousand rows per table regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Model
from ..functions.exprs import fround, fround_sql
from ..registry import query


@query(
    "analyzer_table_size",
    oracle="""
SELECT table_name,
       CAST(sum(CAST(size_mb AS DECIMAL(18,6))) AS DOUBLE) AS total_size_mb,
       count(*) AS regions
FROM region_metrics
GROUP BY table_name
""",
    views=["region_metrics"],
)
def analyzer_table_size(m: Model) -> DataFrame:
    """A1 — total storefile size per table (TableAnalyzer.java:72-83)."""
    return (
        m.region_metrics.groupBy("table_name")
        .agg(
            F.sum(F.col("size_mb").cast("decimal(18,6)")).cast("double").alias("total_size_mb"),
            F.count(F.lit(1)).alias("regions"),
        )
        .orderBy("table_name")
    )


@query(
    "analyzer_size_hist",
    oracle="""
SELECT table_name,
       CAST(floor(size_mb / 1024) AS BIGINT) AS size_bucket_gb,
       count(*) AS regions
FROM region_metrics
GROUP BY 1, 2
""",
    views=["region_metrics"],
)
def analyzer_size_hist(m: Model) -> DataFrame:
    """A2 — region-size histogram, 1 GB buckets (TableAnalyzer.java:85-103)."""
    return (
        m.region_metrics.groupBy(
            "table_name",
            F.floor(F.col("size_mb") / 1024).cast("bigint").alias("size_bucket_gb"),
        )
        .agg(F.count(F.lit(1)).alias("regions"))
        .orderBy("table_name", "size_bucket_gb")
    )


@query(
    "analyzer_locality_hist",
    oracle="""
SELECT table_name,
       CAST(floor(locality * 10) * 10 AS BIGINT) AS locality_bucket_pct,
       count(*) AS regions
FROM region_metrics
GROUP BY 1, 2
""",
    views=["region_metrics"],
)
def analyzer_locality_hist(m: Model) -> DataFrame:
    """A3 — locality histogram, 10% buckets (TableAnalyzer.java:130-153)."""
    return (
        m.region_metrics.groupBy(
            "table_name",
            (F.floor(F.col("locality") * 10) * 10).cast("bigint").alias("locality_bucket_pct"),
        )
        .agg(F.count(F.lit(1)).alias("regions"))
        .orderBy("table_name", "locality_bucket_pct")
    )


@query(
    "analyzer_filecount_hist",
    oracle="""
SELECT table_name, file_count, count(*) AS regions
FROM region_metrics
GROUP BY 1, 2
""",
    views=["region_metrics"],
)
def analyzer_filecount_hist(m: Model) -> DataFrame:
    """A4 — regions per distinct storefile count (TableAnalyzer.java:155-172)."""
    return (
        m.region_metrics.groupBy("table_name", "file_count")
        .agg(F.count(F.lit(1)).alias("regions"))
        .orderBy("table_name", "file_count")
    )


@query(
    "analyzer_distribution_hist",
    oracle="""
SELECT table_name, regions_on_server, count(*) AS servers
FROM (
  SELECT table_name, server, count(*) AS regions_on_server
  FROM region_metrics
  GROUP BY 1, 2
) per_server
GROUP BY 1, 2
""",
    views=["region_metrics"],
)
def analyzer_distribution_hist(m: Model) -> DataFrame:
    """A5 — two-level histogram: servers per region-count
    (TableAnalyzer.java:105-128)."""
    per_server = m.region_metrics.groupBy("table_name", "server").agg(
        F.count(F.lit(1)).alias("regions_on_server")
    )
    return (
        per_server.groupBy("table_name", "regions_on_server")
        .agg(F.count(F.lit(1)).alias("servers"))
        .orderBy("table_name", "regions_on_server")
    )


@query(
    "analyzer_weight_stats",
    oracle="""
SELECT server,
       floor(max(w) * 1000000.0 + 0.5) / 1000000.0 AS max_weight,
       floor(avg(w) * 1000000.0 + 0.5) / 1000000.0 AS avg_weight,
       floor(median(w) * 1000000.0 + 0.5) / 1000000.0 AS median_weight
FROM (
  SELECT server,
         CASE WHEN size_mb < 10 THEN 0.0
              ELSE (1 - locality) * 115
                   + ((size_mb - max_file_mb) / 1024.0) * (file_count * 1.33)
         END AS w
  FROM region_metrics
) t
GROUP BY server
""",
    views=["region_metrics"],
)
def analyzer_weight_stats(m: Model) -> DataFrame:
    """A9 — per-server max/avg/exact-median of compaction weights
    (CompactorServer.java:298-315; weight formula
    compactor/CompactionWeight.java:39-44).  Exact percentile matches the
    reference's mid-element median; at 100 TB switch callers to
    ``percentile_approx`` (documented parity trade)."""
    w = F.when(F.col("size_mb") < 10, F.lit(0.0)).otherwise(
        (1 - F.col("locality")) * 115
        + ((F.col("size_mb") - F.col("max_file_mb")) / 1024.0)
        * (F.col("file_count") * 1.33)
    )
    return (
        m.region_metrics.select("server", w.alias("w"))
        .groupBy("server")
        .agg(
            fround(F.max("w"), 6).alias("max_weight"),
            fround(F.avg("w"), 6).alias("avg_weight"),
            fround(F.expr("percentile(w, 0.5)"), 6).alias("median_weight"),
        )
        .orderBy("server")
    )


@query(
    "events_user_cardinality",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
""",
    views=[],
)
def events_user_cardinality(m: Model) -> DataFrame:
    """Distinct-cardinality per event type — exact form (expand +
    two-phase distinct aggregation; Catalyst plans the partial/final
    split).  The one-pass sketch variant is the oracle-gated
    ``events_hll_cardinality`` (operators/sketches.py)."""
    return m.events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_salted_rollup",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    views=[],
)
def events_salted_rollup(m: Model) -> DataFrame:
    """Skew-safe two-phase aggregation, end to end: event_type is a
    genuinely hot grouping key (a handful of values over the whole fact
    table), so the rollup salts phase 1 onto (event_type, salt) —
    spreading each hot key over 8 reducers — and merges partials by
    event_type in phase 2 (functions/partitioning.two_phase_agg; the
    explicit form of what the reference gets from one-queue-per-server
    sharding).  Decimal partials keep the sum exact under any salt
    split, so the oracle is the PLAIN group-by: salting must be
    output-invisible.  Plan shape (both exchanges, salted first)
    asserted in tests/test_plan_shape.py."""
    from ..functions.exprs import fround
    from ..functions.partitioning import two_phase_agg

    rolled = two_phase_agg(
        m.events,
        ["event_type"],
        {
            "n_events": (F.lit(1), "count"),
            "total_value": (F.col("value").cast("decimal(18,4)"), "sum"),
        },
    )
    return rolled.select(
        "event_type",
        "n_events",
        F.round(F.col("total_value"), 4).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Event-stream batch analytics — sessionization and skew detection
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 21_600  # 6 h of inactivity closes a session
_HH_NUM, _HH_DEN = 3, 2  # heavy-hitter bar: count > 3/2 x the type average


@query(
    "events_sessionize",
    oracle=f"""
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       CAST(min(tse) AS BIGINT)   AS session_start,
       CAST(max(tse) AS BIGINT)   AS session_end,
       CAST(count(*) AS BIGINT)   AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM (
  SELECT user_id, value, tse,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM (
    SELECT user_id, event_id, ts, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS tse,
           CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL THEN 1
                WHEN CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                       ) > {_SESSION_GAP_S} THEN 1
                ELSE 0 END AS is_new
    FROM events
  ) flagged
) sess
GROUP BY user_id, session_id
""",
    views=[],
)
def events_sessionize(m: Model) -> DataFrame:
    """Batch sessionization: per-user events split into sessions at
    >{6}h inactivity gaps (the gap-and-island idiom: lag -> new-session
    flag -> running sum = session id), rolled up to one row per session
    with exact-decimal value totals.  The batch counterpart of the
    streaming ``stream_session_stats`` (S9) — backfills and reprocessing
    run this form over history while the stream keeps the live edge.

    Ordering is (ts, event_id) — a deterministic total order, so both
    engines flag identical session breaks.  Plan: ONE shuffle on
    user_id for the window; the per-(user, session) rollup reuses
    user-proportional keys (no skew — a user's events are bounded) and
    aggregates map-side within the already-partitioned relation."""
    from ..functions.exprs import epoch_bigint

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tse = epoch_bigint(F.col("ts"))
    prev = F.lag(tse).over(w)
    is_new = F.when(prev.isNull() | (tse - prev > _SESSION_GAP_S), 1).otherwise(0)
    sid = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        m.events.select(
            "user_id",
            "value",
            tse.alias("tse"),
            sid.alias("session_id"),
        )
        .groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.min("tse").alias("session_start"),
            F.max("tse").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


_PATH_CAP = 8   # journey truncated to the first 8 steps of a session
_PATH_TOP = 25  # paths reported


@query(
    "events_session_paths",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
              ) IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) > {_SESSION_GAP_S} THEN 1
              ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, event_id, event_type, ts,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM flagged
),
stepped AS (
  SELECT user_id, session_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         count(*) AS n_steps
  FROM stepped WHERE rn <= {_PATH_CAP}
  GROUP BY user_id, session_id
)
SELECT path,
       CAST(count(*) AS BIGINT)   AS n_sessions,
       CAST(min(n_steps) AS BIGINT) AS n_steps
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOP}
""",
    views=[],
)
def events_session_paths(m: Model) -> DataFrame:
    """Top user-journey paths: sessions (same gap-and-island breaks as
    ``events_sessionize``) reduced to their first {8} event types joined
    with '>', counted, top-{25} by frequency (ties broken on the path
    string, so the LIMIT boundary is deterministic in both engines).

    Scale shape: the step cap is applied BEFORE the per-session
    collect, so no session contributes more than {8} rows to the path
    aggregate — a pathological million-event session costs the same as
    an 8-event one past the window.  The session window shuffles on
    user_id ONCE; the (user, session) window reuses that partitioning
    (``HashPartitioning(user_id)`` satisfies the wider clustering) with
    only a new local sort, and the final top-k is TakeOrdered, never a
    global sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from ..functions.exprs import epoch_bigint

    tse = epoch_bigint(F.col("ts"))
    prev = F.lag(tse).over(w)
    is_new = F.when(prev.isNull() | (tse - prev > _SESSION_GAP_S), 1).otherwise(0)
    sid = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    sess = m.events.select(
        "user_id", "event_id", "event_type", "ts", sid.alias("session_id")
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    )
    paths = (
        sess.select("user_id", "session_id", "event_type", rn.alias("rn"))
        .where(F.col("rn") <= _PATH_CAP)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_steps"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.min("n_steps").cast("bigint").alias("n_steps"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOP)
    )


@query(
    "events_heavy_hitters",
    oracle=f"""
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS c
  FROM events GROUP BY event_type, user_id
),
per_type AS (
  SELECT event_type, sum(c) AS total, count(*) AS n_users
  FROM per_user GROUP BY event_type
)
SELECT u.event_type, u.user_id,
       CAST(u.c AS BIGINT) AS n_events,
       {fround_sql('CAST(u.c AS DOUBLE) / t.total', 6)} AS share
FROM per_user u JOIN per_type t USING (event_type)
WHERE u.c * t.n_users * {_HH_DEN} > t.total * {_HH_NUM}
""",
    views=[],
)
def events_heavy_hitters(m: Model) -> DataFrame:
    """Heavy-hitter detection: users whose event count within a type
    exceeds {3/2}x that type's per-user average — the skew detector
    that finds the keys worth salting (feeds the two-phase plan in
    ``events_salted_rollup``; the reference meets the same problem as
    one-queue-per-server sharding, distribute/DistributorServer.java).

    The predicate is pure integer math (``2*c*n_users > 3*total``) so
    both engines agree exactly; only the reported share is a rounded
    double.  Plan: one two-phase count to per-user granularity, a
    roll-up of THAT relation to per-type totals (never a second fact
    scan), and a broadcast join back — per_type has one row per event
    type.  At 100 TB the exact form is this same plan; a Misra-Gries /
    count-min sketch drops the per-user shuffle to constant memory when
    only the top tail is needed (same trade as
    ``events_user_cardinality``'s HLL twin)."""
    from ..functions.exprs import fround as _fr

    per_user = m.events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_type = per_user.groupBy("event_type").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        per_user.join(F.broadcast(per_type), "event_type")
        .where(
            F.col("c") * F.col("n_users") * _HH_DEN
            > F.col("total") * _HH_NUM
        )
        .select(
            "event_type",
            "user_id",
            F.col("c").cast("bigint").alias("n_events"),
            _fr(F.col("c").cast("double") / F.col("total"), 6).alias("share"),
        )
    )
