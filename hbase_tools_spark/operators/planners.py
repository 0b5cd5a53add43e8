"""Planning queries (M3): the reference's act-tools re-expressed as
emitted action plans — SURVEY.md §2 IDs X11, F1/F7/F11, W1-W4/W6/W7/W9,
J4/J6/J8/J9, A10, A13, S6.

The reference's compactor/merger/splitter/distributor/flusher each build
an in-memory work queue and then issue admin RPCs; the analytics half is
a pure query over (meta ⋈ metrics), which is what we implement.  The
"act" half becomes plan rows (ordered, gated) matching its REPORT mode.

Scale notes: plans rank *per server* or *per table* (the reference's own
execution unit — one queue per RegionServer, CompactorServer.java:210),
so every window partitions by a high-cardinality key; no global sorts.
The recently-processed exclusion (F11) is an anti-join against a state
relation, the 100 TB analog of the reference's Guava TTL cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Model
from ..functions.exprs import (
    COMPACTION_WEIGHT_SQL,
    compaction_weight,
    fround,
    fround_sql,
)
from ..registry import query


# ---------------------------------------------------------------------------
# Compaction plan (compactor/CompactorServer.java:179-217)
# ---------------------------------------------------------------------------

@query(
    "compaction_plan",
    oracle=f"""
SELECT region_id, table_name, server,
       floor(w * 1000000.0 + 0.5) / 1000000.0 AS weight,
       (compaction_queue > 11) AS gated,
       row_number() OVER (PARTITION BY server ORDER BY w DESC, region_id) AS queue_pos
FROM (
  SELECT rm.region_id, rm.table_name, rm.server, rm.size_mb, sm.compaction_queue,
         {COMPACTION_WEIGHT_SQL} AS w
  FROM region_metrics rm
  JOIN server_metrics sm ON rm.server = sm.server
  WHERE rm.region_id % 13 <> 0
) t
WHERE w > 15 AND size_mb > 100
""",
    views=["region_metrics", "server_metrics"],
)
def compaction_plan(m: Model) -> DataFrame:
    """X11+F1+F11+W1+S6 — weighted, filtered, per-server-ranked compaction
    queue with backpressure gating as a plan column.

    The recently-compacted exclusion (Guava TTL cache,
    CompactorServer.java:47-58) is modeled as an anti-join against a
    deterministic 'recently processed' set (region_id % 13 == 0 stands in
    for cache contents; in production this is a state table with a
    retention delete).
    """
    rm = m.region_metrics
    recent = rm.filter(F.col("region_id") % 13 == 0).select("region_id")
    w = compaction_weight(
        F.col("size_mb"), F.col("max_file_mb"), F.col("file_count"), F.col("locality")
    )
    candidates = (
        rm.join(recent, "region_id", "left_anti")
        .withColumn("w", w)
        .filter((F.col("w") > 15) & (F.col("size_mb") > 100))
        .join(F.broadcast(m.server_metrics.select("server", "compaction_queue")), "server")
    )
    win = Window.partitionBy("server").orderBy(F.desc("w"), F.asc("region_id"))
    return candidates.select(
        "region_id",
        "table_name",
        "server",
        fround(F.col("w"), 6).alias("weight"),
        (F.col("compaction_queue") > 11).alias("gated"),
        F.row_number().over(win).alias("queue_pos"),
    )


# ---------------------------------------------------------------------------
# Flush plan (flusher/FlushController.java:43-50)
# ---------------------------------------------------------------------------

@query(
    "flush_plan",
    oracle="""
SELECT region_id, table_name, server,
       memstore_mb,
       row_number() OVER (PARTITION BY server ORDER BY memstore_mb DESC, region_id) AS queue_pos
FROM region_metrics
WHERE memstore_mb > 100
""",
    views=["region_metrics"],
)
def flush_plan(m: Model) -> DataFrame:
    """F7+W1 — memstore-pressure flush queue, ranked per server."""
    win = Window.partitionBy("server").orderBy(F.desc("memstore_mb"), F.asc("region_id"))
    return (
        m.region_metrics.filter(F.col("memstore_mb") > 100)
        .select(
            "region_id",
            "table_name",
            "server",
            "memstore_mb",
            F.row_number().over(win).alias("queue_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Split plan (splitter/TableSplitter.java:114-148)
# ---------------------------------------------------------------------------

@query(
    "split_plan",
    oracle="""
SELECT table_name, region_id, round(size_mb, 4) AS size_mb, rn AS size_rank
FROM (
  SELECT table_name, region_id, size_mb,
         max(size_mb) OVER (PARTITION BY table_name) AS max_size,
         row_number() OVER (PARTITION BY table_name ORDER BY size_mb DESC, region_id) AS rn
  FROM region_metrics
) t
WHERE rn <= 3 AND size_mb * 2 * 1.1 > max_size
""",
    views=["region_metrics"],
)
def split_plan(m: Model) -> DataFrame:
    """W3 — top-k biggest regions per table, kept while
    ``size * 2 * multiplier > max`` (TableSplitter.java:114-148,
    splitter.split.multiplier=1.1)."""
    rank_w = Window.partitionBy("table_name").orderBy(F.desc("size_mb"), F.asc("region_id"))
    max_w = Window.partitionBy("table_name")
    return (
        m.region_metrics.select(
            "table_name",
            "region_id",
            "size_mb",
            F.max("size_mb").over(max_w).alias("max_size"),
            F.row_number().over(rank_w).alias("size_rank"),
        )
        .filter((F.col("size_rank") <= 3) & (F.col("size_mb") * 2 * 1.1 > F.col("max_size")))
        .select("table_name", "region_id", F.round("size_mb", 4).alias("size_mb"), "size_rank")
    )


# ---------------------------------------------------------------------------
# Merge plan (merger/Merger.java:190-257, QualityMerge.java:70-84)
# ---------------------------------------------------------------------------

_MERGE_MIN_MB = 500.0     # merger.regions.min-storefile-size-mb analog
_MERGE_MAX_MB = 3000.0    # merger.regions.max-storefile-size-mb analog
_MERGED_MAX_MB = 4000.0   # merged-region cap analog


@query(
    "merge_plan",
    oracle=f"""
SELECT table_name, region_a, region_b,
       round(size_a, 4) AS size_a, round(size_b, 4) AS size_b,
       round(size_a + size_b, 4) AS merged_size
FROM (
  SELECT table_name, region_id AS region_a,
         lead(region_id) OVER w AS region_b,
         size_a,
         lead(size_a) OVER w AS size_b,
         end_key,
         lead(start_key) OVER w AS next_start,
         row_number() OVER w AS rn
  FROM (
    SELECT mr.table_name, mr.region_id, mr.start_key, mr.end_key,
           coalesce(rm.size_mb, 0.0) AS size_a
    FROM meta_regions mr
    LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
  ) j
  WINDOW w AS (PARTITION BY table_name ORDER BY start_key)
) p
WHERE region_b IS NOT NULL
  AND end_key = next_start
  AND rn % 2 = 1
  AND (size_a <= {_MERGE_MIN_MB} OR size_b <= {_MERGE_MIN_MB})
  AND size_a <= {_MERGE_MAX_MB} AND size_b <= {_MERGE_MAX_MB}
  AND size_a + size_b <= {_MERGED_MAX_MB}
""",
    views=["meta_regions", "region_metrics"],
)
def merge_plan(m: Model) -> DataFrame:
    """J4+W7+W9+J1 — adjacent-pair merge candidates: regions sorted by
    start key per table, lead()-paired, adjacency checked
    (RegionInfo.areAdjacent ≙ end_key == next start_key), size rules from
    QualityMerge; odd-rank pairing mirrors the reference's sequential
    non-overlapping pass."""
    return _merge_pairs(_merge_state(m)).select(
        "table_name",
        "region_a",
        "region_b",
        F.round("size_a", 4).alias("size_a"),
        F.round("size_b", 4).alias("size_b"),
        F.round(F.col("size_a") + F.col("size_b"), 4).alias("merged_size"),
    )


# ---------------------------------------------------------------------------
# Multi-pass merge (merger/Merger.java:131-150: loop while work remains,
# re-reading mutated region state each pass)
# ---------------------------------------------------------------------------

_MERGE_PASSES = 8  # pass bound keeps the operator oracle-expressible;
                   # fixtures reach the empty-plan fixpoint well before
                   # it (asserted in tests/test_simulation.py)


def _merge_state(m: Model) -> DataFrame:
    """Region state relation the merger loop mutates: bounds + size."""
    return (
        m.meta_regions.join(
            m.region_metrics.select("region_id", "size_mb"), "region_id", "left"
        )
        .select(
            "region_id",
            "table_name",
            "start_key",
            "end_key",
            F.coalesce("size_mb", F.lit(0.0)).alias("size_mb"),
        )
    )


def _merge_pairs(state: DataFrame) -> DataFrame:
    """One merge pass over a state relation: adjacent odd-rank pairs
    passing the QualityMerge size rules.  Carries ``end_b`` (absorbed
    region's end) so the pass can be applied without a second lookup."""
    w = Window.partitionBy("table_name").orderBy("start_key")
    paired = state.select(
        "table_name",
        F.col("region_id").alias("region_a"),
        F.lead("region_id").over(w).alias("region_b"),
        F.col("size_mb").alias("size_a"),
        F.lead("size_mb").over(w).alias("size_b"),
        "end_key",
        F.lead("start_key").over(w).alias("next_start"),
        F.lead("end_key").over(w).alias("end_b"),
        F.row_number().over(w).alias("rn"),
    )
    return paired.filter(
        F.col("region_b").isNotNull()
        & (F.col("end_key") == F.col("next_start"))
        & (F.col("rn") % 2 == 1)
        & ((F.col("size_a") <= _MERGE_MIN_MB) | (F.col("size_b") <= _MERGE_MIN_MB))
        & (F.col("size_a") <= _MERGE_MAX_MB)
        & (F.col("size_b") <= _MERGE_MAX_MB)
        & (F.col("size_a") + F.col("size_b") <= _MERGED_MAX_MB)
    )


def _merge_pass_oracle(n_passes: int) -> str:
    """Unrolled n-pass merge loop in portable SQL (the bounded oracle
    form, same device as the label-propagation oracle)."""
    # leading comma: continues the CTE list opened by the registry's
    # view prefix (same device as the neardup_clusters oracle)
    # AS MATERIALIZED: each state/plan level is referenced 2-3 times by
    # the next level; without it DuckDB inlines the CTE chain and the
    # oracle blows up exponentially (observed OOM at 8 passes).
    parts = [f""",
state0 AS MATERIALIZED (
  SELECT mr.region_id, mr.table_name, mr.start_key, mr.end_key,
         coalesce(rm.size_mb, 0.0) AS size_mb
  FROM meta_regions mr
  LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
)"""]
    for i in range(1, n_passes + 1):
        parts.append(f"""
plan{i} AS MATERIALIZED (
  SELECT table_name, region_a, region_b, size_a, size_b, end_b
  FROM (
    SELECT table_name, region_id AS region_a,
           lead(region_id) OVER w AS region_b,
           size_mb AS size_a,
           lead(size_mb) OVER w AS size_b,
           end_key,
           lead(start_key) OVER w AS next_start,
           lead(end_key) OVER w AS end_b,
           row_number() OVER w AS rn
    FROM state{i - 1}
    WINDOW w AS (PARTITION BY table_name ORDER BY start_key)
  ) p
  WHERE region_b IS NOT NULL
    AND end_key = next_start
    AND rn % 2 = 1
    AND (size_a <= {_MERGE_MIN_MB} OR size_b <= {_MERGE_MIN_MB})
    AND size_a <= {_MERGE_MAX_MB} AND size_b <= {_MERGE_MAX_MB}
    AND size_a + size_b <= {_MERGED_MAX_MB}
),
state{i} AS MATERIALIZED (
  SELECT s.region_id, s.table_name, s.start_key,
         coalesce(p.end_b, s.end_key) AS end_key,
         coalesce(p.size_a + p.size_b, s.size_mb) AS size_mb
  FROM state{i - 1} s
  LEFT JOIN plan{i} p ON s.region_id = p.region_a
  WHERE s.region_id NOT IN (SELECT region_b FROM plan{i})
)""")
        # NOT IN is null-safe here: plan rows always have region_b
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS pass_id, table_name, region_a, region_b, size_a, size_b"
        f" FROM plan{i}"
        for i in range(1, n_passes + 1)
    )
    return (
        ",".join(parts)
        + f"""
SELECT pass_id, table_name, region_a, region_b,
       round(size_a, 4) AS size_a, round(size_b, 4) AS size_b,
       round(size_a + size_b, 4) AS merged_size
FROM (
{union}
) allp
"""
    )


@query(
    "merge_plan_multipass",
    oracle=_merge_pass_oracle(_MERGE_PASSES),
    views=["meta_regions", "region_metrics"],
)
def merge_plan_multipass(m: Model) -> DataFrame:
    """Multi-pass merge plan: the reference's fixed-point merger loop
    (merger/Merger.java:131-150) as emit→apply→re-emit over the region
    state, bounded at {8} passes for oracle parity.

    The fixpoint has NO cross-table dependency (every pass windows by
    table_name), so the whole loop runs partition-locally: one shuffle
    on table_name, then `applyInPandas` iterates passes inside each
    group — one stage total, vs 2 driver-synced jobs per pass for the
    generic loop.  This is the 100 TB shape too: tables are the
    parallelism unit (thousands of groups), and a group is one table's
    region list (~1e5 rows max), comfortably in-memory."""
    import pandas as pd

    min_mb, max_mb, merged_max = _MERGE_MIN_MB, _MERGE_MAX_MB, _MERGED_MAX_MB
    n_passes = _MERGE_PASSES

    def table_passes(pdf: pd.DataFrame) -> pd.DataFrame:
        regions = pdf.sort_values("start_key", kind="mergesort")
        rows = list(
            regions[["region_id", "start_key", "end_key", "size_mb"]]
            .itertuples(index=False, name=None)
        )
        table = pdf["table_name"].iat[0]
        out = []
        for pass_id in range(1, n_passes + 1):
            merged, nxt = [], []
            # strict stride-2 pairing over start_key order (rn % 2 == 1):
            # an ineligible pair does NOT shift later pairs
            for i in range(0, len(rows), 2):
                if i + 1 < len(rows):
                    (ra, sa, ea, za), (rb, sb, eb, zb) = rows[i], rows[i + 1]
                    if (
                        ea == sb
                        and (za <= min_mb or zb <= min_mb)
                        and za <= max_mb
                        and zb <= max_mb
                        and za + zb <= merged_max
                    ):
                        merged.append((pass_id, table, ra, rb, za, zb))
                        nxt.append((ra, sa, eb, za + zb))
                        continue
                nxt.extend(rows[i : i + 2])
            rows = sorted(nxt, key=lambda r: r[1])
            out.extend(merged)
            if not merged:
                break
        return pd.DataFrame(
            out,
            columns=[
                "pass_id", "table_name", "region_a", "region_b",
                "size_a", "size_b",
            ],
        )

    plans = _merge_state(m).groupBy("table_name").applyInPandas(
        table_passes,
        schema=(
            "pass_id int, table_name string, region_a long, "
            "region_b long, size_a double, size_b double"
        ),
    )
    return plans.select(
        "pass_id",
        "table_name",
        "region_a",
        "region_b",
        F.round("size_a", 4).alias("size_a"),
        F.round("size_b", 4).alias("size_b"),
        F.round(F.col("size_a") + F.col("size_b"), 4).alias("merged_size"),
    )


# ---------------------------------------------------------------------------
# Multi-pass split (splitter/TableSplitter.java:40-91: loop while the
# table has fewer regions than the requested size, re-reading region
# counts and loads each step)
# ---------------------------------------------------------------------------

_SPLIT_TARGET_FACTOR = 3  # newSize = 3 x current count (the reference
                          # takes newSize as an operator input; a fixed
                          # factor keeps the query self-contained and,
                          # at 3, exercises BOTH loop branches)
_SPLIT_PASSES = 6         # pass bound for oracle parity (reference
                          # RETRIES=20, TableSplitter.java:21; fixtures
                          # reach the target in 3 — asserted in tests)
_SPLIT_MULT = 1.1         # splitter.split.multiplier default
_SPLIT_DIV = 1.1          # splitter.divide.multiplier default


def _split_pass_oracle(n_passes: int) -> str:
    """Unrolled n-pass splitter loop in portable SQL (same bounded-
    fixpoint device as :func:`_merge_pass_oracle`).

    Each pass is TableSplitter's step: full-table split (every region
    halves, TableSplitter.java:54-61) while doubling still undershoots
    ``newSize``, else split the biggest regions (sorted by storefile
    size desc, capped at the remaining deficit, take-while
    ``rsize * 2 * divideMultiplier > maxSize``,
    TableSplitter.java:114-148).  Because the list is size-descending
    and the predicate depends only on the (integer) size, take-while
    equals filter — which makes the step window-expressible.  Region
    sizes are integer MB in the reference (``getLongValue``), hence the
    GREATEST(1, FLOOR(..)) rank key; split children are modeled as two
    half-size regions with derived ids (``rid.1``/``rid.2``)."""
    parts = [f""",
sstate0 AS MATERIALIZED (
  SELECT CAST(mr.region_id AS VARCHAR) AS rid, mr.table_name,
         coalesce(rm.size_mb, 0.0) AS size_mb
  FROM meta_regions mr
  LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
),
starget AS MATERIALIZED (
  SELECT table_name, {_SPLIT_TARGET_FACTOR} * count(*) AS new_size
  FROM sstate0 GROUP BY table_name
)"""]
    for i in range(1, n_passes + 1):
        parts.append(f"""
sinfo{i} AS (
  SELECT s.rid, s.table_name, s.size_mb,
         GREATEST(1, CAST(FLOOR(s.size_mb) AS BIGINT)) AS rsize,
         MAX(GREATEST(1, CAST(FLOOR(s.size_mb) AS BIGINT)))
           OVER (PARTITION BY s.table_name) AS max_rsize,
         ROW_NUMBER() OVER (
           PARTITION BY s.table_name
           ORDER BY GREATEST(1, CAST(FLOOR(s.size_mb) AS BIGINT)) DESC,
                    s.rid
         ) AS rnk,
         COUNT(*) OVER (PARTITION BY s.table_name) AS c,
         t.new_size
  FROM sstate{i - 1} s JOIN starget t USING (table_name)
),
splan{i} AS MATERIALIZED (
  SELECT rid, table_name, size_mb, 'full' AS mode
  FROM sinfo{i}
  WHERE c < new_size AND c * 2 * {_SPLIT_MULT} < new_size
  UNION ALL
  SELECT rid, table_name, size_mb, 'biggest' AS mode
  FROM sinfo{i}
  WHERE c < new_size AND NOT (c * 2 * {_SPLIT_MULT} < new_size)
    AND rnk <= new_size - c
    AND rsize * 2 * {_SPLIT_DIV} > max_rsize
),
sstate{i} AS MATERIALIZED (
  SELECT s.rid, s.table_name, s.size_mb FROM sstate{i - 1} s
  WHERE s.rid NOT IN (SELECT rid FROM splan{i})
  UNION ALL
  SELECT rid || '.1', table_name, size_mb / 2 FROM splan{i}
  UNION ALL
  SELECT rid || '.2', table_name, size_mb / 2 FROM splan{i}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS pass_id, table_name, rid, size_mb, mode FROM splan{i}"
        for i in range(1, n_passes + 1)
    )
    return (
        ",".join(parts)
        + f"""
SELECT pass_id, table_name, rid AS region_path, mode,
       {fround_sql('size_mb', 4)} AS parent_size,
       {fround_sql('size_mb / 2', 4)} AS child_size
FROM (
{union}
) allp
"""
    )


@query(
    "split_plan_multipass",
    oracle=_split_pass_oracle(_SPLIT_PASSES),
    views=["meta_regions", "region_metrics"],
)
def split_plan_multipass(m: Model) -> DataFrame:
    """Multi-pass split plan: the reference's splitter loop
    (splitter/TableSplitter.java:40-91) as emit→apply→re-emit over the
    region state, bounded at {6} passes for oracle parity.

    Per step: while the table is far below target
    (``count * 2 * splitMultiplier < newSize``) every region splits at
    its midpoint; near the target, only the biggest regions split —
    size-descending, capped at the deficit, while
    ``rsize * 2 * divideMultiplier > maxSize`` (integer-MB sizes, as the
    reference reads them).  A split replaces a region with two
    half-size children (``rid.1``/``rid.2``).

    Like :func:`merge_plan_multipass`, the fixpoint has no cross-table
    dependency, so the whole loop runs partition-locally after ONE
    shuffle on table_name — `applyInPandas` iterates the passes inside
    each group.  At 100 TB tables are the parallelism unit and one
    group is one table's region list, bounded by 3x its region count."""
    import math

    import pandas as pd

    factor, n_passes = _SPLIT_TARGET_FACTOR, _SPLIT_PASSES
    s_mult, d_mult = _SPLIT_MULT, _SPLIT_DIV

    def table_passes(pdf: pd.DataFrame) -> pd.DataFrame:
        table = pdf["table_name"].iat[0]
        rows = [
            (str(rid), float(sz))
            for rid, sz in zip(pdf["region_id"], pdf["size_mb"])
        ]
        new_size = factor * len(rows)
        out = []
        for pass_id in range(1, n_passes + 1):
            c = len(rows)
            if c >= new_size:
                break
            if c * 2 * s_mult < new_size:
                split, mode = list(rows), "full"
            else:
                mode = "biggest"
                srt = sorted(
                    rows, key=lambda r: (-max(1, math.floor(r[1])), r[0])
                )
                max_rsize = max(1, math.floor(srt[0][1]))
                split = []
                for rid, sz in srt[: new_size - c]:
                    if max(1, math.floor(sz)) * 2 * d_mult > max_rsize:
                        split.append((rid, sz))
                    else:
                        break  # size-sorted: later regions only smaller
            out.extend((pass_id, table, rid, mode, sz) for rid, sz in split)
            chosen = {rid for rid, _ in split}
            rows = [r for r in rows if r[0] not in chosen] + [
                (rid + tag, sz / 2)
                for rid, sz in split
                for tag in (".1", ".2")
            ]
        return pd.DataFrame(
            out,
            columns=["pass_id", "table_name", "region_path", "mode", "size_mb"],
        )

    plans = (
        _merge_state(m)
        .select("region_id", "table_name", "size_mb")
        .groupBy("table_name")
        .applyInPandas(
            table_passes,
            schema=(
                "pass_id int, table_name string, region_path string, "
                "mode string, size_mb double"
            ),
        )
    )
    return plans.select(
        "pass_id",
        "table_name",
        "region_path",
        "mode",
        fround(F.col("size_mb"), 4).alias("parent_size"),
        fround(F.col("size_mb") / 2, 4).alias("child_size"),
    )


@query(
    "mergeable_region_count",
    oracle=f"""
SELECT table_name,
       CASE WHEN small = total THEN total - 1 ELSE small END AS mergeable
FROM (
  SELECT mr.table_name,
         count(*) AS total,
         CAST(sum(CASE WHEN coalesce(rm.size_mb, 0.0) <= {_MERGE_MIN_MB} THEN 1 ELSE 0 END) AS BIGINT) AS small
  FROM meta_regions mr
  LEFT JOIN region_metrics rm ON mr.region_id = rm.region_id
  GROUP BY mr.table_name
) t
""",
    views=["meta_regions", "region_metrics"],
)
def mergeable_region_count(m: Model) -> DataFrame:
    """A10 — per-table count of small regions; if *all* are small the
    reference keeps one (count-1) (merger/MergerService.java:50-103)."""
    joined = m.meta_regions.join(
        m.region_metrics.select("region_id", "size_mb"), "region_id", "left"
    )
    small = F.when(F.coalesce(F.col("size_mb"), F.lit(0.0)) <= _MERGE_MIN_MB, 1).otherwise(0)
    agg = joined.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("total"), F.sum(small).alias("small")
    )
    return agg.select(
        "table_name",
        F.when(F.col("small") == F.col("total"), F.col("total") - 1)
        .otherwise(F.col("small"))
        .alias("mergeable"),
    )


@query(
    "merged_span_recovery",
    oracle="""
SELECT mr.table_name, mr.region_id, mr.start_key, mr.end_key
FROM meta_regions mr
JOIN (
  SELECT start_key, end_key FROM meta_regions WHERE region_id % 5 = 0
) spans ON mr.start_key = spans.start_key AND mr.end_key = spans.end_key
""",
    views=["meta_regions"],
)
def merged_span_recovery(m: Model) -> DataFrame:
    """J6 — two-key equi-join: find regions whose (start,end) span equals
    a recorded merged span (merger/Merger.java:290-301)."""
    spans = m.meta_regions.filter(F.col("region_id") % 5 == 0).select(
        "start_key", "end_key"
    )
    return m.meta_regions.join(spans, ["start_key", "end_key"]).select(
        "table_name", "region_id", "start_key", "end_key"
    )


@query(
    "snapshot_merge_guard",
    oracle="""
SELECT t.table_name,
       coalesce(s.snapshots, 0) AS snapshots,
       (s.table_name IS NULL) AS merge_allowed
FROM tables_dim t
LEFT JOIN (
  SELECT table_name, count(*) AS snapshots FROM snapshots GROUP BY 1
) s ON t.table_name = s.table_name
""",
    views=["tables_dim", "snapshots"],
)
def snapshot_merge_guard(m: Model) -> DataFrame:
    """J9 — refuse merge when the table has snapshots
    (merger/Merger.java:117-129)."""
    snap = m.snapshots.groupBy("table_name").agg(F.count(F.lit(1)).alias("snapshots"))
    return m.tables_dim.join(snap, "table_name", "left").select(
        "table_name",
        F.coalesce(F.col("snapshots"), F.lit(0)).alias("snapshots"),
        F.col("snapshots").isNull().alias("merge_allowed"),
    )


# ---------------------------------------------------------------------------
# Distribution planner (distributor/DistributeTableWeight.java:26-47,
# TableDistributor.java:72-114)
# ---------------------------------------------------------------------------

_DENSIFIED_COUNTS_SQL = """
SELECT td.table_name, s.server, coalesce(c.cnt, 0) AS cnt
FROM tables_dim td
CROSS JOIN servers s
LEFT JOIN (
  SELECT table_name, server, count(*) AS cnt FROM meta_regions GROUP BY 1, 2
) c ON td.table_name = c.table_name AND s.server = c.server
"""


def _densified_counts(m: Model) -> DataFrame:
    counts = m.meta_regions.groupBy("table_name", "server").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        m.tables_dim.crossJoin(F.broadcast(m.servers))
        .join(counts, ["table_name", "server"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )


@query(
    "distribution_weight",
    oracle=f"""
SELECT table_name,
       CAST(sum(CASE WHEN cnt - target > 0 THEN cnt - target ELSE 0 END) AS BIGINT) AS moves,
       CAST(sum(cnt) AS BIGINT) AS total_regions,
       count(*) AS servers
FROM (
  SELECT table_name, server, cnt,
         CAST(floor(sum(cnt) OVER (PARTITION BY table_name) * 1.0
                    / count(*) OVER (PARTITION BY table_name)) AS BIGINT)
         + CASE WHEN row_number() OVER (PARTITION BY table_name ORDER BY cnt DESC, server)
                     <= sum(cnt) OVER (PARTITION BY table_name)
                        % count(*) OVER (PARTITION BY table_name)
                THEN 1 ELSE 0 END AS target
  FROM ({_DENSIFIED_COUNTS_SQL}) dc
) t
GROUP BY table_name
""",
    views=["tables_dim", "servers", "meta_regions"],
)
def distribution_weight(m: Model) -> DataFrame:
    """A13+J8 — moves-to-balance in closed form.

    The reference simulates moving one region from the fullest to the
    emptiest server until spread <= 1
    (DistributeTableWeight.java:26-47); the fixed point assigns each
    server floor(avg) or ceil(avg) regions (ceil to the currently
    fullest), so the move count is the total surplus above that target.
    Property-tested against a port of the greedy loop in
    tests/test_planners.py.
    """
    dc = _densified_counts(m)
    part = Window.partitionBy("table_name")
    rank_w = Window.partitionBy("table_name").orderBy(F.desc("cnt"), F.asc("server"))
    with_target = dc.select(
        "table_name",
        "cnt",
        (
            F.floor(F.sum("cnt").over(part) * 1.0 / F.count(F.lit(1)).over(part)).cast("bigint")
            + F.when(
                F.row_number().over(rank_w)
                <= F.sum("cnt").over(part) % F.count(F.lit(1)).over(part),
                1,
            ).otherwise(0)
        ).alias("target"),
    )
    surplus = F.when(F.col("cnt") - F.col("target") > 0, F.col("cnt") - F.col("target")).otherwise(0)
    return with_target.groupBy("table_name").agg(
        F.sum(surplus).alias("moves"),
        F.sum("cnt").alias("total_regions"),
        F.count(F.lit(1)).alias("servers"),
    )


@query(
    "distribution_candidates",
    oracle=f"""
SELECT table_name, moves
FROM (
  SELECT table_name,
         CAST(sum(CASE WHEN cnt - target > 0 THEN cnt - target ELSE 0 END) AS BIGINT) AS moves
  FROM (
    SELECT table_name, server, cnt,
           CAST(floor(sum(cnt) OVER (PARTITION BY table_name) * 1.0
                      / count(*) OVER (PARTITION BY table_name)) AS BIGINT)
           + CASE WHEN row_number() OVER (PARTITION BY table_name ORDER BY cnt DESC, server)
                       <= sum(cnt) OVER (PARTITION BY table_name)
                          % count(*) OVER (PARTITION BY table_name)
                  THEN 1 ELSE 0 END AS target
    FROM ({_DENSIFIED_COUNTS_SQL}) dc
  ) t
  GROUP BY table_name
) w
WHERE moves > 5
ORDER BY moves DESC, table_name
LIMIT 15
""",
    views=["tables_dim", "servers", "meta_regions"],
)
def distribution_candidates(m: Model) -> DataFrame:
    """W2+W6 — tables worth redistributing (weight border 5), sorted desc,
    capped at 15 per cycle (distributor.recalculate.table.count)."""
    return (
        distribution_weight(m)
        .filter(F.col("moves") > 5)
        .orderBy(F.desc("moves"), F.asc("table_name"))
        .select("table_name", "moves")
        .limit(15)
    )


@query(
    "busiest_emptiest",
    oracle=f"""
SELECT b.table_name,
       b.server AS busiest_server, b.cnt AS busiest_regions,
       e.server AS emptiest_server, e.cnt AS emptiest_regions
FROM (
  SELECT table_name, server, cnt,
         row_number() OVER (PARTITION BY table_name ORDER BY cnt DESC, server) AS rn
  FROM ({_DENSIFIED_COUNTS_SQL}) dc
) b
JOIN (
  SELECT table_name, server, cnt,
         row_number() OVER (PARTITION BY table_name ORDER BY cnt ASC, server) AS rn
  FROM ({_DENSIFIED_COUNTS_SQL}) dc2
) e ON b.table_name = e.table_name AND b.rn = 1 AND e.rn = 1
""",
    views=["tables_dim", "servers", "meta_regions"],
)
def busiest_emptiest(m: Model) -> DataFrame:
    """W4 — argmax/argmin server per table with deterministic tie-break
    (TableDistributor.java:99-114)."""
    dc = _densified_counts(m)
    desc_w = Window.partitionBy("table_name").orderBy(F.desc("cnt"), F.asc("server"))
    asc_w = Window.partitionBy("table_name").orderBy(F.asc("cnt"), F.asc("server"))
    busiest = (
        dc.withColumn("rn", F.row_number().over(desc_w))
        .filter(F.col("rn") == 1)
        .select(
            "table_name",
            F.col("server").alias("busiest_server"),
            F.col("cnt").alias("busiest_regions"),
        )
    )
    emptiest = (
        dc.withColumn("rn", F.row_number().over(asc_w))
        .filter(F.col("rn") == 1)
        .select(
            "table_name",
            F.col("server").alias("emptiest_server"),
            F.col("cnt").alias("emptiest_regions"),
        )
    )
    return busiest.join(emptiest, "table_name").select(
        "table_name",
        "busiest_server",
        "busiest_regions",
        "emptiest_server",
        "emptiest_regions",
    )
