"""Partitioning & skew helpers for the 100 TB layout (SURVEY.md §4).

The reference relies on HBase's physical layout: tables pre-split into
key ranges (regions), one work queue per server, salts prepended to hot
keys (common/KeyGenerator.java:27-49).  The Spark analogs:

- ``two_phase_agg`` — skewed aggregation: partial agg on (key, salt),
  final agg on key; the map-side combine Catalyst already does, made
  explicit for aggregates that shuffle raw rows (collect_list etc.).

Every partition count in the package — the session's shuffle
partitions, the batch Python stages, the stateful drains and the scan
spread — comes from one rule, ``partitions_for``: one partition per
started byte budget of input, clamped to ``[1, cap]``.  Only the budget
and the cap differ per kind of stage (README, "Partition sizing").

All helpers are deterministic (hash-based salts, no randomness) so
results are reproducible and oracle-testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partitions_for(nbytes: int, budget: int, cap: int) -> int:
    """The one partition rule: ``clamp(ceil(nbytes / budget), 1, cap)``."""
    return max(1, min(cap, -(-nbytes // budget)))


def cores(spark) -> int:
    """The session's task slots: the cap of a Python stage, and the
    count for one whose input size is unknown."""
    return spark.sparkContext.defaultParallelism


def relation_bytes(df: DataFrame) -> int | None:
    """The one input-size probe of the package: ``sizeInBytes`` of
    ``df``'s analyzed plan, optimized without the cache substitution
    (``None`` when its statistics are unavailable).  For a scan that is
    the bytes on disk scaled by the projection's width, and caching
    does not change it: ``queryExecution().optimizedPlan()`` would read
    a cached table's in-memory size instead (2.6x the scan's for
    ``documents`` at sf0.01), and the analyzed plan's own statistics
    skip column pruning, so a join reads as the product of its
    children's full widths (18.8 GB for ``docs_span_removed``'s left
    join at sf0.1, 318 517 B once optimized).  Pure metadata: the
    estimate comes from the file listing, no job runs."""
    try:
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        plan = optimizer.execute(df._jdf.queryExecution().analyzed().clone())
        return int(plan.stats().sizeInBytes())
    except Exception:
        return None


#: Input bytes (``relation_bytes``) per partition of a batch Python
#: stage (``mapInPandas``).  Each task pays a fixed Python-worker cost
#: whatever its row count, so a small input wants one task, while a
#: larger one still needs the cores for wall time: the documents
#: projection the stages read is 28 KB at sf0.01 (1 partition) and
#: 255 KB at sf0.1 (4), where fewer tasks cost wall (README,
#: "Partition sizing").
_PYTHON_STAGE_BYTES = 64 << 10


def python_stage_input(df: DataFrame, key_col: str) -> DataFrame:
    """``df`` repartitioned by ``key_col`` for the batch Python stage
    that consumes it: ``partitions_for(relation_bytes(df), 64 KiB,
    cores)``, or every core when the size is unknown."""
    size = relation_bytes(df)
    n_cores = cores(df.sparkSession)
    n = n_cores if size is None else partitions_for(size, _PYTHON_STAGE_BYTES, n_cores)
    return df.repartition(n, key_col)


def two_phase_agg(
    df: DataFrame,
    keys: list,
    aggs: dict,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe aggregation for algebraic aggregates: phase 1 groups by
    (keys, salt) — hot keys split across n_salts reducers — phase 2
    merges partials by keys.  ``aggs`` maps output column -> (col,
    'sum'|'count'|'min'|'max')."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    phase1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt")
    partials = []
    for out, (col, kind) in aggs.items():
        if kind == "count":
            partials.append(F.count(F.lit(1)).alias(out))
        elif kind == "sum":
            partials.append(F.sum(col).alias(out))
        elif kind == "min":
            partials.append(F.min(col).alias(out))
        elif kind == "max":
            partials.append(F.max(col).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate: {kind}")
    p1 = phase1.agg(*partials)
    finals = []
    for out, (_, kind) in aggs.items():
        merge = F.sum(out) if kind in ("count", "sum") else getattr(F, kind)(out)
        finals.append(merge.alias(out))
    return p1.groupBy(*keys).agg(*finals)


def spread_if_undersplit(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition a SCAN relation by ``key_col`` when it has fewer
    input splits than the work needs — sized by BOTH the cluster's
    slots and the relation's bytes, so per-partition data stays within
    executor memory at any scale (the round-6 sf10 probes measured a
    pinned-4-partition downstream spill inflating a 13 s query to a
    34 s median; the 64-partition re-measure removed it — this encodes
    that sizing rule in the plan instead of in docs).

    Target partitions = max(cores, partitions_for(relation_bytes,
    spark.sql.files.maxPartitionBytes, 4096)) — the same per-split byte
    budget the scan planner itself uses.  The split count is the
    relation's partition count (``rdd().getNumPartitions()``: planning
    only, no job), which for a scan is its input splits whether or not
    the table is cached; ``inputFiles()`` lists no file for a cached
    one, which would spread it at any scale.  At real scale a table's
    split count dwarfs the target and this is a no-op; on single-file
    local fixtures it spreads the map-side work (Arrow passes,
    collect_list partials, explodes) across cores instead of one task.
    Only meaningful directly above a scan — downstream relations
    inherit shuffle partitioning anyway.
    """
    spark = df.sparkSession
    size = relation_bytes(df)
    # JVM-side parse handles "128m"-style conf values
    max_pb = int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    by_bytes = 1 if size is None else partitions_for(size, max_pb, 4096)
    n_target = max(cores(spark), by_bytes)
    if df._jdf.rdd().getNumPartitions() < n_target:
        return df.repartition(n_target, key_col)
    return df
