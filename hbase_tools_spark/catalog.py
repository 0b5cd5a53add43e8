"""Catalog: load fixture parquet + register the derived model relations.

Spark analog of the reference's source layer -- the hbase:meta scan
(meta/MetaTableInfoService.java:54-72), ClusterMetrics traversal
(analyze/TableAnalyzer.java:174-203) and technical-meta history read
(meta/TechnicalMeta.java:130-158) all become plain DataFrame reads.
Column-family pruning / scanner caching from the reference
(MetaTableInfoService.java:58-62) map to Catalyst column pruning and the
vectorized parquet reader -- free, nothing to hand-roll.

At 100 TB the base tables would be partitioned parquet/Delta; every
downstream operator only ever touches them through ``spark.table`` so a
swap of the storage layer (HBase connector snapshot, Delta, Iceberg) is a
one-file change here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.partitioning import cores, partitions_for, relation_bytes
from .model import BASE_TABLES, DERIVED_VIEWS, view_sql

# Fixture parquet stores timestamps as INT64 TIMESTAMP(NANOS), which the
# Spark 4 vectorized reader rejects; we read them as nanos-longs
# (spark.sql.legacy.parquet.nanosAsLong) and restore TimestampType with
# exact integer division (ns DIV 1000 == DuckDB's ns->us truncation).
_TS_COLUMNS = {
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
    "events": ["ts"],
}


@dataclass
class Model:
    """Handle to the registered relations for one scale-factor dir."""

    spark: SparkSession
    sf_dir: str

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def __getattr__(self, name: str):
        if name in BASE_TABLES or name in DERIVED_VIEWS:
            return self.spark.table(name)
        raise AttributeError(name)


#: Post-shuffle partition sizing: parquet bytes expand roughly this
#: factor into in-memory/shuffle rows (dictionary-encoded strings
#: decode, derived relations multiply) — conservative so build sides
#: of shuffled-hash joins stay within task memory at any scale.
_SHUFFLE_EXPANSION = 6
_SHUFFLE_TARGET_BYTES = 64 << 20  # ~64 MB per post-shuffle partition
#: Model bytes per core a shuffle is spread over below that memory
#: bound: sf0.01 (1.9 MB) runs one task per shuffle, sf0.1 (17.5 MB)
#: every core of a 4-core session (README, "Partition sizing").
_SHUFFLE_CORE_BYTES = 4 << 20


def _shuffle_partitions(spark: SparkSession, model_bytes: int) -> int:
    """Shuffle partitions of a model of ``model_bytes`` on disk: the
    larger of a parallelism term, ``partitions_for(bytes, 4 MiB,
    cores)``, and a memory term, ``partitions_for(bytes·expansion,
    64 MB, 4096)``.  A fixture-scale model gets one partition, since
    each shuffle task costs a fixed scheduling floor that dominates on
    small inputs; sf0.1 gets the cores, where two partitions cost wall
    time; once bytes·expansion / 64 MB passes the core count (45 MB on
    4 cores) the memory term rules (a 10 GB model gets 960), so
    shuffled-hash-join build sides stay bounded per task."""
    return max(
        partitions_for(model_bytes, _SHUFFLE_CORE_BYTES, cores(spark)),
        partitions_for(
            model_bytes * _SHUFFLE_EXPANSION, _SHUFFLE_TARGET_BYTES, 4096
        ),
    )


def _autosize_shuffle_partitions(
    spark: SparkSession, model_bytes: int | None
) -> None:
    """Set ``spark.sql.shuffle.partitions`` from the DATA, not the
    session's posture: ``_shuffle_partitions``, in both directions, so
    a fixture-scale model lowers whatever the session asked for and a
    big one raises it instead of running out of memory (the sf10
    certify sweep OOMed at 8 g while partitions — and hence
    shuffled-hash-join build sides — were a pinned session knob).  The
    ``shuffle_hash`` hint sites in llm/dedup.py and llm/corpus.py
    assume exactly this rule: their build sides are bounded per
    partition BECAUSE partitions scale with input bytes.  Unknown bytes
    leave the session's setting alone."""
    if model_bytes is None:
        return
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_shuffle_partitions(spark, model_bytes))
    )


#: Largest model (on-disk bytes of its base tables) that runs
#: interpreted.  Measured, not derived: summed over both perfbench
#: workloads, warm-pass CPU favours interpreted at 70 MiB, is about even
#: at 117 MiB and favours compiled at 233 MiB; the cut sits just below
#: the even point (README, "Execution posture", has the runs).
_INTERPRETED_MAX_BYTES = 100 << 20

#: Codegen SQL confs of the two execution postures; ``compiled`` is
#: Spark's default.  Both keys are set on every registration, in either
#: direction, because one session may load models of different sizes.
_CODEGEN_POSTURES = {
    "interpreted": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    },
    "compiled": {
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.codegen.factoryMode": "FALLBACK",
    },
}


def _codegen_posture(model_bytes: int | None) -> str:
    """``interpreted`` for models of at most ``_INTERPRETED_MAX_BYTES``
    on disk, else ``compiled``; an unknown size is ``compiled``, Spark's
    default.  Generated classes belong to one plan each: on a small
    model a request spends more CPU Janino-compiling them (and
    re-compiling what the 100-entry codegen cache evicted, then
    JIT-compiling the new classes) than processing rows, while
    interpreted evaluation is one set of JVM methods shared by every
    query that warms up once per process.  On a large model rows
    dominate and compiled code pays for itself.  Both confs are needed:
    with whole-stage codegen off alone, expression-level codegen
    compiles many smaller classes instead."""
    if model_bytes is not None and model_bytes <= _INTERPRETED_MAX_BYTES:
        return "interpreted"
    return "compiled"


#: SQL confs every model runs with, whatever its size (README,
#: "Execution posture").  AQE off: no plan relies on runtime
#: re-planning (every dimension join is an explicit broadcast, pinned by
#: the plan-shape tests), and its per-stage driver round cost 25-35 %
#: of wall on sub-second queries.  Constraint propagation off: plans
#: carry their filters explicitly, and deriving constraints cost ~35 ms
#: of optimizer time per join-heavy query.  nanosAsLong and UTC: see
#: ``_TS_COLUMNS`` (DuckDB reads parquet timestamps as naive UTC).
_SQL_POSTURE = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def load_model(spark: SparkSession, sf_dir: str) -> Model:
    """Register base fixture tables + derived relations as temp views.

    Idempotent (CREATE OR REPLACE); cheap -- registration is metadata
    only, nothing is scanned until an action runs.  Sets every SQL conf
    of the execution posture: ``_SQL_POSTURE``, and the shuffle
    partitions and codegen posture from the model's bytes, the sum of
    ``relation_bytes`` over the base views just registered (their bytes
    on disk; ``None`` if any is unknown), via
    ``_autosize_shuffle_partitions`` and ``_codegen_posture``.
    """
    # Registration is idempotent but not free (schema reads + one
    # catalog round-trip per view); skip it when this session already
    # has this sf_dir registered — also keeps any cached tables warm.
    if spark.conf.get("spark.hbase_tools.model_dir", "") == sf_dir:
        return Model(spark, sf_dir)
    for key, value in _SQL_POSTURE.items():
        spark.conf.set(key, value)
    sizes = []
    for name in BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        for ts_col in _TS_COLUMNS.get(name, []):
            dtype = dict(df.dtypes).get(ts_col)
            if dtype == "bigint":  # ns-encoded (sf0.001/sf0.01 fixtures)
                df = df.withColumn(
                    ts_col,
                    F.timestamp_micros(F.expr(f"`{ts_col}` DIV 1000")),
                )
            elif dtype == "timestamp_ntz":  # µs NTZ (sf0.1 fixtures)
                df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df.createOrReplaceTempView(name)
        sizes.append(relation_bytes(df))
    model_bytes = None if None in sizes else sum(sizes)
    _autosize_shuffle_partitions(spark, model_bytes)
    for key, value in _CODEGEN_POSTURES[_codegen_posture(model_bytes)].items():
        spark.conf.set(key, value)
    for name in DERIVED_VIEWS:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS\n{view_sql(name, 'spark')}"
        )
    spark.conf.set("spark.hbase_tools.model_dir", sf_dir)
    return Model(spark, sf_dir)


def warm(m: Model) -> None:
    """Hold the model as a long-lived deployment does: columnar-cache
    the base tables and replace each derived view with an eager
    ``localCheckpoint``.  The reference memoizes its meta scan the same
    way (MetaTableHolder.needUpdate); truncating the view lineage also
    spares every query the re-analysis of the deep view SQL (~1 s of
    planning against ~40 ms of execution, measured at sf0.1)."""
    for t in BASE_TABLES:
        m.spark.catalog.cacheTable(t)
        m.spark.table(t).count()
    for t in DERIVED_VIEWS:
        m.spark.table(t).localCheckpoint(eager=True).createOrReplaceTempView(t)


def assert_view_matches_fixture(m: Model, view: str) -> None:
    """Guard for serving paths whose persisted artifact is built from
    the ON-DISK fixture (streaming ingests cannot read temp views): the
    registered view must BE that fixture, or the artifact silently
    diverges from what queries see.  Compares analyzed-plan semantic
    hashes and raises on mismatch; re-reading the fixture costs one
    parquet schema-inference job, so the stream stores call it once per
    build, not per request.  Only valid for views load_model registers as
    plain parquet reads (no timestamp normalization), e.g. documents
    and embeddings."""
    disk = m.spark.read.parquet(os.path.join(m.sf_dir, f"{view}.parquet"))
    h = lambda df: df._jdf.queryExecution().analyzed().semanticHash()  # noqa: E731
    if h(m.spark.table(view)) != h(disk):
        raise ValueError(
            f"the registered '{view}' view does not match the on-disk "
            f"fixture at {m.sf_dir}/{view}.parquet; the stream-ingested "
            "artifact would diverge from the view — re-register the "
            "fixture view (load_model) or use the batch path"
        )
