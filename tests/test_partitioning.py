"""Tests for the skew/partitioning helpers: results must equal their
unsalted equivalents, and the partition-sizing contracts must hold."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.functions.partitioning import two_phase_agg
from tests.conftest import SF_DIR


def _disk_bytes(sf_dir: str) -> int:
    """On-disk bytes of a model's base tables (files or parquet dirs)."""
    from hbase_tools_spark.model import BASE_TABLES

    total = 0
    for t in BASE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(path):
            total += os.path.getsize(path)
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def test_two_phase_agg_equals_direct(spark):
    m = load_model(spark, SF_DIR)
    df = m.region_metrics
    direct = df.groupBy("server").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("file_count").alias("files"),
        F.max("size_mb").alias("mx"),
    )
    two = two_phase_agg(
        df,
        ["server"],
        {"n": ("file_count", "count"), "files": ("file_count", "sum"), "mx": ("size_mb", "max")},
        n_salts=7,
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, two.collect()))


def test_spread_if_undersplit_sizes_by_bytes(spark):
    """The spread target must grow with relation BYTES, not just core
    count (round-6 verdict: the pinned-4-partition sf10 spill — the
    64-partition production sizing now lives in the plan itself)."""
    from pyspark.sql import functions as F

    from hbase_tools_spark.functions.partitioning import spread_if_undersplit

    slots = spark.sparkContext.defaultParallelism
    # tiny relation: bytes rule is a no-op, spread = slots
    small = spark.range(1000).select(F.col("id").alias("k"))
    assert spread_if_undersplit(small, "k").rdd.getNumPartitions() == slots
    # wide relation: ~3.2 GB of stats (range rows are 8 bytes) must
    # spread past the slot count at the scan planner's 128 MB budget
    big = spark.range(400_000_000).select(F.col("id").alias("k"))
    n = spread_if_undersplit(big, "k").rdd.getNumPartitions()
    max_pb = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    expect = max(slots, -(-400_000_000 * 8 // max_pb))
    assert n == expect > slots


def test_autosize_shuffle_partitions_scales_with_bytes(spark, tmp_path, monkeypatch):
    """load_model sizes spark.sql.shuffle.partitions from fixture BYTES
    (round-10 verdict task 4: the sf10 certify OOMed because the knob
    was a pinned bench posture).  Rule: the larger of ceil(bytes /
    4 MiB) capped at the cores and ceil(bytes*expansion / 64MB) capped
    at 4096, in both directions: a fixture-scale model lowers the
    session's value, a big one raises it.  The
    same bytes pick the codegen posture: interpreted up to the measured
    break-even, compiled past it or when the size is unknown, set in
    both directions on every registration.  AQE and constraint
    propagation are turned off on every registration at any size."""
    from hbase_tools_spark import catalog as C
    from hbase_tools_spark.model import BASE_TABLES

    # the generated fixtures next to the test one, where present
    fixtures = os.path.dirname(SF_DIR)
    sf = {
        n: os.path.join(fixtures, n)
        for n in ("sf0.001", "sf0.01", "sf0.1")
        if os.path.isdir(os.path.join(fixtures, n))
    }
    sizes = {n: _disk_bytes(d) for n, d in sf.items()}
    sizes[SF_DIR] = _disk_bytes(SF_DIR)
    assert all(b > 0 for b in sizes.values()), sizes

    # fixture-scale: the session's value is LOWERED to the rule's; the
    # largest generated fixture, sf0.1, is 17 MB: 17 MB / 4 MiB -> 5,
    # capped at the cores; the smaller ones (under 4 MiB) -> 1
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    slots = spark.sparkContext.defaultParallelism
    try:
        for n, b in sizes.items():
            spark.conf.set("spark.sql.shuffle.partitions", "200")
            C._autosize_shuffle_partitions(spark, b)
            want = 1 if b <= 4 << 20 else min(slots, -(-b // (4 << 20)))
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want, n
        if "sf0.1" in sizes:
            assert -(-sizes["sf0.1"] // (4 << 20)) == 5
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # a 10 GB model: 10 GB * 6 / 64 MB = 960 partitions
    big_bytes = 10 * 1024**3
    try:
        C._autosize_shuffle_partitions(spark, big_bytes)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 960
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # unknown size: the session's partitions stand, the posture is
    # compiled, registration goes on
    C._autosize_shuffle_partitions(spark, None)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert C._codegen_posture(None) == "compiled"

    # codegen posture: the generated fixtures run interpreted, the
    # break-even is inclusive, the big dir runs compiled
    for n in sf:
        assert C._codegen_posture(sizes[n]) == "interpreted", n
    assert C._codegen_posture(C._INTERPRETED_MAX_BYTES) == "interpreted"
    assert C._codegen_posture(C._INTERPRETED_MAX_BYTES + 1) == "compiled"
    assert C._codegen_posture(big_bytes) == "compiled"

    # the running Spark must know the internal factoryMode key (and
    # wholeStage): an upgrade that drops either fails here
    for posture in C._CODEGEN_POSTURES.values():
        for key in posture:
            assert spark.conf.isModifiable(key), key

    def posture_now():
        return {k: spark.conf.get(k) for k in C._CODEGEN_POSTURES["compiled"]}

    def plan_root():
        df = spark.range(3).selectExpr("id + 1 AS x")
        return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()

    def alias(name):
        # a model dir of its own over the test fixture's tables
        d = tmp_path / name
        d.mkdir()
        for t in BASE_TABLES:
            (d / f"{t}.parquet").symlink_to(os.path.join(SF_DIR, f"{t}.parquet"))
        return str(d)

    # AQE and constraint propagation are off after every registration,
    # whatever the session asked for; both keys are runtime confs
    fixed = ("spark.sql.adaptive.enabled", "spark.sql.constraintPropagation.enabled")
    for key in fixed:
        assert spark.conf.isModifiable(key), key
        spark.conf.set(key, "true")

    # a small model then a large one in the same session: compiled
    # again; then one whose size is unknown: compiled, partitions kept
    # (load_model sums relation_bytes over the ten base views)
    small, large, unknown = alias("small"), alias("large"), alias("unknown")
    try:
        monkeypatch.setattr(C, "relation_bytes", lambda df: 100 << 10)
        C.load_model(spark, small)
        assert {k: spark.conf.get(k) for k in fixed} == dict.fromkeys(fixed, "false")
        assert posture_now() == C._CODEGEN_POSTURES["interpreted"]
        assert plan_root() == "ProjectExec"
        monkeypatch.setattr(C, "relation_bytes", lambda df: big_bytes)
        for key in fixed:
            spark.conf.set(key, "true")
        C.load_model(spark, large)
        assert {k: spark.conf.get(k) for k in fixed} == dict.fromkeys(fixed, "false")
        assert posture_now() == C._CODEGEN_POSTURES["compiled"]
        assert plan_root() == "WholeStageCodegenExec"
        monkeypatch.setattr(C, "relation_bytes", lambda df: 100 << 10)
        C.load_model(spark, small)
        assert posture_now() == C._CODEGEN_POSTURES["interpreted"]
        monkeypatch.setattr(C, "relation_bytes", lambda df: None)
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        C.load_model(spark, unknown)
        assert posture_now() == C._CODEGEN_POSTURES["compiled"]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        monkeypatch.undo()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        C.load_model(spark, SF_DIR)
    assert posture_now() == C._CODEGEN_POSTURES[C._codegen_posture(sizes[SF_DIR])]


def test_sizing_reads_the_scan_bytes_cached_or_not(spark):
    """``relation_bytes`` is the analyzed plan's size: for a scan, its
    bytes on disk, whether or not the table is cached.  The ten base
    views sum to the model's on-disk bytes, and caching ``documents``
    and ``events`` changes neither a Python stage's split nor the
    drains' feed size (the optimized plan's size, read before, grew
    to the in-memory relation's once a table was cached)."""
    from hbase_tools_spark.functions.partitioning import (
        python_stage_input,
        relation_bytes,
    )
    from hbase_tools_spark.model import BASE_TABLES

    m = load_model(spark, SF_DIR)
    views = sum(relation_bytes(m.table(t)) for t in BASE_TABLES)
    assert views == _disk_bytes(SF_DIR)

    def sizing():
        docs = m.documents.select("doc_id", "text")
        split = python_stage_input(docs, "doc_id").rdd.getNumPartitions()
        return split, relation_bytes(m.events)

    uncached = sizing()
    try:
        for t in ("documents", "events"):
            spark.catalog.cacheTable(t)
            spark.table(t).count()
        assert sizing() == uncached
    finally:
        for t in ("documents", "events"):
            spark.catalog.uncacheTable(t)
