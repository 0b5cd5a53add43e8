"""Tests for table-lifecycle ops (SC5/SC7/SC8/SC9, S8 retention, J7
as-of over the partitioned snapshot store)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.sources import tables as T
from tests.conftest import SF_DIR


@pytest.fixture()
def nation_src(spark, tmp_path):
    src = str(tmp_path / "nation_src")
    load_model(spark, SF_DIR).nation.write.parquet(src)
    return src


def test_copy_table(spark, nation_src, tmp_path):
    dst = str(tmp_path / "nation_copy")
    T.copy_table(spark, nation_src, dst)
    a = sorted(map(tuple, spark.read.parquet(nation_src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b
    with pytest.raises(ValueError):
        T.copy_table(spark, nation_src, dst)


def test_replace_table_with_backup(spark, nation_src, tmp_path):
    m = load_model(spark, SF_DIR)
    target = str(tmp_path / "target")
    m.region.write.parquet(target)  # old contents: region
    n_new = spark.read.parquet(nation_src).count()
    old_rows = sorted(map(tuple, spark.read.parquet(target).collect()))

    backup = T.replace_table(spark, nation_src, target)
    assert spark.read.parquet(target).count() == n_new
    assert backup and os.path.basename(backup).startswith("origin_target_")
    assert sorted(map(tuple, spark.read.parquet(backup).collect())) == old_rows
    assert not os.path.exists(nation_src)  # 'from' consumed, like the reference


def test_drop_table(spark, nation_src):
    T.drop_table(spark, nation_src)
    assert not os.path.exists(nation_src)
    with pytest.raises(ValueError):
        T.drop_table(spark, nation_src)


def test_topology_snapshots_retention_and_asof(spark, tmp_path):
    m = load_model(spark, SF_DIR)
    store = str(tmp_path / "topology_store")
    topo = m.meta_regions.select("region_id", "server")
    for epoch in (1000, 2000, 3000):
        # perturb the assignment per snapshot so as-of picks are distinguishable
        T.snapshot_topology(
            topo.withColumn("server", F.concat(F.col("server"), F.lit(f"@{epoch}"))),
            store,
            epoch,
        )

    # as-of (J7): floor semantics — at t=2500 the 2000 snapshot wins
    asof = T.read_topology_asof(spark, store, 2500)
    assert asof.select("snapshot_epoch").distinct().collect()[0][0] == 2000
    assert asof.filter(~F.col("server").endswith("@2000")).count() == 0

    # retention (S8): TTL drops only expired partitions
    dropped = T.expire_topology(spark, store, now_ts=3500, ttl_sec=1000)
    assert dropped == [1000, 2000]
    left = spark.read.parquet(store).select("snapshot_epoch").distinct().collect()
    assert [r[0] for r in left] == [3000]

    # as-of after expiry still answers from what remains
    asof2 = T.read_topology_asof(spark, store, 99999)
    assert asof2.select("snapshot_epoch").distinct().collect()[0][0] == 3000


def test_roundtrip_stores_rebuild_on_view_swap(spark):
    """The memoized store/stage records must re-derive when their
    source view is re-registered with different content — the same
    staleness class as the served BM25 index (the memo reads the VIEW,
    so content keying is sufficient; round-7 memoization)."""
    from conftest import SF_DIR

    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.registry import QUERIES

    m = Model(spark, SF_DIR)
    try:
        load_model(spark, SF_DIR)

        def digests(name):
            return sorted(
                map(
                    tuple,
                    QUERIES[name].fn(m).toPandas().astype(str).values.tolist(),
                )
            )

        topo_first = digests("topology_store_roundtrip")
        lc_first = digests("table_lifecycle_roundtrip")
        # swap topology: drop one server's rows — digest must change
        spark.table("topology").where("server <> 's1'").createOrReplaceTempView(
            "topology"
        )
        assert digests("topology_store_roundtrip") != topo_first
        # swap meta_regions: halve it — stage digests must change
        spark.table("meta_regions").where(
            "region_id % 3 = 0"
        ).createOrReplaceTempView("meta_regions")
        assert digests("table_lifecycle_roundtrip") != lc_first
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_failed_table_lifecycle_leaves_no_work_dir(spark, ducksql, monkeypatch):
    """A lifecycle step that raises propagates the error, leaves no new
    entry under the scratch root and adds no memo entry; once the fault
    is gone, the next call serves the oracle's rows."""
    from hbase_tools_spark.functions import memo, workdir
    from hbase_tools_spark.registry import QUERIES
    from tests.conftest import assert_query_matches_oracle

    def broken(*_args, **_kwargs):
        raise RuntimeError("injected copy failure")

    # an empty memo, restored afterwards, so the lifecycle runs here
    monkeypatch.setattr(memo, "_CACHE", {})
    m = load_model(spark, SF_DIR)
    root = workdir.root(spark)
    before = set(os.listdir(root))
    with monkeypatch.context() as mp:
        mp.setattr(T, "copy_table", broken)
        with pytest.raises(RuntimeError, match="injected copy failure"):
            QUERIES["table_lifecycle_roundtrip"].fn(m)
    assert set(os.listdir(root)) - before == set()
    assert memo._CACHE == {}
    assert_query_matches_oracle(spark, ducksql, "table_lifecycle_roundtrip")
