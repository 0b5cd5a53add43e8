"""Universal differential gate: every registered query must match its
DuckDB oracle exactly (the local mirror of the driver's t2 check)."""

from __future__ import annotations

import pytest

import hbase_tools_spark.operators  # noqa: F401
import hbase_tools_spark.llm  # noqa: F401
import hbase_tools_spark.streaming  # noqa: F401
from hbase_tools_spark.registry import QUERIES

from conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ducksql, name):
    assert_query_matches_oracle(spark, ducksql, name)


@pytest.fixture
def compiled_posture(spark):
    """Force the compiled codegen posture over the test fixture, which
    ``load_model`` would run interpreted, and restore it after."""
    from hbase_tools_spark import catalog as C

    C.load_model(spark, SF_DIR)
    compiled = C._CODEGEN_POSTURES["compiled"]
    prev = {k: spark.conf.get(k) for k in compiled}
    for k, v in compiled.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "kv_admin_roundtrip",
        "topology_diff",
        "upsert_dedup",
        "stream_funnel_stage",
        "report_complex_rollup",
        "salted_keys",
    ],
)
def test_query_matches_oracle_compiled(spark, ducksql, compiled_posture, name):
    """Tier-1 runs interpreted; the compiled path larger models take
    must stay oracle-identical too."""
    assert_query_matches_oracle(spark, ducksql, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_contract_shapes():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0
    # every registered query, in registration order
    assert list(qs) == list(QUERIES)
    assert list(os_) == [n for n in QUERIES if QUERIES[n].oracle is not None]
