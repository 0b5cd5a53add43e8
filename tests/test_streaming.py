"""M7 streaming tests: oracle parity of the run-to-completion streaming
queries, true multi-batch incremental execution (statefulness across
micro-batches), bounded-state dedup, and the stateful drains
(SURVEY.md §2.8 S1/S4/F11/S8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import hbase_tools_spark.operators  # noqa: F401 — registers queries
import hbase_tools_spark.streaming  # noqa: F401
from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_counts",
        "stream_sliding_counts",
        "stream_session_stats",
        "stream_dedup_keys",
    ],
)
def test_streaming_query_matches_oracle(spark, ducksql, name):
    assert_query_matches_oracle(spark, ducksql, name)


def test_stream_asof_enrichment_against_topology_store(spark, tmp_path):
    """S9 end to end through the storage layer: a stream enriched
    against the partition-pruned as-of read of the topology SNAPSHOT
    STORE (not the in-memory view).  The static side re-resolves the
    floor snapshot from persisted partitions — the production shape for
    'enrich live events with the topology as of time t' — and the
    streamed result must equal the batch join."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.sources.tables import (
        read_topology_asof,
        snapshot_topology,
    )
    from hbase_tools_spark.streaming.jobs import events_stream, run_to_table

    m = load_model(spark, SF_DIR)
    dim = m.topology.groupBy("region_id").agg(F.max("server").alias("server"))
    store = str(tmp_path / "topo_store")
    for epoch in (1000, 2000, 3000):
        # distinct server mapping per snapshot so a wrong floor pick
        # changes the result
        snapshot_topology(
            dim.withColumn("server", F.concat(F.lit(f"e{epoch}_"), "server")),
            store,
            epoch,
        )
    asof = read_topology_asof(spark, store, 2500).select("region_id", "server")

    enriched = (
        events_stream(spark, SF_DIR)
        .select((F.col("event_id") % 500).alias("region_id"))
        .join(F.broadcast(asof), "region_id")
        .groupBy("server")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        r["server"]: r["n"]
        for r in run_to_table(enriched, "stream_asof_enriched", "complete").collect()
    }
    expect = {
        r["server"]: r["n"]
        for r in m.events.select((F.col("event_id") % 500).alias("region_id"))
        .join(asof, "region_id")
        .groupBy("server")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect and got
    assert all(s.startswith("e2000_") for s in got), "floor snapshot not picked"


def _split_events(spark, tmp_path, n_files=3):
    """Write the events fixture as n separate files so the file source
    can deliver them as distinct micro-batches."""
    from hbase_tools_spark.catalog import load_model

    m = load_model(spark, SF_DIR)
    out = str(tmp_path / "events_parts")
    (
        m.events.repartitionByRange(n_files, "event_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_tumbling_agg_accumulates_across_batches(spark, tmp_path):
    """Complete-mode window aggregation must converge to the batch
    answer when the stream arrives as multiple micro-batches — this is
    the stateful path (state store carries partial window counts between
    batches), not a single-batch degenerate run."""
    src = _split_events(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.select(F.col("window.start").alias("ws"), "n")
        .writeStream.format("memory")
        .queryName("acc_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 2, "expected multiple micro-batches"
    got = {
        (r["ws"], r["n"]) for r in spark.table("acc_windows").collect()
    }
    expect = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    assert got == expect


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark — the analog of the reference's
    1-day-TTL dedup cache (compactor/CompactorServer.java:47-58): keys
    recurring *within* the watermark horizon are suppressed; state is
    evicted past it.  With a horizon covering the whole fixture the
    output keys equal the exact distinct set."""
    src = _split_events(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dedup = (
        stream.withWatermark("ts", "40 days")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["event_type"])
        for r in spark.table("dedup_wm").collect()
    }
    expect = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(src)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == expect


def test_membership_changes_stateful_across_batches(spark, tmp_path):
    """S4 — applyInPandasWithState membership detection: a server first
    observed in a later micro-batch emits IN exactly once, in that
    batch; persisting servers never re-emit."""
    import os
    import time as _time

    from hbase_tools_spark.streaming.stateful import membership_changes

    src = str(tmp_path / "obs")
    os.makedirs(src)
    base = [("s0", 100), ("s1", 110), ("s0", 120)]
    later = [("s0", 200), ("s1", 210), ("s9", 220), ("s9", 230)]
    f1, f2 = os.path.join(src, "b1.parquet"), os.path.join(src, "b2.parquet")
    spark.createDataFrame(base, "server string, obs_ts bigint").coalesce(
        1
    ).write.parquet(f1)
    spark.createDataFrame(later, "server string, obs_ts bigint").coalesce(
        1
    ).write.parquet(f2)
    # distinct mtimes => deterministic file->batch order for the source
    now = _time.time()
    for i, f in enumerate((f1, f2)):
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (now + i * 10, now + i * 10))
    os.utime(f1, (now, now))
    os.utime(f2, (now + 10, now + 10))

    stream = (
        spark.readStream.schema("server string, obs_ts bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = (
        membership_changes(stream)
        .writeStream.format("memory")
        .queryName("membership_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2, "expected one micro-batch per file"
    rows = {
        (r["server"], r["first_ts"], r["event"])
        for r in spark.table("membership_events").collect()
    }
    # s0/s1 IN from batch 1 (their batch-1 min ts); s9 IN from batch 2;
    # no duplicate IN for s0/s1 despite batch-2 observations.
    assert rows == {("s0", 100, "IN"), ("s1", 110, "IN"), ("s9", 220, "IN")}


def test_asof_join_property_vs_pandas_merge_asof(spark):
    """Generic as-of join vs pandas.merge_asof on randomized-but-seeded
    inputs: every left row must match the greatest right_ts <= left_ts
    within its key, inner semantics."""
    import pandas as pd
    import random

    from hbase_tools_spark.operators.temporal import asof_join

    rng = random.Random(42)
    for trial in range(5):
        keys = ["k%d" % i for i in range(rng.randint(1, 4))]
        left = [
            (rng.choice(keys), rng.randint(0, 1000), i)
            for i in range(rng.randint(1, 60))
        ]
        right = [
            (rng.choice(keys), rng.randint(0, 1000), 100 + i)
            for i in range(rng.randint(1, 40))
        ]
        # unique (key, ts) on the right so the match is well-defined
        seen = set()
        right = [
            r for r in right if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
        ]
        ldf = spark.createDataFrame(left, "k string, ts bigint, lval bigint")
        rdf = spark.createDataFrame(right, "k string, ts bigint, rval bigint")
        got = {
            (r["k"], r["ts"], r["lval"], r["__r"]["rval"])
            for r in asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts").collect()
        }
        lp = pd.DataFrame(left, columns=["k", "ts", "lval"]).sort_values("ts")
        rp = pd.DataFrame(right, columns=["k", "ts", "rval"]).sort_values("ts")
        mp = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward").dropna(
            subset=["rval"]
        )
        expect = {
            (r.k, r.ts, r.lval, int(r.rval)) for r in mp.itertuples()
        }
        assert got == expect, f"trial {trial}"


def test_watermark_finalizes_windows_and_drops_late_rows(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: a window is
    emitted once the watermark passes its end, and events arriving
    after the watermark has moved past their window are dropped — the
    late-data contract (S8/S9).  Batch order is forced via distinct
    file mtimes."""
    import os
    import time as _time

    src = str(tmp_path / "late")
    os.makedirs(src)
    # Batch plan (watermark delay 30 min; Spark's late-event filter
    # uses the PREVIOUS batch's eviction watermark):
    #   b1: on-time rows, max ts 11:40 -> eviction wm becomes 11:10,
    #       which finalizes the 10:00 window (n=2) at b2.
    #   b2: a fresh 12:05 event; late-event wm now >= 11:10.
    #   b3: the 10:25 straggler — its window expired, row DROPPED.
    on_time = [
        (1, "2024-01-01 10:05:00"),
        (2, "2024-01-01 10:20:00"),
        (3, "2024-01-01 11:40:00"),
    ]
    fresh = [(5, "2024-01-01 12:05:00")]
    late = [(4, "2024-01-01 10:25:00")]
    f1 = os.path.join(src, "b1.parquet")
    f2 = os.path.join(src, "b2.parquet")
    f3 = os.path.join(src, "b3.parquet")
    for f, rows in ((f1, on_time), (f2, fresh), (f3, late)):
        spark.createDataFrame(rows, "event_id bigint, ts_s string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(f)
    now = _time.time()
    for i, f in enumerate((f1, f2, f3)):
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (now + i * 10, now + i * 10))
        os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("string").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3, "expected one micro-batch per file"
    got = {(r["ws"], r["n"]) for r in spark.table("late_windows").collect()}
    # Emitted: the finalized 10:00 window with ONLY the on-time rows
    # (late event 4 dropped).  The 11:00 and 12:00 windows are not yet
    # final when the stream drains, and never emit in append mode.
    assert got == {("2024-01-01 10:00:00", 2)}, got


def test_stateful_ops_under_rocksdb_provider(spark, tmp_path):
    """Provider-independence: the stateful operators (windowed agg +
    streaming dedup) produce identical results under the RocksDB state
    store (the large-state production provider, bounded-memory +
    changelog checkpointing) as under the default HDFS-backed one."""
    from hbase_tools_spark.streaming.jobs import ROCKSDB_STATE_CONF

    src = _split_events(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    prev = {
        k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF
    }
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rocks_windows")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the provider actually engaged: stateful progress reports rows
        assert any(
            op["numRowsTotal"] > 0
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        dd = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
        qd = (
            dd.writeStream.format("memory")
            .queryName("rocks_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qd.awaitTermination()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = {(r["ws"], r["n"]) for r in spark.table("rocks_windows").collect()}
    expect = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    assert got == expect
    n_dedup = spark.table("rocks_dedup").count()
    assert (
        n_dedup
        == spark.read.parquet(src).select("user_id", "event_type").distinct().count()
    )


def test_max_bytes_per_trigger_rate_limits(spark, tmp_path):
    """Source admission control by bytes (maxBytesPerTrigger): with a
    cap smaller than one file, each micro-batch admits ~one file — the
    backpressure knob for bulk-arrival catch-up (a restarted stream
    facing days of backlog must not load it as one giant batch)."""
    src = _split_events(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", "1")  # < any file => 1 file/batch
        .parquet(src)
    )
    q = (
        stream.select("event_id")
        .writeStream.format("memory")
        .queryName("rate_limited")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3, "byte cap did not split the backlog"
    assert (
        spark.table("rate_limited").count()
        == spark.read.parquet(src).count()
    )


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Offset checkpointing: a restarted query with the same checkpoint
    resumes after the already-committed files — the second run reads
    ONLY the newly arrived file (exactly-once source semantics), and
    the file sink accumulates both runs' output."""
    import os

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    f1 = os.path.join(src, "a.parquet")
    f2 = os.path.join(src, "b.parquet")
    spark.createDataFrame([(1,), (2,)], "v bigint").coalesce(1).write.parquet(f1)

    def run_once():
        stream = spark.readStream.schema("v bigint").parquet(src + "/*.parquet")
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run_once() == 2
    spark.createDataFrame([(3,), (4,), (5,)], "v bigint").coalesce(1).write.parquet(f2)
    assert run_once() == 3, "restart reprocessed already-committed files"
    got = sorted(r["v"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_funnel_stateful_late_arrival(spark, tmp_path):
    """Streaming funnel: a late-arriving early 'view' retroactively
    unlocks a click/purchase chain already sitting in state — the
    per-type-array state re-derives the chain, where a min-so-far
    state machine would stay stuck at stage 0."""
    import os
    import time as _time

    from hbase_tools_spark.streaming.stateful import funnel_stages

    src = str(tmp_path / "fev")
    os.makedirs(src)
    # batch 1: user 1 clicks then purchases (no view yet -> stage 0);
    #          user 2 views only (stage 1).
    b1 = [(1, "click", 200), (1, "purchase", 300), (2, "view", 150)]
    # batch 2: user 1's EARLIER view arrives late (unlocks 3);
    #          user 2 clicks BEFORE their view (stays stage 1).
    b2 = [(1, "view", 100), (2, "click", 120)]
    f1, f2 = os.path.join(src, "b1.parquet"), os.path.join(src, "b2.parquet")
    schema = "user_id bigint, event_type string, tus bigint"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f2)
    now = _time.time()
    for i, f in enumerate((f1, f2)):
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (now + i * 10, now + i * 10))
        os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = (
        funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("funnel_snapshots")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2, "expected one micro-batch per file"
    rows = spark.table("funnel_snapshots").collect()
    # snapshots per (user, emission); the LAST emission is the final state
    final = {}
    for r in rows:
        final[r["user_id"]] = r  # memory sink appends in batch order
    u1, u2 = final[1], final[2]
    assert (u1["stage_reached"], u1["t1"], u1["t2"], u1["t3"]) == (3, 100, 200, 300)
    assert (u2["stage_reached"], u2["t1"], u2["t2"]) == (1, 150, None)
    # batch-1 snapshot for user 1 must have been stage 0 (no view yet)
    stages_u1 = [r["stage_reached"] for r in rows if r["user_id"] == 1]
    assert stages_u1[0] == 0 and stages_u1[-1] == 3


class _FakeState:
    """Minimal GroupState stand-in for driving _advance_funnel directly."""

    def __init__(self):
        self.exists = False
        self.get = None

    def update(self, t):
        self.get = t
        self.exists = True


def _funnel_user_state(state, user):
    """Extract one user's (vmin, clicks, purchases) from the bucketed
    parallel-array state."""
    users, vmins, clicks, purchases = state.get
    i = list(users).index(user)
    return vmins[i], list(clicks[i]), list(purchases[i])


def test_funnel_state_bounded_for_heavy_user():
    """Round-4 verdict fix: per-user funnel state must stay O(1) under a
    heavy user's unbounded in-order stream — views collapse to one
    scalar, and clicks/purchases later than the established chain are
    pruned as provably never-winnable."""
    import pandas as pd

    from hbase_tools_spark.streaming.stateful import _advance_funnel

    state = _FakeState()

    def feed(events):
        pdf = pd.DataFrame(
            {"user_id": [7] * len(events),
             "tus": [t for t, _ in events],
             "event_type": [e for _, e in events]}
        )
        return list(_advance_funnel((0,), [pdf], state))

    # establish the chain: view@100, click@200, purchase@300
    feed([(100, "view"), (200, "click"), (300, "purchase")])
    # heavy user: 50 batches x 60 later events — none can enter the chain
    for b in range(50):
        base = 1000 + b * 100
        feed([(base + i, kind) for i, kind in
              zip(range(60), ["view", "click", "purchase"] * 20)])
    vmin, clicks, purchases = _funnel_user_state(state, 7)
    assert vmin == 100
    assert clicks == [200], clicks          # only the winner survives
    assert purchases == [300], purchases
    # ...and the snapshot semantics survived the pruning
    out = feed([(99, "view")])[0]           # late view lowers t1 only
    assert (int(out["stage_reached"][0]), int(out["t1"][0]),
            int(out["t2"][0]), int(out["t3"][0])) == (3, 99, 200, 300)


def test_funnel_prune_keeps_retroactive_candidates():
    """Clicks/purchases EARLIER than the current chain must survive
    pruning: a later lower view can still promote them (the exact
    retroactive semantics the array state existed for)."""
    import pandas as pd

    from hbase_tools_spark.streaming.stateful import _advance_funnel

    state = _FakeState()

    def feed(events):
        pdf = pd.DataFrame(
            {"user_id": [7] * len(events),
             "tus": [t for t, _ in events],
             "event_type": [e for _, e in events]}
        )
        return list(_advance_funnel((0,), [pdf], state))

    # view@100; click@50 precedes it (ineligible now), click@200 wins
    feed([(100, "view"), (50, "click"), (200, "click"), (60, "purchase"),
          (250, "purchase")])
    _, clicks, purchases = _funnel_user_state(state, 7)
    assert set(clicks) == {50, 200}         # 50 kept: future t1 may drop
    assert set(purchases) == {60, 250}
    # late view@40: click@50 becomes the new t2, purchase@60 the new t3
    out = feed([(40, "view")])[0]
    assert (int(out["t1"][0]), int(out["t2"][0]), int(out["t3"][0])) == (
        40, 50, 60)


def test_funnel_bucket_state_carries_untouched_users():
    """Bucketed state (round-12 optimization — one Python group call
    per user-hash bucket): a batch touching one user must carry every
    OTHER user's state through unchanged, and per-user semantics must
    be independent of bucket co-residents."""
    import pandas as pd

    from hbase_tools_spark.streaming.stateful import _advance_funnel

    state = _FakeState()

    def feed(rows):  # rows: (user, tus, event_type)
        pdf = pd.DataFrame(
            {"user_id": [u for u, _, _ in rows],
             "tus": [t for _, t, _ in rows],
             "event_type": [e for _, _, e in rows]}
        )
        return list(_advance_funnel((0,), [pdf], state))

    # batch 1: two users share the bucket
    out = feed([(1, 100, "view"), (2, 500, "click"), (1, 200, "click")])
    snap = out[0]
    by_user = {int(snap["user_id"][i]): i for i in range(len(snap))}
    assert int(snap["stage_reached"][by_user[1]]) == 2
    assert int(snap["stage_reached"][by_user[2]]) == 0
    # batch 2 touches ONLY user 2 — user 1's state must survive, and
    # only user 2 may emit a snapshot
    out = feed([(2, 400, "view")])
    snap = out[0]
    assert list(snap["user_id"]) == [2]
    assert int(snap["stage_reached"][0]) == 2  # view@400 unlocks click@500
    assert _funnel_user_state(state, 1) == (100, [200], [])
    # batch 3: user 1 resumes exactly where its state left off
    out = feed([(1, 300, "purchase")])
    snap = out[0]
    assert (int(snap["stage_reached"][0]), int(snap["t1"][0]),
            int(snap["t2"][0]), int(snap["t3"][0])) == (3, 100, 200, 300)


def test_stream_attribution_multibatch(spark, tmp_path):
    """Streaming attribution across micro-batches: state carries the
    last click/view into later batches; a click arriving AFTER the
    purchase's batch is missed (append semantics, documented); within
    a batch events replay in (tus, event_id) order regardless of file
    row order."""
    import os
    import time as _time

    from hbase_tools_spark.streaming.stateful import attribution_stream

    src = str(tmp_path / "aev")
    os.makedirs(src)
    schema = "user_id bigint, event_id bigint, event_type string, tus bigint"
    # batch 1: user 1 clicks@100; user 2's purchase@150 (no prior touch)
    #          also user 3: rows OUT OF ORDER in the file — purchase
    #          first, its click later in the file but earlier in time
    b1 = [(1, 1, "click", 100), (2, 2, "purchase", 150),
          (3, 3, "purchase", 300), (3, 4, "click", 200)]
    # batch 2: user 1 purchases@500 (attributed to batch-1 click);
    #          user 2's click@120 arrives late -> purchase NOT revised
    b2 = [(1, 5, "purchase", 500), (2, 6, "click", 120)]
    f1, f2 = os.path.join(src, "b1.parquet"), os.path.join(src, "b2.parquet")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f2)
    now = _time.time()
    for i, f in enumerate((f1, f2)):
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (now + i * 10, now + i * 10))
        os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = (
        attribution_stream(stream)
        .writeStream.format("memory")
        .queryName("attr_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["user_id"], r["tus"]): r for r in spark.table("attr_rows").collect()}
    assert rows[(1, 500)]["attributed_to"] == "click"
    assert rows[(1, 500)]["latency_us"] == 400
    assert rows[(2, 150)]["attributed_to"] == "organic"  # late click missed
    assert rows[(3, 300)]["attributed_to"] == "click"    # in-batch reorder
    assert rows[(3, 300)]["latency_us"] == 100
    assert len(rows) == 3


def test_stream_batch_cost_amortizes(spark, tmp_path):
    """The bench's stream_* queries pay one-shot drain machinery that a
    continuous stream amortizes — claimed in bench.py, MEASURED here:
    over a 12-micro-batch windowed aggregation the steady-state batch
    duration must fall well below the first batch's (state-store
    bootstrap + first planning)."""
    import datetime
    import os
    import time as _time

    from pyspark.sql import functions as F

    src = str(tmp_path / "amort_src")
    os.makedirs(src)
    schema = "user_id bigint, event_type string, ts timestamp"
    base = datetime.datetime(2025, 1, 1)
    for b in range(12):
        rows = [
            (i, "view", base + datetime.timedelta(seconds=b * 600 + i % 600))
            for i in range(2000)
        ]
        f = f"{src}/b{b:02d}.parquet"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f)
        t = _time.time() + b * 10
        for root, _, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t, t))
        os.utime(f, (t, t))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("amort_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    durs = [p["batchDuration"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(durs) == 12
    rest = sorted(durs[1:])
    steady = rest[len(rest) // 2]  # median: robust to ambient spikes
    # measured ~2400 ms first vs ~480 ms steady on an idle host.  In a
    # warm session the FIRST batch can also be cheap (no state-store
    # bootstrap left to pay), which is amortization working, not
    # failing — so pass on EITHER signal: marginal batches well under
    # the first, or marginal batches cheap in absolute terms.
    assert steady < 0.75 * durs[0] or steady < 800, (durs[0], steady)


def test_funnel_viewless_user_state_dedups():
    """The one unprunable case — a user with no qualifying view — must
    at least collapse to DISTINCT event times (min(clicks > t1) never
    needs duplicates), so repeated-timestamp bot traffic stays
    bounded."""
    import pandas as pd

    from hbase_tools_spark.streaming.stateful import _advance_funnel

    state = _FakeState()

    def feed(events):
        pdf = pd.DataFrame(
            {"user_id": [9] * len(events),
             "tus": [t for t, _ in events],
             "event_type": [e for _, e in events]}
        )
        return list(_advance_funnel((0,), [pdf], state))

    for _ in range(40):  # 40 batches of the same 5 click times, no view
        feed([(t, "click") for t in (10, 20, 30, 40, 50)])
    vmin, clicks, purchases = _funnel_user_state(state, 9)
    assert vmin is None
    assert clicks == [10, 20, 30, 40, 50]   # distinct, sorted, bounded
    # a late view below them promotes the earliest click exactly
    out = feed([(5, "view")])[0]
    assert (int(out["stage_reached"][0]), int(out["t2"][0])) == (2, 10)


def test_attribution_late_purchase_is_organic():
    """A purchase arriving in a later batch but EARLIER in event time
    than the state's last click must not attribute to it (negative
    delta — the oracle's strictly-preceding frame says organic)."""
    import pandas as pd

    from hbase_tools_spark.streaming.stateful import _advance_attribution

    state = _FakeState()

    def feed(rows):
        pdf = pd.DataFrame(
            {"user_id": [3] * len(rows),
             "tus": [t for t, _, _ in rows],
             "event_id": [e for _, e, _ in rows],
             "event_type": [k for _, _, k in rows]}
        )
        return list(_advance_attribution((0,), [pdf], state))

    feed([(500, 1, "click")])
    out = feed([(100, 2, "purchase")])[0]
    assert out["attributed_to"][0] == "organic"
    assert pd.isna(out["latency_us"][0])
    # a later purchase still attributes forward normally
    out = feed([(600, 3, "purchase")])[0]
    assert out["attributed_to"][0] == "click"
    assert int(out["latency_us"][0]) == 100


def test_auto_state_partitions_sizes_to_the_feed(spark):
    """One partition per started 512 KiB of feed, clamped to
    [1, defaultParallelism]; an unknown size (``None``) gets every
    core."""
    from hbase_tools_spark.streaming import jobs as J

    cores = spark.sparkContext.defaultParallelism
    assert cores >= 4
    for size, want in [
        (None, cores),
        (221_075, 1),  # sf0.01 events
        (2_045_762, 4),  # sf0.1 events
        (1 << 30, cores),
    ]:
        assert J.auto_state_partitions(spark, size) == want, size


@pytest.mark.parametrize(
    "name", ["stream_funnel_stage", "stream_attribution", "stream_session_stats"]
)
def test_user_keyed_drains_pass_auto_state_partitions(spark, monkeypatch, name):
    """The user-keyed drains hand ``auto_state_partitions`` to
    ``run_to_table`` unchanged: no floor on top of the sizing rule."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.functions.partitioning import relation_bytes
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.streaming import jobs as J

    m = load_model(spark, SF_DIR)
    want = J.auto_state_partitions(spark, relation_bytes(m.events))
    seen = []

    def capture(stream_df, _name, _mode, state_partitions=2, **_kw):
        seen.append(state_partitions)
        return stream_df  # lazy: nothing is drained

    monkeypatch.setattr(J, "run_to_table", capture)
    QUERIES[name].fn(m)
    assert seen == [want]
    if os.path.getsize(os.path.join(SF_DIR, "events.parquet")) <= 512 << 10:
        assert want == 1


def test_run_to_table_spill_sink_reads_back_rows_and_empty_drains(spark, tmp_path):
    """Past ``_MEM_SINK_MAX_SOURCE_BYTES`` the drain spills to parquet:
    it returns the memory sink's rows, and a drain that saw no batch
    returns an empty relation with the stream's schema, no Python
    worker involved."""
    from hbase_tools_spark.streaming import jobs as J

    schema = "k bigint, v string"
    feed, empty = tmp_path / "feed", tmp_path / "empty"
    empty.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(str(feed))
    big = J._MEM_SINK_MAX_SOURCE_BYTES + 1

    def drain(path, name, source_bytes):
        return J.run_to_table(
            spark.readStream.schema(schema).parquet(str(path)),
            name, "append", source_bytes=source_bytes,
        )

    spilled = drain(feed, "spill_rows", big)
    assert sorted(spilled.collect()) == sorted(drain(feed, "mem_rows", 0).collect())
    gone = drain(empty, "spill_empty", big)
    assert gone.collect() == []
    assert [f.name for f in gone.schema] == ["k", "v"]
    assert "PythonRDD" not in gone._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("spill", [False, True], ids=["memory", "spill"])
def test_run_to_table_failed_drain_leaves_no_scratch_dir(spark, tmp_path, spill):
    """A drain whose batch raises propagates the error and removes its
    checkpoint, and in spill mode the sink directory too: the scratch
    root holds no more entries than before."""
    from hbase_tools_spark.functions import workdir
    from hbase_tools_spark.streaming import jobs as J

    schema = "k bigint, v string"
    feed = tmp_path / "feed"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(str(feed))
    stream = spark.readStream.schema(schema).parquet(str(feed)).withColumn(
        "ok", F.assert_true(F.col("k") < 0, F.lit("injected batch failure"))
    )
    root = workdir.root(spark)
    before = len(os.listdir(root))
    with pytest.raises(Exception, match="injected batch failure"):
        J.run_to_table(
            stream, f"failed_drain_{int(spill)}", "append",
            source_bytes=J._MEM_SINK_MAX_SOURCE_BYTES + 1 if spill else 0,
        )
    assert len(os.listdir(root)) <= before


def _stage_task_counts(spark, run) -> list[int]:
    """Task counts of every stage that ran tasks while ``run()`` ran,
    stream-execution threads included, read from the status tracker:
    the jobs strictly between two marker jobs."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.monotonic() + 30  # the status store trails the job
        while not (ids := tracker.getJobIdsForGroup(group)):
            assert time.monotonic() < deadline, "marker job never recorded"
            time.sleep(0.05)
        return ids[0]

    first = marker()
    run()
    last = marker()
    counts = []
    for job_id in range(first + 1, last):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks > 0:
                counts.append(stage.numTasks)
    return counts


def test_stream_index_build_runs_at_the_model_shuffle_width(spark, monkeypatch):
    """``load_model`` owns ``spark.sql.shuffle.partitions``: in a session
    that asks for 200, building the stream-served BM25 index (whose
    micro-batch writer runs at the session's shuffle partitions) runs
    no stage wider than the partition rule gives for the model."""
    from hbase_tools_spark import catalog as C
    from hbase_tools_spark.functions import memo
    from hbase_tools_spark.functions.partitioning import relation_bytes
    from hbase_tools_spark.llm import search
    from hbase_tools_spark.model import BASE_TABLES

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isdir(sf):
        sf = SF_DIR
    # an empty memo, restored afterwards, so the index builds here
    monkeypatch.setattr(memo, "_CACHE", {})
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        m = C.load_model(spark, sf)
        model_bytes = sum(relation_bytes(m.table(t)) for t in BASE_TABLES)
        want = C._shuffle_partitions(spark, model_bytes)
        counts = _stage_task_counts(
            spark, lambda: search._stream_index_artifact_dir(m)
        )
    finally:  # re-registering the test model resets the partitions too
        spark.conf.set("spark.hbase_tools.model_dir", "")
        C.load_model(spark, SF_DIR)
    assert counts, "the index build ran no stage"
    assert max(counts) <= want, (want, counts)
