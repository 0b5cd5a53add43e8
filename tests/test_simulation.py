"""Plan-simulation tests (SURVEY.md §5): the reference's planners are
fixed-point loops over mutated cluster state; we emit per-pass plans, so
the test discipline is to APPLY the emitted plan to a model of the state
and assert the reference's own invariants / terminal conditions
(merger/Merger.java:131-150 loop; distributor/TableDistributor.java:81-87
spread <= 1; splitter/TableSplitter.java:51-84 count growth)."""

from __future__ import annotations

from collections import Counter

import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.operators.planners import (
    _MERGE_MAX_MB,
    _MERGE_MIN_MB,
    _MERGED_MAX_MB,
)
from hbase_tools_spark.registry import QUERIES
from tests.conftest import SF_DIR


def _collect(spark, name):
    return QUERIES[name].fn(load_model(spark, SF_DIR)).collect()


def test_merge_plan_pairs_disjoint_and_adjacent(spark):
    """One pass must be executable concurrently: every region appears in
    at most one pair (the reference merges sequentially without overlap),
    pairs are adjacent, and merged sizes obey the cap."""
    m = load_model(spark, SF_DIR)
    plan = _collect(spark, "merge_plan")
    assert plan, "merge plan empty at this SF — fixture drift?"
    used = Counter()
    for r in plan:
        used[r["region_a"]] += 1
        used[r["region_b"]] += 1
        assert r["merged_size"] <= _MERGED_MAX_MB
    assert max(used.values()) == 1, "a region is in two merge pairs"
    bounds = {
        r["region_id"]: (r["table_name"], r["start_key"], r["end_key"])
        for r in m.meta_regions.collect()
    }
    for r in plan:
        ta, sa, ea = bounds[r["region_a"]]
        tb, sb, eb = bounds[r["region_b"]]
        assert ta == tb == r["table_name"]
        assert ea == sb, "pair not adjacent"


def test_merge_passes_converge(spark):
    """Iterating plan->apply on a python model of the region state must
    strictly shrink the region count and reach a fixed point (the
    reference's while-loop terminal condition)."""
    m = load_model(spark, SF_DIR)
    regions = {
        r["region_id"]: {
            "table": r["table_name"],
            "start": r["start_key"],
            "end": r["end_key"],
            "size": 0.0,
        }
        for r in m.meta_regions.collect()
    }
    for r in m.region_metrics.collect():
        if r["region_id"] in regions:
            regions[r["region_id"]]["size"] = r["size_mb"]

    min_mb, max_mb, merged_max = _MERGE_MIN_MB, _MERGE_MAX_MB, _MERGED_MAX_MB

    def one_pass(state):
        by_table = {}
        for rid, r in state.items():
            by_table.setdefault(r["table"], []).append((r["start"], rid))
        pairs = []
        for t, lst in by_table.items():
            lst.sort()
            for i in range(0, len(lst) - 1, 2):  # odd-rank pairing
                a, b = lst[i][1], lst[i + 1][1]
                ra, rb = state[a], state[b]
                if (
                    ra["end"] == rb["start"]
                    and (ra["size"] <= min_mb or rb["size"] <= min_mb)
                    and ra["size"] <= max_mb
                    and rb["size"] <= max_mb
                    and ra["size"] + rb["size"] <= merged_max
                ):
                    pairs.append((a, b))
        for a, b in pairs:
            state[a]["end"] = state[b]["end"]
            state[a]["size"] += state[b]["size"]
            del state[b]
        return len(pairs)

    # first simulated pass must agree with the Spark plan's pair count
    spark_pairs = len(_collect(spark, "merge_plan"))
    state = {k: dict(v) for k, v in regions.items()}
    assert one_pass(state) == spark_pairs

    prev = len(state) + 1
    passes = 0
    while len(state) < prev:
        prev = len(state)
        merged = one_pass(state)
        passes += 1
        assert passes < 64, "merge passes did not converge"
        if merged == 0:
            break
    # terminal: no remaining adjacent pair satisfies the quality rules
    assert one_pass({k: dict(v) for k, v in state.items()}) == 0


def test_split_points_bisect_their_region(spark):
    """Applying a split replaces [start,end) with two non-empty halves:
    the midpoint must be strictly inside the range (with the 8x0xFF
    default for unbounded ends), so region count grows by one per
    split — the splitter's progress guarantee."""
    plan = _collect(spark, "split_points")
    assert plan
    for r in plan:
        sk = r["start_key"].encode()
        ek = r["end_key"].encode() or b"\xff" * 8
        mid = bytes.fromhex(r["split_point_hex"])
        width = max(len(sk), len(ek), 1)
        s = int.from_bytes(sk.ljust(width, b"\x00"), "big")
        e = int.from_bytes(ek.ljust(width, b"\x00"), "big")
        mv = int.from_bytes(mid.ljust(width, b"\x00"), "big")
        assert s < mv < e, (r["start_key"], r["end_key"], r["split_point_hex"])


def test_split_multipass_obeys_loop_invariants(spark):
    """The emitted passes must replay TableSplitter's loop
    (TableSplitter.java:40-91): per (table, pass) exactly one branch —
    'full' only while doubling still undershoots the target
    (count * 2 * splitMultiplier < newSize, and then EVERY region
    splits), 'biggest' capped at the remaining deficit — and applying
    each pass (+1 region per split) reaches count >= newSize within the
    pass bound."""
    from hbase_tools_spark.operators.planners import (
        _SPLIT_MULT,
        _SPLIT_PASSES,
        _SPLIT_TARGET_FACTOR,
    )

    m = load_model(spark, SF_DIR)
    rows = _collect(spark, "split_plan_multipass")
    assert rows
    modes = {r["mode"] for r in rows}
    assert modes == {"full", "biggest"}, modes
    c0 = {
        r["table_name"]: r["count"]
        for r in m.meta_regions.groupBy("table_name").count().collect()
    }
    by_table: dict[str, dict[int, list]] = {}
    for r in rows:
        by_table.setdefault(r["table_name"], {}).setdefault(
            r["pass_id"], []
        ).append(r)
    for table, passes in by_table.items():
        assert sorted(passes) == list(range(1, len(passes) + 1))
        assert len(passes) <= _SPLIT_PASSES
        count, target = c0[table], _SPLIT_TARGET_FACTOR * c0[table]
        for pass_id in sorted(passes):
            batch = passes[pass_id]
            mode = {r["mode"] for r in batch}
            assert len(mode) == 1, f"mixed branches in {table}/{pass_id}"
            assert count < target, "split emitted past the target"
            if mode == {"full"}:
                assert count * 2 * _SPLIT_MULT < target
                assert len(batch) == count, "full split must hit every region"
            else:
                assert not (count * 2 * _SPLIT_MULT < target)
                assert len(batch) <= target - count, "deficit cap violated"
            for r in batch:
                assert abs(r["child_size"] * 2 - r["parent_size"]) < 2e-4
            count += len(batch)
        assert count >= target, f"{table} did not reach newSize in-bound"


def test_distribution_weight_reaches_balance(spark):
    """Simulating exactly `weight` greedy moves (max server -> min
    server) must land the per-server counts within spread <= 1 — the
    reference's terminal condition; one fewer move must NOT suffice."""
    m = load_model(spark, SF_DIR)
    rows = _collect(spark, "distribution_weight")
    counts_by_table = {}
    for r in m.meta_regions.groupBy("table_name", "server").count().collect():
        counts_by_table.setdefault(r["table_name"], []).append(r["count"])
    # densify vs live servers (servers hosting 0 regions of the table)
    n_servers = m.servers.count()
    for t, lst in counts_by_table.items():
        lst += [0] * (n_servers - len(lst))

    def spread(c):
        return max(c) - min(c)

    def greedy_move(c):
        c = sorted(c)
        c[-1] -= 1
        c[0] += 1
        return c

    for r in rows:
        c = sorted(counts_by_table[r["table_name"]])
        moves = r["moves"]
        for _ in range(moves):
            assert spread(c) > 1, "plan over-counts moves"
            c = greedy_move(c)
        assert spread(c) <= 1, f"{r['table_name']}: not balanced after {moves} moves"
