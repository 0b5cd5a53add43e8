#!/usr/bin/env python
"""Decompose the one-shot stream drains' wall time into measured
phases (round-9 verdict task 4): for each stateful/stream weak-set
query, run the drain and split

    wall = startup+teardown  (stream start, checkpoint dir, plan
                              resolution, memory-sink readback —
                              everything OUTSIDE micro-batches)
         + batch execution   (addBatch: the actual work)
         + batch planning    (queryPlanning per batch)
         + source admin      (latestOffset + getBatch)
         + offset/commit log (walCommit + commitOffsets)

using the StreamingQueryProgress durationMs fields captured by
``run_to_table`` (streaming/jobs.py LAST_DRAIN_PROGRESS).  State-store
commit time (stateOperators[].commitTimeMs) is reported separately —
it is part of addBatch, not additive with it.

Usage:
    python scripts/drain_decompose.py --sf-dir /root/testdata/sf0.1 \
        [--queries a,b,c] [--runs 3] [--out DRAIN_DECOMP.json]

The per-phase numbers are medians over --runs drains; `wall_sec` is
the median full query wall (fn build + drain + readback).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

DEFAULT_QUERIES = (
    "stream_funnel_stage",
    "stream_attribution",
    "stream_session_stats",
    "stream_hll_cardinality",
    "stream_cms_heavy_hitters",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    import hbase_tools_spark.operators  # noqa: F401
    import hbase_tools_spark.llm  # noqa: F401
    import hbase_tools_spark.streaming  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.functions.cache import release_stage_caches
    from hbase_tools_spark.session import get_spark
    from hbase_tools_spark.streaming import jobs as J

    names = args.queries.split(",")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not in the registry: {', '.join(unknown)}")

    # The session and posture bench.py runs, so the phase table
    # explains the bench artifact's drain numbers.
    spark = get_spark("drain-decompose", args.cpus)
    # recentProgress is a ring buffer (default 100); a drain with more
    # micro-batches would silently lose early batches and misattribute
    # their time to startup_teardown_sec (round-10 ADVICE) — raise the
    # cap and assert below.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    m = load_model(spark, args.sf_dir)

    def one_drain(name: str) -> dict:
        t0 = time.perf_counter()
        QUERIES[name].fn(m).toPandas()
        wall = time.perf_counter() - t0
        prog = J.LAST_DRAIN_PROGRESS
        assert len(prog) < 10000, (
            f"{name}: {len(prog)} progress rows hit the ring-buffer cap; "
            "phase attribution would be wrong — raise "
            "spark.sql.streaming.numRecentProgressUpdates"
        )
        dur = lambda p, k: float(p.get("durationMs", {}).get(k, 0))  # noqa: E731
        add_batch = sum(dur(p, "addBatch") for p in prog)
        planning = sum(dur(p, "queryPlanning") for p in prog)
        source = sum(
            dur(p, "latestOffset") + dur(p, "getBatch") for p in prog
        )
        offsets = sum(
            dur(p, "walCommit") + dur(p, "commitOffsets") for p in prog
        )
        trigger = sum(dur(p, "triggerExecution") for p in prog)
        state_commit = sum(
            float(so.get("commitTimeMs", 0))
            for p in prog
            for so in p.get("stateOperators", [])
        )
        return {
            "wall_sec": wall,
            "n_batches": len(prog),
            "batch_exec_sec": add_batch / 1e3,
            "batch_planning_sec": planning / 1e3,
            "source_admin_sec": source / 1e3,
            "offset_log_sec": offsets / 1e3,
            "in_batch_total_sec": trigger / 1e3,
            "startup_teardown_sec": max(0.0, wall - trigger / 1e3),
            "state_commit_sec_within_exec": state_commit / 1e3,
        }

    results: dict[str, dict] = {}
    for name in names:
        runs = []
        for _ in range(args.runs):
            runs.append(one_drain(name))
            release_stage_caches()
        med = {
            k: round(statistics.median(r[k] for r in runs), 3)
            for k in runs[0]
        }
        med["n_batches"] = int(med["n_batches"])
        results[name] = med
        print(name, json.dumps(med), flush=True)

    out = {
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "runs": args.runs,
        "queries": results,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps({k: v["wall_sec"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
