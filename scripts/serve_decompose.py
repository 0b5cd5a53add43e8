#!/usr/bin/env python
"""Decompose the serving-floor weak-set queries' wall time into
measured phases (round-11 / optimization-round task: do for the
serving class what drain_decompose.py did for the stream drains).

For each query, every bench-style run is decomposed via the Spark
event log into

    wall = job execution      (union of [submission, completion] of
                               every Spark job the run launched)
         + driver gaps        (everything between/around jobs: plan
                               analysis+optimization, broadcast value
                               pickling, memo fingerprinting, Arrow
                               collect decode — single-threaded driver
                               work)

plus the JOB COUNT and each job's callsite, which is the actionable
signal: a k-row serving query that launches 15 jobs pays 15 rounds of
DAGScheduler/task-launch floor (~10-30 ms each at local[32]) before
any data is touched.

Usage:
    python scripts/serve_decompose.py --sf-dir /root/testdata/sf0.1 \
        [--queries a,b,c] [--runs 4] [--out SERVE_DECOMP.json]

Run 1 is reported separately as `cold` (it pays memoized artifact
builds); medians are over runs 2..N (the bench's warm regime).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

DEFAULT_QUERIES = (
    "kv_model_roundtrip",
    "docs_bm25_served",
    "docs_bm25_stream_served",
    "docs_ccnet_perplexity_served",
    "hybrid_rrf_search",
    "hybrid_rrf_served",
    "embedding_ivf_topk",
    "embedding_ivf_kmeans_topk",
)


def _union_secs(intervals: list[tuple[float, float]]) -> float:
    """Total seconds covered by the union of [start, end] intervals."""
    if not intervals:
        return 0.0
    intervals = sorted(intervals)
    total, cur_s, cur_e = 0.0, intervals[0][0], intervals[0][1]
    for s, e in intervals[1:]:
        if s > cur_e:
            total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    total += cur_e - cur_s
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    import hbase_tools_spark.operators  # noqa: F401
    import hbase_tools_spark.llm  # noqa: F401
    import hbase_tools_spark.streaming  # noqa: F401
    from hbase_tools_spark.catalog import load_model, warm
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.functions.cache import release_stage_caches

    names = args.queries.split(",")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not in the registry: {', '.join(unknown)}")

    # The event-log dir must exist before the session starts, so it
    # cannot be a workdir scratch dir; it is removed once parsed.
    evdir = tempfile.mkdtemp(prefix="serve_evlog_")
    try:
        # The one builder outside session.get_spark: the event log is a
        # static conf.  load_model sets the SQL posture and warm holds the
        # model as bench.py does, so the phase table explains its numbers.
        spark = (
            SparkSession.builder.master(f"local[{args.cpus}]")
            .appName("serve-decompose")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.cleaner.periodicGC.interval", "20s")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.compress", "false")  # parse as plain JSON lines
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        m = load_model(spark, args.sf_dir)
        warm(m)

        # (query, run) -> [wall_t0_ms, wall_t1_ms, wall_sec]
        windows: dict[tuple[str, int], tuple[float, float, float]] = {}
        for name in names:
            for r in range(args.runs):
                t0 = time.time()
                p0 = time.perf_counter()
                QUERIES[name].fn(m).toPandas()
                wall = time.perf_counter() - p0
                windows[(name, r)] = (t0 * 1000, (t0 + wall) * 1000, wall)
            release_stage_caches()

        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes/flushes the event log
        jobs = _read_jobs(evdir, app_id)
    finally:
        shutil.rmtree(evdir, ignore_errors=True)

    results: dict[str, dict] = {}
    for name in names:
        per_run = []
        for r in range(args.runs):
            t0, t1, wall = windows[(name, r)]
            run_jobs = [j for j in jobs if t0 <= j["sub"] <= t1]
            iv = [(j["sub"], j["end"]) for j in run_jobs]
            exec_s = _union_secs(iv) / 1e3
            per_run.append({
                "wall_sec": wall,
                "n_jobs": len(run_jobs),
                "job_exec_sec": exec_s,
                "driver_gap_sec": max(0.0, wall - exec_s),
                "sites": sorted(
                    {j["site"] or j["desc"] for j in run_jobs}
                ),
            })
        warm = per_run[1:] if len(per_run) > 1 else per_run
        med = {
            k: round(statistics.median(x[k] for x in warm), 3)
            for k in ("wall_sec", "n_jobs", "job_exec_sec", "driver_gap_sec")
        }
        med["n_jobs"] = int(med["n_jobs"])
        med["cold_wall_sec"] = round(per_run[0]["wall_sec"], 3)
        med["cold_n_jobs"] = per_run[0]["n_jobs"]
        med["warm_sites"] = warm[-1]["sites"]
        results[name] = med
        print(name, json.dumps({k: med[k] for k in (
            "wall_sec", "n_jobs", "job_exec_sec", "driver_gap_sec",
            "cold_wall_sec", "cold_n_jobs")}), flush=True)

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


def _read_jobs(evdir: str, app_id: str) -> list[dict]:
    """Jobs of the event log under ``evdir``, with submission and
    completion time and callsite."""
    jobs: list[dict] = []
    pending: dict[int, dict] = {}
    # Spark 4 writes a rolling event-log DIRECTORY
    # (eventlog_v2_<appId>/events_N_<appId>); accept both layouts.
    paths = [
        p
        for p in glob.glob(f"{evdir}/*{app_id}*")
        + glob.glob(f"{evdir}/*{app_id}*/*")
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    pending[ev["Job ID"]] = {
                        "sub": ev["Submission Time"],
                        "site": (ev.get("Properties") or {}).get(
                            "callSite.short", ""
                        ),
                        "desc": (ev.get("Properties") or {}).get(
                            "spark.job.description", ""
                        ),
                    }
                elif et == "SparkListenerJobEnd":
                    j = pending.pop(ev["Job ID"], None)
                    if j is not None:
                        j["end"] = ev["Completion Time"]
                        jobs.append(j)
    return jobs

if __name__ == "__main__":
    main()
