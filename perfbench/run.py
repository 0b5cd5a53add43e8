#!/usr/bin/env python3
"""Closed-loop benchmark of the hbase_tools_spark engine.

    python3 perfbench/run.py --workload admin_ingest --seed 1 --seconds 1 --trace 0

One run: start the fixed Spark session, load and warm the model over the
fixture in ``perfbench/sf0.01`` (``setup_s``), run one cold pass over the
workload's requests and the workload's warm-up passes, then measured warm
passes until ``--seconds`` of warm request time have passed.  The seed
fixes the request order and the stream feed's split, not the data.
Every result is checked outside the timed spans; a run with a failed
request exits 1 and reports no metrics.  Human-readable lines come first;
the last stdout line is the JSON result.  With ``--trace 1`` the measured
passes alternate untraced/traced, per-layer metrics come from the traced
ones and the spans are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: The ten base tables of the repository's deterministic (seed 42) sf0.01
#: fixture (FIXTURES.md), the scale the DuckDB oracle gate certifies, kept
#: in the benchmark's tree so that a run reads only its own checkout.
FIXTURE = os.path.join(HERE, "sf0.01")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.check import Oracle, frame_hash, text_hash  # noqa: E402
from perfbench.stats import highest_supported, percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    MEASURED_PASSES, MODULES, REPORT, WORKLOADS, module_of, pass_order,
)

#: Driver heap for the fixed session.  The fixture is small; a small
#: heap keeps the JVM's resident set bounded on a shared host.
DRIVER_MEMORY = "2g"
FEED_FILES = 12


def host_yardstick() -> float:
    """Median-of-3 seconds of a fixed 2M-iteration CPython add loop:
    run metadata that makes host drift visible, not a metric."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from ``/proc/stat``:
    the share of time a shared host withheld the CPUs during a run is
    run metadata, like the yardstick."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def busy_s() -> float:
    """CPU seconds this host has spent busy so far, summed over its CPUs
    (user, nice, system, irq and softirq in ``/proc/stat``).  Time the
    hypervisor gave to other guests (steal) and idle time are left out."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "false")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.cleaner.periodicGC.interval", "20s")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)


@dataclass
class Sample:
    pass_no: int
    index: int
    name: str
    module: str
    traced: bool
    build_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = False
    release_s: float = 0.0
    released: int = 0
    jobs: int = 0
    memo_lookups: int = 0
    memo_builds: int = 0
    progress: list = field(default_factory=list)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class NullTracer:
    """Stands in for ``trace.Tracer`` on untraced passes."""

    class _Span:
        def __enter__(self):
            return {"attrs": {}}

        def __exit__(self, *exc):
            return False

    def span(self, name, **attrs):
        return self._Span()


class Bench:
    def __init__(self, workload, seed: int, tracer):
        self.workload = workload
        self.seed = seed
        self.tracer = tracer
        self.setup: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        self.spark = start_session(cores)
        t1 = time.perf_counter()
        import __spark_entry__
        from hbase_tools_spark.catalog import load_model
        from hbase_tools_spark.model import BASE_TABLES, DERIVED_VIEWS

        self.model = load_model(self.spark, FIXTURE)
        t2 = time.perf_counter()
        # Model warm-up: columnar-cache the base tables and checkpoint
        # the derived views, as a long-lived deployment holds them.
        for t in BASE_TABLES:
            self.spark.catalog.cacheTable(t)
            self.spark.table(t).count()
        for t in DERIVED_VIEWS:
            self.spark.table(t).localCheckpoint(eager=True).createOrReplaceTempView(t)
        t3 = time.perf_counter()
        self.setup = {
            "session.start_s": t1 - t0,
            "catalog.load_model_s": t2 - t1,
            "model.warm_s": t3 - t2,
        }
        self.oracle = Oracle(FIXTURE, BASE_TABLES, __spark_entry__.oracle_sql())
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    # -- one request ------------------------------------------------------
    def request(self, name: str, pass_no: int, index: int, traced: bool) -> Sample:
        from hbase_tools_spark.functions import memo
        from hbase_tools_spark.functions.cache import release_stage_caches
        from hbase_tools_spark.registry import QUERIES
        from hbase_tools_spark.reporting import cluster_state
        from hbase_tools_spark.streaming import jobs as stream_jobs

        tracer = self.tracer if traced else NullTracer()
        sc = self.spark.sparkContext
        s = Sample(pass_no, index, name, module_of(name), traced)
        with tracer.span("request", request=f"{pass_no}:{index}", query=name,
                         module=s.module) as req:
            with tracer.span("release"):
                t = time.perf_counter()
                s.released = release_stage_caches()
                s.release_s = time.perf_counter() - t
            if traced:
                group = f"perfbench-{pass_no}-{index}"
                sc.setJobGroup(group, name)
                touches, keys = memo.touches(), set(memo._CACHE)
                drain_before = list(stream_jobs.LAST_DRAIN_PROGRESS)
            try:
                with tracer.span("build"):
                    c0 = busy_s()
                    t0 = time.perf_counter()
                    if name == REPORT:
                        result = cluster_state(self.model)
                    else:
                        df = QUERIES[name].fn(self.model)
                    t1 = time.perf_counter()
                with tracer.span("exec"):
                    if name != REPORT:
                        result = df.toPandas()
                    t2 = time.perf_counter()
                    c2 = busy_s()
                s.build_s, s.exec_s, s.cpu_s = t1 - t0, t2 - t1, c2 - c0
                with tracer.span("check"):
                    got = (text_hash(result) if name == REPORT
                           else frame_hash(result))
                    s.ok = self.oracle.matches(name, got)
                if not s.ok:
                    print(f"mismatch: {name} (pass {pass_no})", file=sys.stderr)
            except Exception:
                traceback.print_exc()
                print(f"failed: {name} (pass {pass_no})", file=sys.stderr)
            # Collect the request's garbage outside the timed span:
            # stale py4j handles otherwise pin JVM blocks until a later
            # request's collection, which bench.py measured inflating one
            # query 6x.
            with tracer.span("gc"):
                result = df = None
                gc.collect()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                s.memo_lookups = memo.touches() - touches
                s.memo_builds = len(set(memo._CACHE) - keys)
                if stream_jobs.LAST_DRAIN_PROGRESS != drain_before:
                    s.progress = list(stream_jobs.LAST_DRAIN_PROGRESS)
                # A streaming query runs its micro-batch jobs under its own
                # run id as job group, so the last drain's jobs are added.
                groups = {group} | {p["runId"] for p in s.progress}
                tracker = sc.statusTracker()
                s.jobs = sum(len(tracker.getJobIdsForGroup(g)) for g in groups)
                req["attrs"].update(
                    jobs=s.jobs, memo_lookups=s.memo_lookups,
                    memo_builds=s.memo_builds, released=s.released,
                    ok=s.ok, drain_batches=len(s.progress),
                )
        return s

    def run_pass(self, pass_no: int, traced: bool) -> list[Sample]:
        tracer = self.tracer if traced else NullTracer()
        order = pass_order(self.workload, self.seed, pass_no)
        with tracer.span("pass", pass_no=pass_no):
            return [self.request(n, pass_no, i, traced) for i, n in enumerate(order)]

    # -- micro-batch feed -------------------------------------------------
    def stream_feed(self) -> list[float]:
        """Split ``events`` by the seed into ``FEED_FILES`` parquet files,
        drain them one file per trigger through the stateful funnel
        operator, and return the durations (ms) of the non-first
        micro-batches."""
        import random
        import shutil

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from hbase_tools_spark.streaming.stateful import FUNNEL_STAGES, funnel_stages

        feed = os.path.join(WORK, f"feed-{os.getpid()}")
        src, ckpt = os.path.join(feed, "src"), os.path.join(feed, "ckpt")
        os.makedirs(src)
        try:
            events = pq.read_table(os.path.join(FIXTURE, "events.parquet"))
            rows = list(range(events.num_rows))
            random.Random(f"feed:{self.seed}").shuffle(rows)
            now = time.time()
            for b in range(FEED_FILES):
                path = os.path.join(src, f"part-{b:02d}.parquet")
                pq.write_table(events.take(sorted(rows[b::FEED_FILES])), path)
                os.utime(path, (now - 100 + b, now - 100 + b))
            stream = (
                self.spark.readStream.schema(self.spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .where(F.col("event_type").isin(*FUNNEL_STAGES))
                .select(
                    "user_id", "event_type",
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
                )
            )
            q = (
                funnel_stages(stream).writeStream.format("memory")
                .queryName(f"perfbench_feed_{os.getpid()}")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            durs = [p["batchDuration"] for p in q.recentProgress if p["numInputRows"] > 0]
            return [float(d) for d in durs[1:]]
        finally:
            shutil.rmtree(feed, ignore_errors=True)

    def close(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()
        if hasattr(self, "spark"):
            stop_session(self.spark)


def _sum_progress(samples: list[Sample]) -> dict[str, float]:
    out = dict.fromkeys(
        ("batches", "input_rows", "planning_ms", "add_batch_ms", "commit_ms",
         "state_rows", "state_bytes"), 0.0)
    for s in samples:
        for p in s.progress:
            d = p.get("durationMs", {})
            out["batches"] += 1
            out["input_rows"] += p.get("numInputRows", 0)
            out["planning_ms"] += d.get("queryPlanning", 0)
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
        if s.progress:
            ops = s.progress[-1].get("stateOperators", [])
            out["state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
            out["state_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
    return out


def pass_total(passes: list[list[Sample]], cost) -> float:
    """One warm pass: the sum over the workload's requests of each
    request's median ``cost`` over ``passes``."""
    per_request: dict[str, list[float]] = {}
    for s in (s for p in passes for s in p):
        per_request.setdefault(s.name, []).append(cost(s))
    return sum(statistics.median(v) for v in per_request.values())


def end_to_end(bench: Bench, warm: list[list[Sample]]) -> tuple[dict, dict]:
    """End-to-end metrics over the measured warm passes, with sample counts."""
    metrics = {
        "pass_cpu_s": (pass_total(warm, lambda s: s.cpu_s), "s"),
        "setup_s": (sum(bench.setup.values()), "s"),
    }
    return metrics, {"pass_cpu_s": len(warm), "setup_s": 1}


def per_layer(bench: Bench, cold: list[Sample], traced: list[list[Sample]],
              untraced: list[list[Sample]], feed_ms: list[float],
              rss_mb: float) -> tuple[dict, dict]:
    metrics: dict[str, tuple[float, str]] = {
        "pass_s": (pass_total(untraced, lambda s: s.latency_s), "s"),
        "first_pass_s": (sum(s.latency_s for s in cold), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    counts: dict[str, int] = {"pass_s": len(untraced), "first_pass_s": 1, "peak_rss_mb": 1}
    warm = [s for p in traced for s in p]
    for mod in MODULES:
        mine = [s for s in warm if s.module == mod]
        n = len(mine) or 1
        metrics[f"{mod}.build_ms"] = (sum(s.build_s for s in mine) * 1000.0 / n, "ms")
        metrics[f"{mod}.exec_ms"] = (sum(s.exec_s for s in mine) * 1000.0 / n, "ms")
        metrics[f"{mod}.jobs"] = (sum(s.jobs for s in mine) / n, "count")
        for suffix in ("build_ms", "exec_ms", "jobs"):
            counts[f"{mod}.{suffix}"] = len(mine)
    for k, v in bench.setup.items():
        metrics[k] = (v, "s")
        counts[k] = 1
    warm_lookups = sum(s.memo_lookups for s in warm)
    warm_builds = sum(s.memo_builds for s in warm)
    metrics["functions.memo.lookups"] = (sum(s.memo_lookups for s in cold), "count")
    metrics["functions.memo.builds"] = (sum(s.memo_builds for s in cold), "count")
    metrics["functions.memo.hit_ratio"] = (
        (warm_lookups - warm_builds) / warm_lookups if warm_lookups else 1.0, "ratio")
    counts.update({"functions.memo.lookups": 1, "functions.memo.builds": 1,
                   "functions.memo.hit_ratio": warm_lookups})
    metrics["functions.cache.released"] = (
        statistics.median(sum(s.released for s in p) for p in traced), "count")
    metrics["functions.cache.release_ms"] = (
        statistics.median(sum(s.release_s for s in p) for p in traced) * 1000.0, "ms")
    counts["functions.cache.released"] = counts["functions.cache.release_ms"] = len(traced)
    per_pass = [_sum_progress(p) for p in traced]
    for key, unit in (("batches", "count"), ("input_rows", "count"),
                      ("planning_ms", "ms"), ("add_batch_ms", "ms"),
                      ("commit_ms", "ms"), ("state_rows", "count"),
                      ("state_bytes", "bytes")):
        metrics[f"streaming.{key}"] = (statistics.median(p[key] for p in per_pass), unit)
        counts[f"streaming.{key}"] = len(per_pass)
    metrics["streaming.feed_batch_p50_ms"] = (
        statistics.median(feed_ms) if feed_ms else 0.0, "ms")
    counts["streaming.feed_batch_p50_ms"] = len(feed_ms)
    traced_s = statistics.median(sum(s.latency_s for s in p) for p in traced)
    untraced_s = statistics.median(sum(s.latency_s for s in p) for p in untraced)
    metrics["trace.overhead_ms"] = ((traced_s - untraced_s) * 1000.0, "ms")
    counts["trace.overhead_ms"] = len(traced) + len(untraced)
    return metrics, counts


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hbase_tools_spark", "__init__.py")):
        print(f"error: no hbase_tools_spark package under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS.get(args.workload)
    if workload is None:
        parser.error(f"--workload must be one of {sorted(WORKLOADS)}")

    # Everything the run (and the Spark JVM and Python workers it
    # starts) writes goes under .perfbench/ in this checkout.
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None

    yard_pre, jiffies_pre = host_yardstick(), cpu_jiffies()
    tracer = Tracer()
    bench = Bench(workload, args.seed, tracer)
    try:
        bench.start()
        cold = bench.run_pass(0, traced=bool(args.trace))
        warmup = [bench.run_pass(p, False) for p in range(1, workload.warmup_passes + 1)]
        traced_passes: list[list[Sample]] = []
        untraced_passes: list[list[Sample]] = []
        measured_s, n = 0.0, 0
        # Traced runs make as many passes as untraced ones and trace every
        # second one, each between two untraced ones (a run never ends on
        # an even pass), so warm-up drift cancels out of the tracing
        # overhead.
        while n < MEASURED_PASSES or measured_s < args.seconds or n % 2 == 0:
            traced = bool(args.trace) and n % 2 == 1
            samples = bench.run_pass(workload.warmup_passes + 1 + n, traced)
            (traced_passes if traced else untraced_passes).append(samples)
            measured_s += sum(s.latency_s for s in samples)
            n += 1
        feed_ms = bench.stream_feed() if args.trace and workload.stream_feed else []
        rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(bench.jvm_pid)
    finally:
        bench.close()
    yard_post, jiffies_post = host_yardstick(), cpu_jiffies()
    steal = (jiffies_post[0] - jiffies_pre[0]) / max(1, jiffies_post[1] - jiffies_pre[1])

    everything = cold + [s for p in warmup + traced_passes + untraced_passes for s in p]
    attempted = len(everything)
    failed = sum(not s.ok for s in everything)
    if args.trace:
        metrics, counts = per_layer(bench, cold, traced_passes,
                                    untraced_passes, feed_ms, rss_mb)
        trace_path = os.path.join(WORK, f"trace-{workload.name}-{args.seed}.json")
        tracer.dump(trace_path, {
            "workload": workload.name, "seed": args.seed,
            "host_yardstick_s": [yard_pre, yard_post], "host_steal_share": steal,
        })
    else:
        metrics, counts = end_to_end(bench, untraced_passes)

    print(f"workload {workload.name}  seed {args.seed}  closed loop, 1 client  "
          f"fixture {FIXTURE}")
    print(f"host yardstick (s, before/after): {yard_pre:.4f} / {yard_post:.4f}  "
          f"CPU steal during run: {steal:.1%}")
    print(f"requests attempted {attempted}  failed {failed}  "
          f"failed_ratio {failed / attempted:.4f}")
    lat = [s.latency_s * 1000.0 for p in untraced_passes for s in p]
    top = highest_supported(len(lat))
    if top is None:
        print(f"warm request latency: too few samples for a percentile (n={len(lat)})")
    for q in sorted({0.5, top}) if top else ():
        print(f"warm request latency p{round(q * 100)}: "
              f"{percentile(lat, q):.1f} ms (n={len(lat)})")
    print("first pass (s): %.3f  warm-up passes (s): %s  measured passes (s): %s" % (
        sum(s.latency_s for s in cold),
        " ".join("%.3f" % sum(s.latency_s for s in p) for p in warmup) or "-",
        " ".join("%.3f%s" % (sum(s.latency_s for s in p), "*" if p[0].traced else "")
                 for p in sorted(traced_passes + untraced_passes, key=lambda p: p[0].pass_no))))
    for k, (v, unit) in metrics.items():
        print(f"  {k:34s} {v:14.4f} {unit:6s} n={counts[k]}")
    if args.trace:
        print(f"trace: {trace_path}")
    if failed:
        # A request that raised has no latency; timing the rest would
        # read as a speed-up.
        print(f"error: {failed} of {attempted} requests failed; no metrics reported",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
