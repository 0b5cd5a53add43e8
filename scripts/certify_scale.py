#!/usr/bin/env python
"""Full-surface differential certification at an arbitrary scale
fixture — the standalone mirror of the driver's t2 gate (row count +
column names + order-insensitive exact value match), runnable against
the derived sf1/sf10 fixtures where the per-round driver only probes
sf0.01.  Reuses tests/conftest.py's normalization so "green" here
means exactly what the pytest differential gate means.

Writes a JSON artifact: per-query {rows, match | rows_only | err} plus
the aggregate counts (the committed CORRECTNESS_SF1.json shape).

Usage::

    python scripts/certify_scale.py --sf-dir .scratch/sf1 \
        --out CORRECTNESS_SF1.json [--cpus 32] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--only", default=None, help="comma-sep query subset")
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)

    # conftest reads the fixture dir from the env at import time.
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = sf_dir

    import duckdb

    from conftest import normalize  # the pytest gate's normalization

    from hbase_tools_spark.session import get_spark
    import hbase_tools_spark.operators  # noqa: F401
    import hbase_tools_spark.llm  # noqa: F401
    import hbase_tools_spark.streaming  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.functions.cache import release_stage_caches

    spark = get_spark("hbase-tools-spark-certify", cpus=args.cpus)

    # One fresh DuckDB connection PER QUERY with symmetric spill
    # treatment (bench.py's convention, round 11): at 100x the
    # span/window oracles exceed DuckDB's default in-memory budget and
    # die with "Failed to allocate block" unless the connection has a
    # spill dir — and a heavy oracle can leave a shared connection's
    # buffer state unable to run the NEXT heavy oracle (measured:
    # docs_window_dedup's oracle passes on a fresh connection, fails
    # on one that just spilled through docs_span_removed's).  The
    # certificate must measure each oracle, not connection history.
    from hbase_tools_spark.functions import workdir

    try:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        mem = 0
    # 75% of RAM (not bench.py's tighter 50% cap): certification runs
    # one engine at a time — the Spark job has already returned before
    # its oracle executes, so only the idle 8 g JVM shares the box —
    # and the sf10 span/window oracles need ~50-90 GB (they fail at a
    # 48 GB cap, pass at DuckDB's own default on this 125 GiB host;
    # the r10 34/34 certificate ran exactly that default).
    duck_mem = os.environ.get(
        "SPARK_GRAFT_DUCK_MEM",
        f"{max(1, int(mem * 0.75 / 2**30))}GB" if mem else "48GB",
    )
    spill = workdir.scratch(spark, "duck_spill_certify_")

    def fresh_con():
        c = duckdb.connect()
        try:
            c.execute(f"SET memory_limit='{duck_mem}'")
            c.execute(f"SET temp_directory='{spill}'")
        except Exception:
            pass  # older duckdb without the pragma
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]:
            path = f"{sf_dir}/{t}.parquet"
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return c

    names = sorted(QUERIES)
    if args.only:
        requested = [n for n in args.only.split(",") if n]
        unknown = [n for n in requested if n not in QUERIES]
        if unknown:
            # A typo must not silently shrink the sweep and still
            # report green with a smaller n_queries.
            raise SystemExit(
                f"--only: not in the registry: {', '.join(unknown)}"
            )
        names = requested
    m = load_model(spark, sf_dir)
    results: dict[str, dict] = {}
    n_match = n_rows_only = n_err = n_oracle_oom = 0
    t_start = time.time()
    for name in names:
        q = QUERIES[name]
        try:
            sdf = q.fn(m).toPandas()
            if q.oracle is None:
                results[name] = {"rows": len(sdf), "rows_only": True}
                n_rows_only += 1
            else:
                con = fresh_con()
                try:
                    ddf = con.sql(q.oracle).fetchdf()
                except duckdb.OutOfMemoryException as oexc:
                    # The COMPARISON ENGINE ran out of memory, not the
                    # engine under test (the Spark result above is
                    # already computed): record it as the bench's
                    # established duck_oracle_oom class, distinct from
                    # an engine failure.  At sf10 the span/window
                    # oracles need ~RAM-order memory (BENCH_SF10.json
                    # documents the same class).
                    ddf = None
                    results[name] = {
                        "rows": len(sdf),
                        "duck_oracle_oom": True,
                        "duck_err": str(oexc)[:200],
                    }
                    n_oracle_oom += 1
                finally:
                    con.close()
                if ddf is not None:
                    ok = (
                        sorted(sdf.columns) == sorted(ddf.columns)
                        and len(sdf) == len(ddf)
                        and normalize(sdf) == normalize(ddf)
                    )
                    results[name] = {"rows": len(sdf), "match": bool(ok)}
                    n_match += ok
                    if not ok:
                        n_err += 1
        except Exception as exc:  # keep certifying the rest
            results[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
            n_err += 1
        finally:
            release_stage_caches()
            # free py4j refs so ContextCleaner CAN drop checkpoint
            # blocks between queries (the bench.py discipline; without
            # it a 100x sweep accumulates blocks until the heap dies)
            import gc

            gc.collect()
        print(name, results[name], flush=True)
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(names),
        "n_match": n_match,
        "n_rows_only": n_rows_only,
        "n_fail": n_err,
        "n_duck_oracle_oom": n_oracle_oom,
        "wall_sec": round(time.time() - t_start, 1),
        "queries": results,
    }
    if args.out:
        with open(os.path.join(ROOT, args.out), "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in out if k != "queries"}))


if __name__ == "__main__":
    main()
