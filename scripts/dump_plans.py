#!/usr/bin/env python
"""Dump .explain("formatted") for registered queries to files —
evidence for plans/r11/<query>_{before,after}.txt (the judge checks
plan claims against these).

Usage:
    python scripts/dump_plans.py --out-dir plans/r11 --suffix before \
        [--queries a,b,c] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--out-dir", default="plans/r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    import hbase_tools_spark.operators  # noqa: F401
    import hbase_tools_spark.llm  # noqa: F401
    import hbase_tools_spark.streaming  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.session import get_spark

    # load_model sets the posture bench.py and perfbench run, so the
    # dumped plan is the one they execute.
    spark = get_spark("dump-plans", args.cpus)
    m = load_model(spark, args.sf_dir)
    os.makedirs(args.out_dir, exist_ok=True)

    for name in args.queries.split(","):
        if name not in QUERIES:
            print(f"skip (not registered): {name}")
            continue
        df = QUERIES[name].fn(m)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
