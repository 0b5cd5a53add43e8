#!/usr/bin/env python
"""Generate the derived sf1 scaling fixture used by SCALE.md's
sf0.1→sf1 probe: documents/embeddings replicated ``--factor`` times
with per-replica DISJOINT token vocabularies (tokens suffixed ``_k``)
and shifted ids, so the corpus grows by the factor while the duplicate
rate stays constant — the correct null model for measuring dedup/ANN
scaling (naive replication would explode cross-replica near-dup pairs
~factor² and measure the explosion, not the engine).  Embedding
replicas get a small per-replica offset (keeps the cosine structure,
breaks exact duplication).  All other tables are symlinked from the
source scale factor.

Usage::

    python scripts/make_scaled_fixture.py \
        --src /root/testdata/sf0.1 --out .scratch/sf1 --factor 10

Then::

    SPARK_GRAFT_SF_DIR=.scratch/sf1 SPARK_GRAFT_BENCH_QUERIES=... python bench.py
"""

from __future__ import annotations

import argparse
import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ID_SHIFT = 10_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=".scratch/sf1")
    ap.add_argument("--factor", type=int, default=10)
    # 0 = symlink events from src (default).  N>1 replicates events N
    # times with DISJOINT user populations (user_id/event_id shifted per
    # replica) — distinct-cardinality grows by N while per-user activity
    # and type overlap structure stay constant, the correct null model
    # for the sketch family's scaling probe (operators/sketches.py).
    ap.add_argument("--events-factor", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.model import BASE_TABLES
    from hbase_tools_spark.session import get_spark

    spark = get_spark("make-scaled-fixture")

    # abspath BOTH ends: a relative --src would otherwise be stored
    # verbatim in the symlinks and resolve against the OUTPUT dir
    args.src = os.path.abspath(args.src)
    m = load_model(spark, args.src)
    out = os.path.abspath(args.out)
    os.makedirs(out, exist_ok=True)

    docs = [m.documents]
    embs = [m.embeddings]
    for k in range(1, args.factor):
        docs.append(
            m.documents.withColumn("doc_id", F.col("doc_id") + F.lit(k * _ID_SHIFT))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(t, F.lit(f"_{k}")),
                    ),
                    " ",
                ),
            )
        )
        embs.append(
            m.embeddings.withColumn("vec_id", F.col("vec_id") + F.lit(k * _ID_SHIFT))
            .withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"), lambda x: (x + F.lit(k * 0.0005)).cast("float")
                ),
            )
        )
    union = lambda dfs: functools.reduce(lambda a, b: a.unionByName(b), dfs)
    union(docs).coalesce(16).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    union(embs).coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    if args.events_factor > 1:
        evs = [m.events]
        for k in range(1, args.events_factor):
            evs.append(
                m.events.withColumn(
                    "user_id", F.col("user_id") + F.lit(k * _ID_SHIFT)
                ).withColumn(
                    "event_id", F.col("event_id") + F.lit(k * _ID_SHIFT)
                )
            )
        union(evs).coalesce(16).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet")
        )
    for t in BASE_TABLES:
        if t in ("documents", "embeddings"):
            continue
        if t == "events" and args.events_factor > 1:
            continue
        link = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(args.src, f"{t}.parquet"), link)
    print(f"wrote {out} (factor {args.factor} from {args.src})")


if __name__ == "__main__":
    main()
