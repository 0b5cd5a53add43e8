"""The benchmark's workloads and their seeded request order.

Each workload is a closed loop with one client: the next request is
sent only after the previous result is complete.  A pass sends every
request of the workload once, in an order drawn from the seed; the
first pass runs cold (memo artifacts, index ingests and JIT warm-up are
paid there) and the later passes run warm.

A request is a registered query name — ``QUERIES[name].fn(model)``
followed by ``.toPandas()`` — or ``REPORT``, one
``reporting.cluster_state`` call: the headline of the console report.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

REPORT = "cluster_state"

#: Measured warm passes per run.  A request's warm latency is its median
#: over them, which leaves out the first warm pass when it still runs
#: slow while the JVM's C2 compiler catches up (10-30 % on
#: ``admin_ingest``) and a pass that a burst of host load hits.
MEASURED_PASSES = 3

#: Layers timed per request: the program modules queries register from.
MODULES = (
    "operators.analyzer", "operators.reports", "operators.planners",
    "operators.joins", "operators.temporal", "operators.health",
    "operators.keyspace", "operators.writepath",
    "llm.dedup", "llm.text", "llm.corpus", "llm.pipeline", "llm.search",
    "llm.similarity",
    "streaming.jobs", "streaming.stateful",
    "sources.kv", "sources.tables",
    "reporting",
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: ``TOOL_QUERIES`` entry -> the requests this workload draws from it.
    tools: dict[str, tuple[str, ...]]
    #: Registered queries outside the CLI tool groups, plus ``REPORT``.
    extras: tuple[str, ...]
    #: Unmeasured warm passes between the cold pass and the measured ones.
    warmup_passes: int = 0
    #: Run the stateful funnel over a 12-file micro-batch feed once.
    stream_feed: bool = False

    @property
    def requests(self) -> tuple[str, ...]:
        named = [q for qs in self.tools.values() for q in qs]
        return tuple(dict.fromkeys(named + list(self.extras)))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="admin_ingest",
            why=(
                "cluster-admin reads from the reference tools plus the write "
                "side: stream drains, table/kv round-trips and upserts over "
                "the model relations; plan building and per-job floor dominate"
            ),
            tools={
                "table_analyzer": ("analyzer_table_size",),
                "report": ("report_heap_pressure",),
                "flusher": ("flush_plan",),
                "key_generator": ("salted_keys",),
                "health_check": ("health_probe_plan",),
                "meta": ("topology_diff",),
                "table_checker": ("region_bounds",),
            },
            extras=(
                REPORT,
                "upsert_dedup",
                "stream_dedup_keys", "stream_funnel_stage",
                "table_lifecycle_roundtrip", "kv_admin_roundtrip",
            ),
            stream_feed=True,
        ),
        Workload(
            name="corpus_retrieval",
            why=(
                "LLM-data curation (dedup, text and corpus statistics, "
                "sampling) interleaved with retrieval: BM25 and exact top-k, "
                "and a served twin that reads a memoized signature store"
            ),
            tools={
                "llm_dedup": ("docs_exact_dedup", "minhash_band_pairs"),
                "llm_text": ("text_stats", "vocab_top_terms"),
                "llm_prep": ("docs_stratified_sample",),
                "llm_embed": ("embedding_topk",),
                "search": ("docs_bm25_topk",),
            },
            extras=("minhash_stream_served",),
            # The JVM keeps compiling this workload's Arrow and pandas
            # paths for five to six passes (a pass fell from 3.8 s to
            # 2.5 s over eight), so the measured passes come after three
            # warm-up passes.
            warmup_passes=3,
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    """The request order of pass ``pass_no``: a permutation of the
    workload's requests drawn from (seed, pass_no) alone."""
    order = list(workload.requests)
    random.Random(f"{workload.name}:{seed}:{pass_no}").shuffle(order)
    return order


def registered_queries() -> dict:
    """``registry.QUERIES`` with every query family imported."""
    import hbase_tools_spark.llm  # noqa: F401 — registers queries
    import hbase_tools_spark.operators  # noqa: F401
    import hbase_tools_spark.streaming  # noqa: F401
    from hbase_tools_spark.registry import QUERIES

    return QUERIES


def module_of(request: str) -> str:
    """The program module a request's work is attributed to."""
    if request == REPORT:
        return "reporting"
    fn = registered_queries()[request].fn
    return fn.__module__.removeprefix("hbase_tools_spark.")
