"""Physical-plan regression guards (SCALE.md audit, frozen as tests):
losing a broadcast, gaining a sort-merge join, or dropping parquet
pushdown is a scale regression even when results stay correct."""

from __future__ import annotations

import pytest

import hbase_tools_spark.llm  # noqa: F401
import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.registry import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(load_model(spark, SF_DIR))
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["region_health_join", "compaction_plan", "merge_plan", "range_lookup",
     "embedding_topk", "health_check_eligible"],
)
def test_dimension_joins_are_broadcast_not_smj(spark, name):
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan, f"{name} regressed to sort-merge join"
    assert "Broadcast" in plan, f"{name} lost its broadcast"


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # 7 referenced columns only — a full-width scan is a regression
    read = plan.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read and "l_partkey" not in read


@pytest.mark.parametrize(
    "name",
    ["text_stats", "lang_id_heuristic", "doc_fingerprints",
     "docs_gopher_rules"],
)
def test_narrow_text_ops_have_no_exchange(spark, name):
    plan = _plan(spark, name)
    assert "Exchange" not in plan, f"{name} gained a shuffle"


def test_embedding_topk_pushes_probe_filter_to_scan(spark):
    plan = _plan(spark, "embedding_topk")
    assert "LessThan(vec_id" in plan, "probe filter no longer pushed to parquet"


def test_salted_rollup_is_two_phase(spark):
    """The skew-safe rollup must really aggregate in two phases keyed
    through the salt: the salt column appears in the plan and there are
    (at least) the salted and the final exchange."""
    plan = _plan(spark, "events_salted_rollup")
    assert "__salt" in plan, "salt column vanished — not a salted aggregation"
    assert plan.count("Exchange") >= 2, "two-phase agg collapsed to one exchange"


def test_topology_asof_read_is_partition_pruned(spark, tmp_path):
    """The as-of floor read must reach the scan as a static partition
    filter: snapshots newer than the as-of instant are never read."""
    from hbase_tools_spark.sources.tables import (
        read_topology_asof,
        snapshot_topology,
    )

    m = load_model(spark, SF_DIR)
    topo = m.topology.limit(50)
    store = str(tmp_path / "topo_store")
    for epoch in (1000, 2000, 3000):
        snapshot_topology(topo, store, epoch)
    asof = read_topology_asof(spark, store, 2500)
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "snapshot_epoch" in pf and "2500" in pf, pf
    # floor semantics: only the 2000 snapshot survives
    epochs = {r["snapshot_epoch"] for r in asof.select("snapshot_epoch").distinct().collect()}
    assert epochs == {2000}


def test_no_unjustified_cartesian_or_nested_loop_join(spark):
    """Blanket scale guard over EVERY registered batch query's executed
    plan: no CartesianProduct anywhere, and BroadcastNestedLoopJoin only
    in the whitelisted queries whose non-equi/cross operand is a
    broadcast scalar or constant-size relation by construction (1-row
    aggregates, the fixed probe set, the literal range grid).  A new
    query that accidentally degrades to an unkeyed join fails here
    before it ever reaches a benchmark."""
    import __spark_entry__ as e

    BNLJ_OK = {
        # broadcast side is a 1-row aggregate / scalar threshold
        "health_check_eligible", "distribution_weight",
        "distribution_candidates", "busiest_emptiest",
        "report_rs_distribution", "server_prefix_resolve",
        "tfidf_top_terms",  # corpus-size N rides as a broadcast 1-row agg
        "source_unigram_divergence",  # corpus-total N: broadcast 1-row agg
        "docs_dsir_weights",  # feature-space totals: broadcast 1-row agg
        "docs_ccnet_perplexity",  # LM vocab size V: broadcast 1-row agg
        "docs_ccnet_perplexity_served",  # same scoring plan, persisted LM
        "docs_kneser_ney_perplexity",  # T+V normalizer / unseen fallback: 1-row aggs
        "bloom_contamination",  # constant-size bitmap: broadcast 1-row array
        "bigram_pmi_top",  # corpus totals N / N_b: broadcast 1-row aggs
        "neardup_pagerank",  # node count N: broadcast 1-row agg per iteration
        "docs_budget_selection",  # corpus token budget: broadcast 1-row agg
        "bpe_merge_steps",  # per-round argmax merge pair: broadcast 1-row LIMIT 1
        "bpe_encode_tokens",  # same training chain: per-round 1-row argmax broadcasts
        "docs_bm25_topk",  # (n_docs, avgdl) statistics: broadcast 1-row agg
        "docs_bm25_served",  # same 1-row stats broadcast, from the index
        "docs_bm25_stream_served",  # same serving plan over the streamed index
        "kv_admin_roundtrip",  # lock now_seq: broadcast 1-row max agg
        "topology_store_roundtrip",  # as-of floor epoch: broadcast 1-row agg
        "hybrid_rrf_search",  # same 1-row corpus-stats broadcast in the lexical leg
        "hybrid_rrf_served",  # same lexical-leg stats broadcast, served legs
        "retrieval_rank_overlap",  # same lexical leg; plus the 10-row weight lookup
        # broadcast side is the fixed probe set / literal range grid
        "embedding_topk", "range_lookup",
        "ann_recall_at_k",  # contains embedding_topk's fixed-probe-set leg
        "retrieval_ndcg",  # same legs; plus the 2-row method-grid broadcast
        "embedding_int8_topk",  # fixed probe set, quantized + exact rerank
        "embedding_pq_topk",  # 5-row probe relation with driver-built ADC luts
        "docs_length_percentile_filter",  # p5/p95 thresholds: broadcast 1-row agg
        "docs_curriculum_order",  # quartile thresholds: broadcast 1-row agg
        "word_embedding_neighbors",  # cooc total N: broadcast 1-row agg
        "events_markov_attribution",  # p_full / effect-total: broadcast 1-row relations
        "docs_lr_quality_train",  # weight vector + n: broadcast 1-row relations per GD step
        "docs_lr_quality_served",  # persisted 1-row weights broadcast into the scan
        "corpus_temperature_mixture",  # total tokens + normalizer: broadcast 1-row aggs
        # broadcast side is the n_types^2 pair grid / the 5*k-row sketch
        # relation — both constant-size by construction (k=128, 5 types)
        "events_kmv_overlap",
        # broadcast sides are the 1-row total and the ~60-row bucket
        # histogram (inequality boundary pick) — constant-size state
        "docs_length_quantile_sketch",
    }
    qs = e.queries()
    offenders = {}
    for name, fn in qs.items():
        if name.startswith("stream_"):
            continue  # drains execute eagerly; streaming shapes are pinned elsewhere
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_oov_vocab_join_is_broadcast(spark):
    """The top-k vocabulary must ride as a broadcast — re-shuffling the
    (source, word) relation against a k-row dim is a scale regression."""
    plan = _plan(spark, "oov_rate_by_source")
    assert "BroadcastHashJoin" in plan, "vocab join lost its broadcast"
    assert "SortMergeJoin" not in plan


def test_window_dedup_has_no_window_key_join(spark):
    """The dup counts must derive from the doc-frequency aggregate
    alone (n_windows - n_unique): re-associating posts against the
    rollup via a corpus-vs-corpus join on the window key was measured
    3x slower at 10x corpus.  The only join is per-doc (hash, not SMJ),
    and the heavy shuffle keys on xxhash64-folded windows."""
    plan = _plan(spark, "docs_window_dedup")
    # the reuse point is a lazy persist, so the printed plan INCLUDES
    # the cached subtree where the shingle string legitimately exists
    # (pre-fold, scan-stage); the invariant is that no SHUFFLE ever
    # keys on the window string — every exchange keys on the folded
    # 8-byte wh / the doc id
    assert "wh#" in plan, "window keys no longer hash-folded"
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        # check EVERY key in the exchange's key list, not just the
        # first — a window string smuggled in as a second/later shuffle
        # key (hashpartitioning(doc_id#1, shingle#2, 200)) must fail
        for key in seg.split(")", 1)[0].split(", "):
            assert not key.strip().startswith("shingle"), (
                "window strings leaked into a shuffle key"
            )
    assert "ShuffledHashJoin" in plan, "doc-level join lost the hash hint"
    assert "SortMergeJoin" not in plan
    # exactly one join operator: the doc-keyed one
    assert plan.count("Join") == 1, "corpus-keyed re-association join returned"


def test_curriculum_order_single_exchange_and_pruned_scan(spark):
    """docs_curriculum_order's one shuffle is the (band, shard) hash
    exchange its window needs — the epoch-shuffle discipline — and the
    documents scan prunes to the consumed columns."""
    plan = _plan(spark, "docs_curriculum_order")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "lang" not in read and "source" not in read


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    """The BM25 top-k must plan as TakeOrderedAndProject (bounded
    per-partition heaps) — a global Sort before the limit would
    materialize a corpus-wide order at 100 TB."""
    plan = _plan(spark, "docs_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "lang" not in read and "n_chars" not in read


def test_jaccard_shj_hint_is_size_guarded(spark, monkeypatch):
    """The jaccard self-join's shuffle_hash hint must apply at fixture
    scale (both sides hashed — the measured-faster local plan) and
    DROP above the documents-bytes threshold, where a forced SHJ
    build map OOMs and the sort-merge fallback spills (measured at
    the 100x fixture, 8 g default heap — round 11), or when the size
    is unknown.  No unguarded ``hint("shuffle_hash")`` call may remain
    anywhere in the package."""
    import os
    import subprocess

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm import dedup as D

    m = load_model(spark, SF_DIR)
    df = spark.range(1)

    def logical(guarded):
        return guarded._jdf.queryExecution().logical().toString()

    assert "UnresolvedHint shuffle_hash" in logical(D._corpus_shj(df, m)), (
        "fixture-scale corpus lost the shuffle_hash hint"
    )
    for size in (D._SHJ_DOCS_BYTES + 1, None):
        monkeypatch.setattr(D, "relation_bytes", lambda _df, n=size: n)
        assert "UnresolvedHint" not in logical(D._corpus_shj(df, m)), (
            f"a {size}-byte corpus kept the forced SHJ hint"
        )
    monkeypatch.undo()

    pkg = os.path.join(os.path.dirname(D.__file__), "..")
    out = subprocess.run(
        ["grep", "-rn", 'hint("shuffle_hash")', os.path.abspath(pkg)],
        capture_output=True, text=True,
    ).stdout
    # the only allowed raw-hint line is the one inside the guard
    # helper itself (_corpus_shj in dedup.py)
    raw = [ln for ln in out.splitlines() if ln.strip()]
    allowed = [ln for ln in raw if "return df.hint" in ln]
    assert raw == allowed, f"unguarded shuffle_hash sites: {set(raw) - set(allowed)}"


def test_codegen_confs_set_only_in_catalog():
    """The codegen posture is chosen in one place: ``load_model`` picks
    it from the model's bytes (``catalog._codegen_posture``).  No other
    package module may mention a ``spark.sql.codegen.`` key, or a
    request could silently flip the posture for every later one."""
    import os
    import subprocess

    import hbase_tools_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    out = subprocess.run(
        ["grep", "-rl", "--include=*.py", "spark.sql.codegen.", root],
        capture_output=True, text=True,
    ).stdout
    files = sorted(os.path.relpath(p, root) for p in out.split())
    assert files == ["catalog.py"], f"codegen confs set outside catalog.py: {files}"


def test_one_session_recipe():
    """Sessions are built in one place and the SQL posture is set in
    one place.  Across the package, ``bench.py`` and ``scripts/``,
    ``SparkSession.builder`` appears only in ``session.py`` and in
    ``scripts/serve_decompose.py`` (its event log is a static conf);
    within the package, the AQE, constraint-propagation and
    shuffle-partition keys appear only in ``catalog.py``.  One exception
    is pinned by name: ``streaming/jobs.run_to_table`` sets the shuffle
    partitions for the length of one drain and restores them, because
    Spark fixes a stream's state-store partition count from that key at
    its first start."""
    import os
    import subprocess

    import hbase_tools_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    repo = os.path.dirname(pkg_dir)

    def grep(pattern, *paths):
        out = subprocess.run(
            ["grep", "-rlF", "--include=*.py", pattern, *paths],
            capture_output=True, text=True,
        ).stdout
        return sorted(os.path.relpath(p, repo) for p in out.split())

    builders = grep(
        "SparkSession.builder",
        pkg_dir, os.path.join(repo, "bench.py"), os.path.join(repo, "scripts"),
    )
    assert builders == [
        "hbase_tools_spark/session.py", "scripts/serve_decompose.py"
    ], f"SparkSession built outside session.get_spark: {builders}"
    catalog = ["hbase_tools_spark/catalog.py"]
    for key, allowed in (
        ("spark.sql.adaptive.", catalog),
        ("spark.sql.constraintPropagation.", catalog),
        ("spark.sql.shuffle.partitions", catalog + ["hbase_tools_spark/streaming/jobs.py"]),
    ):
        files = grep(key, pkg_dir)
        assert files == allowed, f"{key} set in {files}"


@pytest.mark.parametrize(
    "name", ["table_lifecycle_roundtrip", "server_prefix_resolve", "salted_keys"]
)
def test_admin_literals_and_keys_run_without_python_workers(spark, name):
    """Literal rows and salted keys are JVM-side: no ``PythonRDD`` (a
    local-list ``createDataFrame``) in the RDD lineage and no
    ``EvalPython`` (a Python UDF) in the executed plan."""
    import hbase_tools_spark.sources.tables  # noqa: F401 — registers queries

    df = QUERIES[name].fn(load_model(spark, SF_DIR))
    qe = df._jdf.queryExecution()
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    assert "EvalPython" not in qe.executedPlan().toString()


def test_scratch_dirs_come_from_the_one_work_root():
    """Only ``functions/workdir.py`` makes scratch directories: no other
    package file may call ``mkdtemp``, probe ``/dev/shm``, register an
    ``atexit`` hook or name a ``"/tmp"`` path."""
    import os
    import subprocess

    from hbase_tools_spark.functions import workdir

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(workdir.__file__)))
    out = subprocess.run(
        ["grep", "-rlE", "--include=*.py", r"""mkdtemp|/dev/shm|atexit|["']/tmp["']""", pkg],
        capture_output=True, text=True,
    ).stdout
    assert out.split() == [os.path.abspath(workdir.__file__)]


def test_stream_queries_start_only_in_streaming():
    """Only ``streaming/`` starts stream queries: no other package
    module names ``writeStream``, ``foreachBatch`` or
    ``awaitTermination`` (the stores drain through
    ``streaming.jobs.drain_fixture``)."""
    import os
    import subprocess

    from hbase_tools_spark.functions import workdir

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(workdir.__file__)))
    out = subprocess.run(
        ["grep", "-rlE", "--include=*.py",
         "writeStream|foreachBatch|awaitTermination", pkg],
        capture_output=True, text=True,
    ).stdout
    streaming = os.path.join(pkg, "streaming") + os.sep
    assert [f for f in out.split() if not f.startswith(streaming)] == []


def test_artifacts_and_stream_stores_have_one_lifecycle():
    """Served artifacts have one maker, ``memo.artifact``: no program
    file names ``workdir.built``.  The stream stores drain through one
    fixture-guarded call: in the package only ``streaming/jobs.py``
    calls ``drain_batches`` or ``assert_view_matches_fixture``."""
    import glob
    import os
    import subprocess

    from hbase_tools_spark.functions import workdir

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(workdir.__file__)))
    repo = os.path.dirname(pkg)
    program = (
        glob.glob(f"{pkg}/**/*.py", recursive=True)
        + glob.glob(f"{repo}/scripts/**/*.py", recursive=True)
        + [f"{repo}/bench.py", f"{repo}/__spark_entry__.py"]
    )
    assert not hasattr(workdir, "built")
    assert [p for p in program if "workdir.built" in open(p).read()] == []
    for pattern in (r"drain_batches\(", r"assert_view_matches_fixture\("):
        out = subprocess.run(
            ["grep", "-rlE", "--include=*.py", pattern, pkg],
            capture_output=True, text=True,
        ).stdout
        assert out.split() == [os.path.join(pkg, "streaming", "jobs.py")], pattern


def test_codec_queries_share_one_per_document_map():
    """The real-codec queries of ``llm/multimodal.py`` go through one
    per-document map, so the module calls ``spread_if_undersplit(``
    exactly once."""
    from hbase_tools_spark.llm import multimodal

    with open(multimodal.__file__) as f:
        assert f.read().count("spread_if_undersplit(") == 1


def test_partition_counts_come_from_the_one_rule():
    """Only ``functions/partitioning.py`` reads the core count
    (``defaultParallelism``) or calls ``repartition(``, so no
    ``repartition(`` in front of a ``mapInPandas`` takes a core count:
    every Python stage's input is split by a function there, and each
    of those sizes its count with ``partitions_for``.  The bytes it is
    fed come from one probe there too, ``relation_bytes``: no other
    module reads plan statistics, a Hadoop content summary or the
    filesystem's file sizes."""
    import ast
    import os
    import subprocess

    from hbase_tools_spark.functions import partitioning

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(partitioning.__file__)))
    here = [os.path.abspath(partitioning.__file__)]

    def files_with(pattern):
        return subprocess.run(
            ["grep", "-rlE", "--include=*.py", pattern, pkg],
            capture_output=True, text=True,
        ).stdout.split()

    for pattern in ("defaultParallelism", r"repartition\(", "sizeInBytes"):
        assert files_with(pattern) == here, pattern
    for pattern in ("getContentSummary", r"os\.walk", "getsize"):
        assert files_with(pattern) in ([], here), pattern
    with open(partitioning.__file__) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and "repartition(" in ast.unparse(node):
            assert "partitions_for(" in ast.unparse(node), node.name


def test_stream_stage_lives_under_the_work_root(spark):
    """The stream stage dir lies under ``workdir.root``, not under a
    hard-coded ``/tmp`` path."""
    import os

    from hbase_tools_spark.functions import workdir
    from hbase_tools_spark.streaming import jobs as J

    root = workdir.root(spark) + os.sep
    J.events_stream(spark, SF_DIR)
    stage, _ = J._STAGED[os.path.join(SF_DIR, "events.parquet")]
    assert stage.startswith(root)


def test_work_root_refuses_a_non_local_master():
    """Scratch paths are driver-local, so a non-local master (executors
    on other hosts) is refused with the shared-filesystem reason."""
    from types import SimpleNamespace

    from hbase_tools_spark.functions import workdir

    stub = SimpleNamespace(sparkContext=SimpleNamespace(master="spark://h:7077"))
    with pytest.raises(RuntimeError, match="share the driver's filesystem"):
        workdir.root(stub)


#: Top-level defs no root reaches but the package keeps on purpose.
_UNREACHED_ON_PURPOSE = {
    # golden reference the JVM _midpoint12_hex is pinned against (test_keys.py)
    "midpoint_key",
    # public connector porting path; test_queries_green_on_kv_model runs it
    "load_model_from_kv",
}


def test_every_package_function_is_reachable():
    """Every top-level def in the package is reached from a root: an
    ``@query`` function, module-level code, or a name used by
    ``__spark_entry__.py``, ``bench.py``, ``scripts/`` or non-test
    ``perfbench/``.  Uses are matched by name (a ``Name`` or an
    attribute), which over-approximates reachability, so a live def is
    never flagged; a def only tests call is."""
    import ast
    import glob
    import os

    import hbase_tools_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    repo = os.path.dirname(pkg_dir)

    def names(node) -> set:
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    def parse(path):
        with open(path) as fh:
            return ast.parse(fh.read(), path)

    uses: dict[str, set] = {}  # def name -> names its body uses
    roots: set = set()
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        for node in parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                uses.setdefault(node.name, set()).update(names(node))
                # decorators and defaults run at import time
                for d in node.decorator_list:
                    roots |= names(d)
                    if "query" in names(d):
                        roots.add(node.name)
                if not isinstance(node, ast.ClassDef):
                    for d in filter(None, node.args.defaults + node.args.kw_defaults):
                        roots |= names(d)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= names(node)
    entry = [os.path.join(repo, "__spark_entry__.py"), os.path.join(repo, "bench.py")]
    entry += glob.glob(os.path.join(repo, "scripts", "*.py"))
    entry += glob.glob(os.path.join(repo, "perfbench", "*.py"))
    for path in entry:
        roots |= names(parse(path))

    reached, todo = set(), roots & set(uses)
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= (uses[name] & set(uses)) - reached
    unreached = set(uses) - reached
    assert unreached == _UNREACHED_ON_PURPOSE, (
        f"only tests reach: {sorted(unreached - _UNREACHED_ON_PURPOSE)}; "
        f"now reached, drop from the allowlist: "
        f"{sorted(_UNREACHED_ON_PURPOSE - unreached)}"
    )
