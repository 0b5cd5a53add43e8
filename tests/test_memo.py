"""Content-keyed memoization: cached artifacts must invalidate when a
registered view is swapped under the same sf_dir (round-5 advice: the
served BM25 index previously keyed on sf_dir alone and served stale
postings after a fixture swap)."""

from __future__ import annotations

import pytest
from conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_model_cached_rebuilds_on_view_swap(spark):
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.functions.memo import model_cached

    m = Model(spark, "/tmp/memo_fixture")
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    try:
        _docs(spark, [(0, "alpha beta", "en", "s0", 10)]).createOrReplaceTempView(
            "documents"
        )
        assert model_cached(m, "probe", build) == 1
        # same content object -> cache hit, no rebuild
        assert model_cached(m, "probe", build) == 1
        assert len(calls) == 1
        # swapped view under the SAME sf_dir -> fingerprint changes,
        # rebuild happens and the superseded entry is evicted
        _docs(spark, [(1, "gamma delta", "en", "s0", 11)]).createOrReplaceTempView(
            "documents"
        )
        assert model_cached(m, "probe", build) == 2
        assert len(calls) == 2
        from hbase_tools_spark.functions.memo import _CACHE

        assert sum(1 for k in _CACHE if k[:2] == ("/tmp/memo_fixture", "probe")) == 1
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_failed_build_keeps_the_superseded_entry(spark):
    """A build that raises for a new fingerprint leaves the old
    fingerprint's entry in place: restoring the old view serves it
    without a rebuild."""
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.functions.memo import model_cached

    m = Model(spark, "/tmp/memo_failed_build_fixture")
    calls = []

    def build():
        calls.append(spark.table("documents").count())
        if calls[-1] != 1:
            raise RuntimeError("refused view")
        return "built"

    a = _docs(spark, [(0, "alpha beta", "en", "s0", 10)])
    b = _docs(spark, [(1, "gamma", "en", "s0", 5), (2, "delta", "en", "s0", 5)])
    try:
        a.createOrReplaceTempView("documents")
        assert model_cached(m, "probe", build) == "built"
        b.createOrReplaceTempView("documents")
        with pytest.raises(RuntimeError, match="refused view"):
            model_cached(m, "probe", build)
        a.createOrReplaceTempView("documents")
        assert model_cached(m, "probe", build) == "built"
        assert len(calls) == 2
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_bm25_served_not_stale_after_fixture_swap(spark):
    """The round-5 advice scenario end-to-end: docs_bm25_served must
    re-derive its index when the documents view is re-registered with
    different content, matching the direct-scan query on the NEW
    corpus."""
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.search import docs_bm25_served, docs_bm25_topk

    # >= 13 distinct words so the Zipf-rank [11, 13] query terms exist;
    # corpus B shifts the frequency ranking so results must move.
    words = [f"w{i:02d}" for i in range(16)]

    def corpus(seed: int):
        rows = []
        for d in range(8):
            text = " ".join(
                words[(d * (seed + 3) + j) % len(words)]
                for j in range((d + seed) % 5 + 8)
            )
            rows.append((d, text, "en", f"s{d % 2}", len(text)))
        return _docs(spark, rows)

    m = Model(spark, "/tmp/memo_bm25_fixture")
    try:
        corpus(1).createOrReplaceTempView("documents")
        first = docs_bm25_served(m).collect()
        assert first  # sanity: the index served something
        corpus(2).createOrReplaceTempView("documents")
        direct = sorted(
            (r["doc_id"], r["rank"], r["score"]) for r in docs_bm25_topk(m).collect()
        )
        served = sorted(
            (r["doc_id"], r["rank"], r["score"]) for r in docs_bm25_served(m).collect()
        )
        assert served == direct
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_ann_scoreboard_legs_not_stale_after_embeddings_swap(spark):
    """The memoized exact/served ANN legs must re-derive when the
    embeddings view is re-registered with different content — same
    staleness class as the served BM25 index, for the vector side."""
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.similarity import exact_topk_leg

    def emb(seed: int):
        import math

        rows = [
            (
                v,
                [math.sin(0.1 * (v * 7 + seed) * (d + 1)) for d in range(64)],
                v % 3,
            )
            for v in range(12)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    m = Model(spark, "/tmp/memo_ann_fixture")
    try:
        def snap():
            # full-row snapshot (scores included): the neighbor SET can
            # coincide across fixtures, the score values cannot
            return sorted(map(tuple, exact_topk_leg(m).toPandas().astype(str).values.tolist()))

        emb(1).createOrReplaceTempView("embeddings")
        first = snap()
        assert first
        emb(2).createOrReplaceTempView("embeddings")
        second = snap()
        assert first != second
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_stream_served_guards_against_view_swap(spark):
    """The streaming-ingested stores are built from the ON-DISK fixture
    (streams cannot read temp views), so their serving path must REFUSE
    a swapped documents view instead of silently diverging (round-6
    advice: the old content-keyed memo rebuilt from the old files)."""
    import hbase_tools_spark.llm  # noqa: F401 — registers the queries
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.streaming.jobs import assert_view_matches_fixture

    m = Model(spark, SF_DIR)
    try:
        load_model(spark, SF_DIR)
        assert_view_matches_fixture(m, "documents")  # fixture-backed: fine
        _docs(spark, [(0, "alpha beta", "en", "s0", 10)]).createOrReplaceTempView(
            "documents"
        )
        with pytest.raises(ValueError, match="does not match the on-disk"):
            assert_view_matches_fixture(m, "documents")
        for name in ("minhash_stream_served", "docs_bm25_stream_served"):
            with pytest.raises(ValueError, match="does not match the on-disk"):
                QUERIES[name].fn(m)
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("minhash_stream_served", 1),
        ("docs_bm25_stream_served", 2),
        ("embedding_ivf_stream_served", 1),
    ],
)
def test_warm_stream_served_request_runs_no_schema_inference(spark, name, jobs):
    """The stream stores check the fixture once per build, so a warm
    request runs only its serving jobs: no parquet schema-inference job
    for the view guard or for re-reading the store."""
    import time
    import uuid

    import hbase_tools_spark.llm  # noqa: F401 — registers the queries
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    m = load_model(spark, SF_DIR)
    QUERIES[name].fn(m).collect()  # cold: builds the store if need be

    def in_group(run) -> str:
        group = uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return group

    group = in_group(lambda: QUERIES[name].fn(m).collect())
    # the status store records jobs in order: once a later marker job
    # shows up, every job of the request has too
    marker = in_group(lambda: spark.range(1).collect())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never recorded"
        time.sleep(0.05)
    stages = [
        tracker.getStageInfo(s).name
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert not [s for s in stages if s.startswith("parquet at")], stages
    assert len(tracker.getJobIdsForGroup(group)) == jobs, stages


@pytest.mark.parametrize(
    "name, module, target",
    [
        ("docs_bm25_served", "llm.search", "index_ingest_batch"),
        ("minhash_stream_served", "llm.dedup", "signature_ingest_batch"),
        ("embedding_ivf_stream_served", "llm.similarity", "ivf_ingest_batch"),
        ("topology_store_roundtrip", "sources.tables", "snapshot_topology"),
    ],
    ids=["batch_artifact", "stream_store", "ivf_stream_store", "topology_store"],
)
def test_failed_artifact_build_leaves_no_dir_or_memo_entry(
    spark, ducksql, monkeypatch, name, module, target
):
    """A served artifact whose build raises (a batch writer, a stream
    store's batch writer inside the ingest drain, or the topology
    store's snapshot sink) propagates the error, leaves the scratch
    root with no more entries than before and adds no memo entry; once
    the fault is gone, the next call builds and serves the oracle's
    rows."""
    import importlib
    import os

    import hbase_tools_spark.llm  # noqa: F401 — registers the queries
    from conftest import assert_query_matches_oracle
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.functions import memo, workdir
    from hbase_tools_spark.registry import QUERIES
    from hbase_tools_spark.streaming.jobs import _staged

    mod = importlib.import_module(f"hbase_tools_spark.{module}")

    def broken(_df, out_dir, *_args, **_kwargs):
        open(os.path.join(out_dir, "partial"), "w").close()
        raise RuntimeError("injected artifact build failure")

    # an empty memo, restored afterwards, so the artifact builds here
    monkeypatch.setattr(memo, "_CACHE", {})
    m = load_model(spark, SF_DIR)
    for table in ("documents", "embeddings"):
        _staged(spark, SF_DIR, table)  # stage the feeds before counting
    root = workdir.root(spark)
    before = len(os.listdir(root))
    with monkeypatch.context() as mp:
        mp.setattr(mod, target, broken)
        with pytest.raises(Exception, match="injected artifact build failure"):
            QUERIES[name].fn(m)
    assert len(os.listdir(root)) <= before
    assert memo._CACHE == {}
    assert_query_matches_oracle(spark, ducksql, name)


def test_superseded_artifact_dir_is_removed(spark, tmp_path):
    """Serving over other content removes the directory of the artifact
    it supersedes: after a documents swap one new ``bm25_index_*`` dir
    is left, after an embeddings rewrite one new ``ivf_stream_index_*``
    dir, each the one memo entry of its key.  The serving handles
    derived from the superseded content go with its directory, so a
    hybrid request back on the first documents rebuilds instead of
    reading the removed index."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.functions import memo, workdir
    from hbase_tools_spark.llm.search import docs_bm25_served, hybrid_rrf_served
    from hbase_tools_spark.llm.similarity import embedding_ivf_stream_served

    # a fixture copy of its own: the IVF store drains the on-disk file,
    # so other content means rewriting it (with a new column, since the
    # memo fingerprint is the analyzed plan, not the bytes)
    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    for f in os.listdir(SF_DIR):
        os.symlink(os.path.join(SF_DIR, f), os.path.join(sf, f))
    root = workdir.root(spark)

    def reload():
        spark.conf.set("spark.hbase_tools.model_dir", "")
        return load_model(spark, sf)

    def left(prefix, key):
        entries = [c for c in memo._CACHE if c[:2] == (sf, key)]
        assert len(entries) == 1, entries
        dirs = {d for d in os.listdir(root) if d.startswith(prefix)} - before[prefix]
        assert dirs == {os.path.basename(memo._CACHE[entries[0]][1])}, dirs

    before = {
        p: {d for d in os.listdir(root) if d.startswith(p)}
        for p in ("bm25_index_", "ivf_stream_index_")
    }
    try:
        m = reload()
        docs_bm25_served(m).collect()
        hybrid = sorted(map(tuple, hybrid_rrf_served(m).collect()))
        embedding_ivf_stream_served(m).collect()
        m.documents.where("doc_id % 2 = 0").createOrReplaceTempView("documents")
        docs_bm25_served(m).collect()
        left("bm25_index_", "bm25_index_dir")
        m = reload()
        assert sorted(map(tuple, hybrid_rrf_served(m).collect())) == hybrid
        left("bm25_index_", "bm25_index_dir")

        emb = os.path.join(sf, "embeddings.parquet")
        table = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
        os.remove(emb)
        pq.write_table(table.append_column("pad", pa.array([0] * len(table))), emb)
        m = reload()
        embedding_ivf_stream_served(m).collect()
        left("ivf_stream_index_", "ivf_stream_index_dir")
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_stage_persist_lifecycle(spark):
    """stage_persist tracks the relation; release_stage_caches drops
    the CacheManager entry (the round-8 ADVICE leak class: lazy
    persists accumulated for the session lifetime) and a released plan
    still recomputes correctly from lineage."""
    from hbase_tools_spark.functions import cache

    cache.release_stage_caches()  # clean slate
    df = cache.stage_persist(spark.range(100).selectExpr("id", "id * 2 AS d"))
    assert df.count() == 100
    assert df.storageLevel.useMemory  # persisted
    released = cache.release_stage_caches()
    assert released == 1
    assert not df.storageLevel.useMemory  # CacheManager entry gone
    assert df.count() == 100  # lineage recompute, lifecycle not semantics
    assert cache.release_stage_caches() == 0  # tracker drained


def test_word_embedding_stage_views_are_per_build(spark):
    """Two word_embedding_neighbors builds on one session must not
    race on a shared stage-view name (round-8 ADVICE): each build
    registers its own suffixed views and both plans evaluate."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm import corpus
    from hbase_tools_spark.functions.cache import release_stage_caches

    m = load_model(spark, SF_DIR)
    a = corpus.word_embedding_neighbors(m)
    seq_a = corpus._WV_BUILD_SEQ
    b = corpus.word_embedding_neighbors(m)
    seq_b = corpus._WV_BUILD_SEQ
    assert seq_b == seq_a + 1  # distinct view namespace per build
    # build A's plan still evaluates after build B replaced nothing
    assert a.count() == b.count() > 0
    release_stage_caches()


def test_memo_keys_are_declared_index_state():
    """Round-12 (r11 verdict item 5): every artifact-memo entry must be
    QUERY-INDEPENDENT INDEX STATE (serving handles, trained artifacts,
    probe constants) — never query-dependent results.  This test pins
    the key set: adding a memo entry without classifying it here fails
    the suite, forcing the invariant to be reviewed at the new site."""
    import glob
    import os
    import re

    import hbase_tools_spark

    # key -> why it is index state, not a result
    ALLOWED = {
        # persisted/trained artifact directories (immutable once built)
        "bm25_index_dir": "persisted inverted index",
        "bm25_stream_index_dir": "stream-ingested inverted index",
        "ivf_stream_index_dir": "stream-ingested IVF index",
        "sig_stream_store": "stream-ingested signature store read handle",
        "ppl_lm_artifact_dir": "persisted ccnet LM artifact",
        "lr_weights_dir": "persisted LR quality-model weights",
        "topology_store": "persisted topology snapshot store",
        # trained model/codebook state (pure fn of the fixture content)
        "pq_trained_codebook": "PQ codebook (deterministic Lloyd)",
        "ivfpq_residual_codebook": "IVFPQ residual codebook",
        "label_centroid_rows": "IVF coarse centroids",
        "contam_bloom_words": "contamination bloom bitmap",
        # serving handles: pre-analyzed reads + tiny collected dims
        "bm25_served_handles": "per-index BM25 serving state",
        "bm25_stream_served_handles": "per-index BM25 serving state",
        "ivf_stream_serving_handles": "IVF centroid/probe-cell handles",
        "hybrid_index_reads": "pre-analyzed index read handles",
        "hybrid_probe_legs": "probe term relation + buckets",
        "hybrid_lex_stats": "probe vocabulary (word, df, idf) + stats",
        "ppl_lm_read_handles": "LM relation read handles",
        # checkpointed derived relations (index-shaped, query-free)
        "ppl_lm_relations": "ccnet LM bigram/context relations",
        "kn_lm_relations": "kneser-ney LM relations",
        "mlt_lex_leg": "BM25 MLT leg (served-relation shape)",
        "exact_topk_leg": "exact ANN ground-truth ranking",
        "bpe_vocab_cost": "BPE-tokenized vocabulary costs",
        "table_lifecycle_stages": "lifecycle stage dimension",
        # probe/dimension constants (broadcast-once dims)
        "ann_probe_vectors": "fixed probe vectors",
        "km_seed_probe_vectors": "kmeans seed + probe vectors",
        "pq_seed_probe_vectors": "PQ seed + probe vectors",
        "contam_bench_set": "benchmark shingle set",
        "bm25_served_terms": "corpus-derived query-term constant",
        "bm25_stream_served_terms": "corpus-derived query-term constant",
    }

    pkg = os.path.dirname(hbase_tools_spark.__file__)
    repo = os.path.dirname(pkg)
    # one memo key: no second keying scheme
    program = (
        glob.glob(f"{pkg}/**/*.py", recursive=True)
        + glob.glob(f"{repo}/scripts/**/*.py", recursive=True)
        + [f"{repo}/bench.py"]
    )
    for path in program:
        assert "sf_cached" not in open(path).read(), path
    pat = re.compile(
        r"(?:model_cached|checkpointed|artifact)\(\s*"
        r"(?:[A-Za-z_][\w.]*\s*,)?\s*\"([a-z_0-9]+)\"",
        re.S,
    )
    found = set()
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py") or f == "memo.py":
                continue
            src = open(os.path.join(root, f)).read()
            found |= set(pat.findall(src))
    assert found, "memo-key extraction found nothing — regex rotted?"
    undeclared = found - set(ALLOWED)
    stale = set(ALLOWED) - found
    assert not undeclared, (
        f"memo keys not classified as index state: {sorted(undeclared)} — "
        "if the new entry is query-independent index state, add it here "
        "with its rationale; if it is a query result, do not memoize it"
    )
    assert not stale, f"allowlist entries no longer in code: {sorted(stale)}"
