"""BM25 retrieval + persisted inverted index: derived-term sanity,
served-vs-direct bit equality, and partition pruning of the serving
reads.  (The DuckDB differential gate for ``docs_bm25_topk`` itself
runs in tests/test_contract.py like every registered query.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.llm.search import (
    _QTERM_HI,
    _QTERM_LO,
    bm25_topk_from_index,
    docs_bm25_topk,
    index_ingest_batch,
)


def _query_terms(spark) -> list[str]:
    """The corpus-derived query terms (vocab Zipf ranks 11-13) the
    certified query scores — recomputed here independently."""
    m = load_model(spark, SF_DIR)
    wc = (
        m.documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .count()
    )
    vocab = wc.groupBy("word").agg(F.sum("count").alias("n"))
    rows = vocab.orderBy(F.desc("n"), "word").limit(_QTERM_HI).collect()
    return [r["word"] for r in rows[_QTERM_LO - 1 : _QTERM_HI]]


def test_bm25_scores_rank_and_match_terms(spark):
    m = load_model(spark, SF_DIR)
    rows = docs_bm25_topk(m).collect()
    assert 0 < len(rows) <= 20
    by_rank = sorted(rows, key=lambda r: r["rank"])
    assert [r["rank"] for r in by_rank] == list(range(1, len(rows) + 1))
    # scores non-increasing with rank; every doc matched >= 1 query term
    scores = [r["score"] for r in by_rank]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(1 <= r["n_terms"] <= (_QTERM_HI - _QTERM_LO + 1) for r in rows)
    assert all(r["score"] > 0 for r in rows)


def test_bm25_index_serving_equals_direct_and_prunes(spark, tmp_path):
    """The persisted-index path must reproduce the direct corpus-scan
    BM25 exactly (doc_id, n_terms, score, rank), and both its postings
    and dictionary reads must prune to the query terms' hash buckets
    (static PartitionFilters — the corpus is never rescanned)."""
    m = load_model(spark, SF_DIR)
    idx = str(tmp_path / "inv_index")
    index_ingest_batch(m.documents, idx, 0)
    terms = _query_terms(spark)
    served = bm25_topk_from_index(spark, idx, terms)
    plan = served._jdf.queryExecution().executedPlan().toString()
    parts = plan.split("PartitionFilters: [")
    pruned = [p for p in parts[1:] if "bucket" in p[:160] and " IN " in p[:160]]
    assert len(pruned) >= 2, (
        "postings AND dictionary reads must prune on bucket: " + plan[:2000]
    )
    direct = {
        (r["doc_id"], r["n_terms"], r["score"], r["rank"])
        for r in docs_bm25_topk(m).collect()
    }
    got = {
        (r["doc_id"], r["n_terms"], r["score"], r["rank"])
        for r in served.collect()
    }
    assert got == direct


def test_bm25_index_prune_skips_unrelated_buckets(spark, tmp_path):
    """A single term's serving plan prunes to exactly its ONE hash
    bucket (the static PartitionFilter names the bucket value —
    ``DataFrame.inputFiles`` cannot observe pruning, it lists the
    pre-filter FileIndex), and the served docs are a subset of the
    term's true postings."""
    m = load_model(spark, SF_DIR)
    idx = str(tmp_path / "inv_index2")
    index_ingest_batch(m.documents, idx, 0)
    term = _query_terms(spark)[0]
    served = bm25_topk_from_index(spark, idx, [term], k=5)
    rows = served.collect()
    assert 0 < len(rows) <= 5
    from hbase_tools_spark.llm.search import _term_buckets

    (b,) = _term_buckets(spark, [term], 64)
    plan = served._jdf.queryExecution().executedPlan().toString()
    pruned = [
        p[:80]
        for p in plan.split("PartitionFilters: [")[1:]
        if "bucket" in p[:80]
    ]
    assert len(pruned) >= 2, plan[:1500]
    assert all(f"= {b})" in p for p in pruned), (b, pruned)
    # every served doc really contains the term
    hits = {
        r["doc_id"]
        for r in m.documents.where(
            F.array_contains(F.split("text", " "), term)
        ).collect()
    }
    assert {r["doc_id"] for r in rows} <= hits


def test_hybrid_rrf_fusion_matches_leg_recompute(spark):
    """RRF fusion recomputed driver-side from the two certified legs
    (lexical scored by an independent Python BM25 over the corpus,
    semantic from embedding_topk) reproduces the fused ranking."""
    import math
    from collections import Counter, defaultdict

    from hbase_tools_spark.llm.search import (
        _HYBRID_K,
        _SIM_NQUERIES,
        hybrid_rrf_search,
    )
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in m.documents.select("doc_id", "text").collect()
    }
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs.values()) * 1.0 / n_docs
    df = Counter()
    for toks in docs.values():
        df.update(set(toks))

    lex_rank = {}
    for q in range(_SIM_NQUERIES):
        scores = {}
        qterms = set(docs[q])
        for d, toks in docs.items():
            if d == q:
                continue
            tf = Counter(toks)
            s = 0.0
            for t in qterms:
                if tf[t] == 0:
                    continue
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                dl = len(toks)
                s += idf * (tf[t] * 2.2) / (
                    tf[t] + 1.2 * (0.25 + 0.75 * (dl / avgdl))
                )
            if s > 0:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for r, (d, _) in enumerate(ranked[:_HYBRID_K], 1):
            lex_rank[(q, d)] = r

    sem_rank = {
        (r["query_id"], r["vec_id"]): r["rank"]
        for r in QUERIES["embedding_topk"].fn(m).collect()
    }
    fused = defaultdict(float)
    for (q, d), r in lex_rank.items():
        fused[(q, d)] += 1.0 / (60 + r)
    for (q, d), r in sem_rank.items():
        fused[(q, d)] += 1.0 / (60 + r)
    expect = {}
    for q in range(_SIM_NQUERIES):
        cand = sorted(
            ((d, s) for (qq, d), s in fused.items() if qq == q),
            key=lambda kv: (-kv[1], kv[0]),
        )[:_HYBRID_K]
        for r, (d, _) in enumerate(cand, 1):
            expect[(q, d)] = r

    rows = hybrid_rrf_search(m).collect()
    got = {(r["query_id"], r["doc_id"]): r["rank"] for r in rows}
    assert got == expect
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        assert abs(
            r["rrf_score"]
            - (
                (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0)
                + (1.0 / (60 + r["sem_rank"]) if r["sem_rank"] else 0.0)
            )
        ) < 1e-6


def test_bm25_index_incremental_append_equals_rebuild(spark, tmp_path):
    """An index grown by appending a second document batch serves
    bit-identically to a full rebuild over the union — the additive
    dictionary/stats contract (partial df rows and integer sums summed
    at serve time) that makes incremental crawl ingest possible."""
    m = load_model(spark, SF_DIR)
    half_a = m.documents.where(F.col("doc_id") % 2 == 0)
    half_b = m.documents.where(F.col("doc_id") % 2 == 1)

    full_idx = str(tmp_path / "full_idx")
    index_ingest_batch(m.documents, full_idx, 0)
    inc_idx = str(tmp_path / "inc_idx")
    index_ingest_batch(half_a, inc_idx, 0)
    index_ingest_batch(half_b, inc_idx, 1)

    terms = _query_terms(spark)
    key = lambda r: (r["doc_id"], r["n_terms"], r["score"], r["rank"])
    from_full = sorted(
        map(key, bm25_topk_from_index(spark, full_idx, terms).collect())
    )
    from_inc = sorted(
        map(key, bm25_topk_from_index(spark, inc_idx, terms).collect())
    )
    assert from_inc == from_full
    # and both still equal the direct corpus scan
    direct = sorted(
        (r["doc_id"], r["n_terms"], r["score"], r["rank"])
        for r in docs_bm25_topk(m).collect()
    )
    assert from_full == direct


def test_rbo_matches_python_recompute_from_legs(spark):
    """Truncated RBO recomputed in Python from the two leg relations
    (exact Decimal tail weights, the same formula) reproduces the
    query's output, including zero-overlap probes."""
    from decimal import ROUND_HALF_UP, Decimal

    from hbase_tools_spark.llm.search import (
        _HYBRID_K,
        _SIM_NQUERIES,
        _mlt_lex,
        retrieval_rank_overlap,
    )
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    lex = {
        (r["query_id"], r["doc_id"]): r["lex_rank"]
        for r in _mlt_lex(m).collect()
    }
    sem = {
        (r["query_id"], r["vec_id"]): r["rank"]
        for r in QUERIES["embedding_topk"].fn(m).collect()
    }
    p, q12 = Decimal("0.9"), Decimal("1e-12")
    terms = [
        (Decimal("0.1") * p ** (d - 1) / d).quantize(q12, ROUND_HALF_UP)
        for d in range(1, _HYBRID_K + 1)
    ]
    tail = {
        m_: sum(terms[m_ - 1 :]).quantize(q12, ROUND_HALF_UP)
        for m_ in range(1, _HYBRID_K + 1)
    }
    expect = {}
    for q in range(_SIM_NQUERIES):
        s, n = Decimal(0), 0
        for (qq, d), lr in lex.items():
            if qq != q or (qq, d) not in sem:
                continue
            n += 1
            s += tail[max(lr, sem[(qq, d)])]
        expect[q] = (n, float(s.quantize(Decimal("1e-6"), ROUND_HALF_UP)))
    rows = retrieval_rank_overlap(m).collect()
    got = {r["query_id"]: (r["n_overlap"], r["rbo"]) for r in rows}
    assert got == expect


def test_index_ingest_stream_serves_like_full_rebuild(spark, tmp_path):
    """Documents streamed in three micro-batches through the shared
    ingest driver into ``index_ingest_batch`` must serve BM25
    bit-identically to a full one-shot rebuild, and a replayed batch
    must leave the index unchanged (dynamic-partition-overwrite
    idempotence)."""
    import os

    from hbase_tools_spark.streaming.jobs import drain_batches

    m = load_model(spark, SF_DIR)
    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    for i in range(3):
        (
            m.documents.filter(F.col("doc_id") % 3 == i)
            .select("doc_id", "text")
            .coalesce(1)
            .write.parquet(os.path.join(src, f"arrival-{i}.parquet"))
        )
    idx = str(tmp_path / "stream_idx")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = drain_batches(
        stream, lambda df, batch_id: index_ingest_batch(df, idx, batch_id)
    )
    assert len(q.recentProgress) >= 3

    full_idx = str(tmp_path / "full_idx")
    index_ingest_batch(m.documents, full_idx, 0)
    terms = _query_terms(spark)
    key = lambda r: (r["doc_id"], r["n_terms"], r["score"], r["rank"])
    from_stream = sorted(map(key, bm25_topk_from_index(spark, idx, terms).collect()))
    from_full = sorted(map(key, bm25_topk_from_index(spark, full_idx, terms).collect()))
    assert from_stream == from_full

    # replay the last batch: same batch_id partitions overwritten, not duplicated
    last_bid = (
        spark.read.parquet(f"{idx}/postings")
        .agg(F.max("batch_id"))
        .collect()[0][0]
    )
    last = m.documents.filter(F.col("doc_id") % 3 == last_bid % 3).select(
        "doc_id", "text"
    )
    index_ingest_batch(last, idx, last_bid)
    replayed = sorted(map(key, bm25_topk_from_index(spark, idx, terms).collect()))
    assert replayed == from_full
    n_postings = spark.read.parquet(f"{idx}/postings").count()
    assert n_postings == spark.read.parquet(f"{full_idx}/postings").count()


def test_hybrid_served_from_index_equals_direct(spark, tmp_path):
    """The fully-served hybrid (probe terms from the forward index,
    lexical leg from pruned postings/dictionary reads) reproduces the
    direct hybrid_rrf_search bit-for-bit, and the forward read prunes
    on the probes' doc buckets."""
    from hbase_tools_spark.llm.search import (
        hybrid_rrf_from_index,
        hybrid_rrf_search,
    )

    m = load_model(spark, SF_DIR)
    idx = str(tmp_path / "stack_idx")
    index_ingest_batch(m.documents, idx, 0)
    served = hybrid_rrf_from_index(spark, idx, m.embeddings)
    plan = served._jdf.queryExecution().executedPlan().toString()
    pruned = [
        p
        for p in plan.split("PartitionFilters: [")[1:]
        if "bucket" in p[:160] and ("INSET" in p[:160] or " IN " in p[:160])
    ]
    assert len(pruned) >= 2, plan[:2000]
    key = lambda r: (
        r["query_id"], r["doc_id"], r["lex_rank"], r["sem_rank"],
        r["rrf_score"], r["rank"],
    )
    direct = sorted(map(key, hybrid_rrf_search(m).collect()))
    got = sorted(map(key, served.collect()))
    assert got == direct
