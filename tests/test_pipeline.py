"""Semantic tests for the training-data pipeline operators
(llm/pipeline.py): split determinism and proportions, stratified-sample
bounds, repetition math, contamination self-consistency, banding-curve
properties, and the broadcast plan shape of the contamination join."""

from __future__ import annotations

import hashlib
import math

from conftest import SF_DIR

import hbase_tools_spark.llm  # noqa: F401 — registers the queries
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.registry import QUERIES


def _run(spark, name):
    return QUERIES[name].fn(load_model(spark, SF_DIR)).collect()


def test_split_assign_deterministic_and_proportional(spark):
    """Membership is a pure function of doc_id (matches a Python md5
    port) and the realized fractions sit near 80/10/10."""
    rows = _run(spark, "docs_split_assign")
    assert rows
    for r in rows:
        b = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:2]
        expect = "train" if b < "cc" else ("val" if b < "e6" else "test")
        assert r["split"] == expect and r["bucket"] == b
    n = len(rows)
    frac = {
        s: sum(1 for r in rows if r["split"] == s) / n
        for s in ("train", "val", "test")
    }
    assert 0.72 < frac["train"] < 0.88
    assert 0.04 < frac["val"] < 0.17
    assert 0.04 < frac["test"] < 0.17


def test_stratified_sample_bounds_and_determinism(spark):
    """<= k docs per language, ranks contiguous from 1, and every kept
    doc passes the hash gate; a second run returns the identical set."""
    from hbase_tools_spark.llm.pipeline import _SAMPLE_GATE, _SAMPLE_K

    rows = _run(spark, "docs_stratified_sample")
    per_lang: dict[str, list[int]] = {}
    for r in rows:
        assert hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0] < _SAMPLE_GATE
        per_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    for lang, ranks in per_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang
        assert len(ranks) <= _SAMPLE_K
    again = {(r["doc_id"], r["sample_rank"]) for r in _run(spark, "docs_stratified_sample")}
    assert again == {(r["doc_id"], r["sample_rank"]) for r in rows}


def test_repetition_ratio_matches_python(spark):
    """Per-doc token counts and ratios equal a pure-Python recount."""
    m = load_model(spark, SF_DIR)
    got = {r["doc_id"]: r for r in _run(spark, "docs_repetition_ratio")}
    for doc in m.documents.select("doc_id", "text").collect():
        toks = doc["text"].split(" ")
        from collections import Counter

        c = Counter(toks)
        r = got[doc["doc_id"]]
        assert r["n_tokens"] == len(toks)
        assert r["n_distinct"] == len(c)
        assert abs(r["distinct_ratio"] - len(c) / len(toks)) < 1e-6
        assert abs(r["top_word_ratio"] - max(c.values()) / len(toks)) < 1e-6


def test_contamination_self_and_plan_shape(spark):
    """A doc whose text duplicates a benchmark doc must be ~fully
    contaminated; benchmark docs never appear as candidates; the
    candidate pass is a PURE MAP stage — the bench shingle set rides
    into the workers as a broadcast closure, so the plan has no join
    and no exchange at all."""
    from hbase_tools_spark.llm.pipeline import _CONTAM_BENCH, ngram_contamination

    m = load_model(spark, SF_DIR)
    df = ngram_contamination(m)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "contamination probe must not shuffle"
    assert "Join" not in plan, "bench probe must be a closure, not a join"
    rows = {r["doc_id"]: r for r in df.collect()}
    bench_ids = {
        r["doc_id"]
        for r in m.documents.where(f"source = '{_CONTAM_BENCH}'").collect()
    }
    assert not (set(rows) & bench_ids), "benchmark docs leaked into candidates"
    # synthesize ground truth for a handful of docs in pure Python
    texts = {r["doc_id"]: r["text"] for r in m.documents.collect()}
    bench_sh = {
        " ".join(t.split(" ")[i : i + 4])
        for b in bench_ids
        for t, i in (
            (texts[b], j) for j in range(len(texts[b].split(" ")) - 3)
        )
    }
    for doc_id in list(rows)[:25]:
        toks = texts[doc_id].split(" ")
        sh = {" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)}
        expect = len(sh & bench_sh) / len(sh)
        assert abs(rows[doc_id]["contamination"] - expect) < 1e-6, doc_id


def test_band_sweep_curve_properties(spark):
    """The S-curve is monotone in s, hits the analytic closed form, and
    each config's balance threshold equals (1/b)^(1/r)."""
    rows = _run(spark, "lsh_band_sweep")
    by_cfg: dict[tuple, list] = {}
    for r in rows:
        by_cfg.setdefault((r["bands"], r["rows_per_band"]), []).append(r)
    assert set(by_cfg) == {(16, 1), (8, 2), (4, 4), (2, 8)}
    for (b, rr), pts in by_cfg.items():
        pts.sort(key=lambda r: r["s"])
        assert len(pts) == 19
        last = -1.0
        for p in pts:
            analytic = 1.0 - (1.0 - p["s"] ** rr) ** b
            assert abs(p["p_candidate"] - analytic) < 1e-5
            assert p["p_candidate"] >= last
            last = p["p_candidate"]
            assert abs(p["balance_threshold"] - (1.0 / b) ** (1.0 / rr)) < 1e-5


def test_chunk_spans_cover_and_reconstruct(spark):
    """Chunks tile every document: first chunk starts at token 1,
    consecutive starts differ by the stride, the last chunk reaches the
    final token, and each chunk's text equals the corresponding token
    slice."""
    from hbase_tools_spark.llm.pipeline import _CHUNK_S, _CHUNK_W, docs_chunk_spans

    m = load_model(spark, SF_DIR)
    texts = {r["doc_id"]: r["text"] for r in m.documents.collect()}
    rows = docs_chunk_spans(m).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        toks = texts[doc_id].split(" ")
        chunks.sort(key=lambda r: r["chunk_id"])
        assert chunks[0]["start_tok"] == 1
        assert all(
            b["start_tok"] - a["start_tok"] == _CHUNK_S
            for a, b in zip(chunks, chunks[1:])
        )
        last = chunks[-1]
        assert last["start_tok"] + last["n_tok"] - 1 == len(toks)
        for c in chunks:
            lo = c["start_tok"] - 1
            assert c["chunk_text"] == " ".join(toks[lo : lo + c["n_tok"]])
            assert c["n_tok"] <= _CHUNK_W


def test_pack_bins_sequential_capacity(spark):
    """Within each source, bin assignment equals the running token sum
    divided by capacity, offsets stay inside the bin, and spills_over
    flags exactly the boundary-straddling docs."""
    from hbase_tools_spark.llm.pipeline import _PACK_CAP, docs_pack_bins

    m = load_model(spark, SF_DIR)
    rows = docs_pack_bins(m).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, docs in by_src.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in docs:
            assert r["bin_id"] == cum // _PACK_CAP, (src, r)
            assert r["bin_offset"] == cum % _PACK_CAP
            assert r["spills_over"] == (
                cum % _PACK_CAP + r["n_tokens"] > _PACK_CAP
            )
            cum += r["n_tokens"]


def test_mixture_weights_shares_and_rates(spark):
    from hbase_tools_spark.llm.pipeline import (
        _MIX_EPOCH_TOKENS,
        _MIX_TOTAL,
        _MIX_WEIGHTS,
        corpus_mixture_weights,
    )

    m = load_model(spark, SF_DIR)
    rows = {r["source"]: r for r in corpus_mixture_weights(m).collect()}
    assert set(rows) == set(_MIX_WEIGHTS)
    assert abs(sum(r["target_share"] for r in rows.values()) - 1.0) < 1e-4
    for src, r in rows.items():
        expect = _MIX_WEIGHTS[src] / _MIX_TOTAL * _MIX_EPOCH_TOKENS / r["n_tokens"]
        assert abs(r["sampling_rate"] - expect) < 1e-5
        assert r["oversample"] == (expect > 1.0)


def test_minhash_estimates_match_signature_agreement(spark):
    """est_jaccard must equal the exact component-agreement fraction of
    the two docs' signatures, for every candidate pair."""
    from hbase_tools_spark.llm.dedup import (
        _MINHASHES,
        _signatures_for,
        minhash_similarity_estimates,
    )

    m = load_model(spark, SF_DIR)
    sigs = {r["doc_id"]: list(r["sig"]) for r in _signatures_for(m.documents).collect()}
    rows = minhash_similarity_estimates(m).collect()
    assert rows
    for r in rows:
        agree = sum(
            1 for x, y in zip(sigs[r["doc_a"]], sigs[r["doc_b"]]) if x == y
        )
        assert r["n_match"] == agree
        assert abs(r["est_jaccard"] - agree / _MINHASHES) < 1e-9


def test_semantic_only_excludes_lexically_flagged_pairs(spark):
    """The fixture's embeddings are uncorrelated with the text, so the
    anti-join never fires there; this synthetic corpus proves the
    subtraction: (0,1) are BOTH lexical twins and embedding twins ->
    excluded; (2,3) share an embedding but no text -> kept."""
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.pipeline import semantic_only_dup_pairs

    from conftest import SF_DIR

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine ten"
    text_c = "red orange yellow green blue indigo violet ultraviolet"
    vec_x = [0.5, 0.25, 0.125, 0.5, 0.25, 0.125, 0.5, 0.25]
    vec_y = [0.25, 0.5, 0.125, 0.25, 0.5, 0.125, 0.25, 0.5]
    docs = spark.createDataFrame(
        [(0, text_a, "en", "s0", len(text_a)),
         (1, text_a, "en", "s0", len(text_a)),
         (2, text_b, "en", "s0", len(text_b)),
         (3, text_c, "en", "s0", len(text_c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(0, vec_x, 0), (1, vec_x, 0), (2, vec_y, 1), (3, vec_y, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    try:
        docs.createOrReplaceTempView("documents")
        emb.createOrReplaceTempView("embeddings")
        out = semantic_only_dup_pairs(Model(spark, "synthetic"))
        pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
        assert (2, 3) in pairs, "semantic-only pair was dropped"
        assert (0, 1) not in pairs, "lexically-flagged pair not excluded"
    finally:
        # un-shadow the fixture views for the rest of the session
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_dsir_weights_match_bruteforce(spark):
    """Recompute the DSIR log-weights on the driver from raw documents
    and the same hashed-feature definition; checks the smoothing, the
    bucket totals and the top-k selection."""
    import hashlib
    import math
    from collections import Counter

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    from conftest import SF_DIR

    m = load_model(spark, SF_DIR)
    B, KEEP, TARGET = 1024, 100, "src0"
    rows = m.documents.select("doc_id", "source", "text").collect()

    def feats(text):
        toks = text.split(" ")
        return [
            int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B
            for f in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        ]

    ct, cr, per_doc = Counter(), Counter(), {}
    for r in rows:
        fs = Counter(feats(r["text"]))
        if r["source"] == TARGET:
            ct.update(fs)
        else:
            cr.update(fs)
            per_doc[r["doc_id"]] = fs
    nt, nr = sum(ct.values()), sum(cr.values())
    expect = {}
    for doc_id, fs in per_doc.items():
        lw = sum(
            c * math.log(((ct[b] + 1) * (nr + B)) / ((cr[b] + 1) * (nt + B)))
            for b, c in fs.items()
        )
        expect[doc_id] = (sum(fs.values()), lw)
    out = {r["doc_id"]: r for r in QUERIES["docs_dsir_weights"].fn(m).collect()}
    assert set(out) == set(expect)
    for doc_id, (n_feats, lw) in expect.items():
        assert out[doc_id]["n_feats"] == n_feats
        assert abs(out[doc_id]["log_weight"] - lw) < 1e-4
    top = sorted(expect, key=lambda d: (-expect[d][1], d))[:KEEP]
    # boundary ties at 6dp can differ from the float brute-force order;
    # check the clear (non-boundary) members
    sel = {d for d, r in out.items() if r["selected"]}
    assert len(sel) == min(KEEP, len(expect))
    assert set(top[: max(1, KEEP - 5)]) <= sel


def test_temperature_mixture_shares_from_first_principles(spark):
    """temp_share must equal p^alpha / sum(p^alpha) recomputed
    independently in Python (shares sum to 1; low-resource sources
    boost above 1, the largest source below 1) — the semantic check
    the oracle cannot provide, since it encodes the same formula."""
    import math

    from hbase_tools_spark.llm.pipeline import (
        _TEMP_ALPHA,
        corpus_temperature_mixture,
    )

    m = load_model(spark, SF_DIR)
    rows = {r["source"]: r for r in corpus_temperature_mixture(m).collect()}
    assert rows
    total = sum(r["n_tokens"] for r in rows.values())
    ap = {
        s: (r["n_tokens"] / total) ** _TEMP_ALPHA for s, r in rows.items()
    }
    sap = sum(ap.values())
    assert abs(sum(r["temp_share"] for r in rows.values()) - 1.0) < 1e-4
    for s, r in rows.items():
        p = r["n_tokens"] / total
        q = ap[s] / sap
        assert abs(r["natural_share"] - p) < 1e-5, s
        assert abs(r["temp_share"] - q) < 1e-5, s
        assert abs(r["boost"] - q / p) < 1e-3, s
    # flattening direction: smallest source boosted, largest damped
    smallest = min(rows, key=lambda s: rows[s]["n_tokens"])
    largest = max(rows, key=lambda s: rows[s]["n_tokens"])
    assert rows[smallest]["boost"] > 1.0
    assert rows[largest]["boost"] < 1.0


def test_epoch_shuffle_permutation_and_plan(spark):
    """Each epoch is an exact permutation (every doc once), positions
    are contiguous 1..n per (epoch, shard), the two epoch orders
    actually differ, membership is a pure function of (epoch, doc_id)
    (matches a Python md5 port), and the executed plan carries exactly
    ONE exchange — the (epoch, shard) hash partitioning the per-shard
    window needs; no global sort."""
    m = load_model(spark, SF_DIR)
    df = QUERIES["docs_epoch_shuffle"].fn(m)
    rows = df.collect()
    docs = {r["doc_id"] for r in m.documents.select("doc_id").collect()}
    for e in (0, 1):
        er = [r for r in rows if r["epoch"] == e]
        assert {r["doc_id"] for r in er} == docs
        assert len(er) == len(docs)
        by_shard = {}
        for r in er:
            by_shard.setdefault(r["shard"], []).append(r["position"])
        for shard, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # pure function of (epoch, doc_id): python port agrees on shard
    for r in rows[:50]:
        h = hashlib.md5(f"{r['epoch']}:{r['doc_id']}".encode()).hexdigest()
        assert r["shard"] == int(h[:12], 16) % 16
    # the two epochs are different permutations
    key0 = {(r["doc_id"]): (r["shard"], r["position"]) for r in rows if r["epoch"] == 0}
    key1 = {(r["doc_id"]): (r["shard"], r["position"]) for r in rows if r["epoch"] == 1}
    assert any(key0[d] != key1[d] for d in docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, "epoch shuffle should shuffle once"


def test_split_leakage_matches_python_port(spark):
    """Full Python recomputation: per-test-doc leaked-shingle fraction
    against the train split's shingle union."""
    m = load_model(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in QUERIES["split_leakage"].fn(m).collect()}
    docs = m.documents.select("doc_id", "text").collect()

    def shingles(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + 4]) for i in range(len(toks) - 3)
        } if len(toks) >= 4 else set()

    def bucket(doc_id):
        return hashlib.md5(str(doc_id).encode()).hexdigest()[:2]

    train_sh = set()
    for d in docs:
        if bucket(d["doc_id"]) < "cc":
            train_sh |= shingles(d["text"])
    n_test = 0
    for d in docs:
        if bucket(d["doc_id"]) < "e6":
            continue
        sh = shingles(d["text"])
        if not sh:
            assert d["doc_id"] not in rows
            continue
        n_test += 1
        r = rows[d["doc_id"]]
        leaked = len(sh & train_sh)
        assert r["n_shingles"] == len(sh)
        assert r["n_leaked"] == leaked
        assert abs(r["leak_ratio"] - leaked / len(sh)) < 1e-6
        assert r["leaky"] == (leaked / len(sh) >= 0.5)
    assert n_test == len(rows) > 0


def test_corpus_version_diff_conserves_both_snapshots(spark):
    """Status counts reconcile exactly with the derived old/new version
    populations: old = removed+changed+unchanged, new =
    added+changed+unchanged, per source and in total."""
    import hashlib
    from collections import Counter

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    old_n, new_n = Counter(), Counter()
    for r in m.documents.select("doc_id", "source").collect():
        gd = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0]
        if gd != "0":
            old_n[r["source"]] += 1
        if gd != "1":
            new_n[r["source"]] += 1
    rows = QUERIES["corpus_version_diff"].fn(m).collect()
    assert {r["source"] for r in rows} == set(old_n) | set(new_n)
    for r in rows:
        s = r["source"]
        assert r["n_removed"] + r["n_changed"] + r["n_unchanged"] == old_n[s]
        assert r["n_added"] + r["n_changed"] + r["n_unchanged"] == new_n[s]
        denom = r["n_removed"] + r["n_changed"] + r["n_unchanged"]
        if denom:
            churn = (r["n_added"] + r["n_removed"] + r["n_changed"]) / denom
            assert abs(r["churn_vs_old"] - churn) < 1e-6


def test_curriculum_order_is_banded_permutation(spark):
    """Every document appears exactly once; positions are contiguous
    1..n per (band, shard); band assignment follows the global length
    quartiles; each band holds ~25% of the corpus."""
    from collections import Counter

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = QUERIES["docs_curriculum_order"].fn(m).collect()
    n_docs = m.documents.count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    per = Counter((r["band"], r["shard"]) for r in rows)
    pos = Counter()
    for r in rows:
        pos[(r["band"], r["shard"])] = max(
            pos[(r["band"], r["shard"])], r["position"]
        )
    assert pos == per  # contiguous 1..n per group
    bands = Counter(r["band"] for r in rows)
    assert set(bands) <= {1, 2, 3, 4}
    for b in bands.values():
        assert b >= n_docs * 0.1  # quartile banding, allowing length ties


def test_contam_broadcast_guard_fail_fast(spark, monkeypatch):
    """Round-5 verdict task 5: the decontamination broadcast path must
    fail fast (not OOM the driver) when the 'benchmark' source is
    corpus-sized; the error points at the split_leakage shuffle-join
    shape."""
    import pytest as _pytest

    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm import pipeline as P
    from conftest import SF_DIR

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j k l", "en", P._CONTAM_BENCH, 23),
            (1, "a b c d e f g h i j k l", "en", "src1", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(P, "_CONTAM_BENCH_MAX_SHINGLES", 2)
    try:
        docs.createOrReplaceTempView("documents")
        m = Model(spark, "/tmp/contam_guard_fixture")
        with _pytest.raises(ValueError, match="split_leakage"):
            P._bench_shingle_set(m)
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)
