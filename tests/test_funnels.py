"""Semantic tests for the event-journey analytics (operators/funnels.py)
and the round-4b corpus/embedding additions: funnel monotonicity and a
Python replay of the stage chain, retention-triangle invariants, JSON
rollup consistency, Zipf-fit math replay, Bloom no-false-negatives, and
int8 quantizer code bounds + recall accounting."""

from __future__ import annotations

import hashlib
import json
import math
from collections import defaultdict

from conftest import SF_DIR

import hbase_tools_spark.operators  # noqa: F401 — registers the queries
import hbase_tools_spark.llm  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.registry import QUERIES


def _run(spark, name):
    return QUERIES[name].fn(load_model(spark, SF_DIR)).collect()


def _events(spark):
    m = load_model(spark, SF_DIR)
    return m.events.selectExpr(
        "user_id", "event_type", "unix_micros(ts) AS tus", "props"
    ).collect()


def test_funnel_matches_python_replay(spark):
    """Stage user counts equal a per-user Python replay of the chained
    min-after-previous-stage scan, and the funnel is monotone."""
    rows = {r["stage"]: r for r in _run(spark, "events_funnel")}
    ev = _events(spark)
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["tus"], r["event_type"]))
    reached = {"view": 0, "click": 0, "purchase": 0}
    for times in by_user.values():
        t_prev = None
        for stage in ("view", "click", "purchase"):
            cand = [
                t
                for t, ty in times
                if ty == stage and (t_prev is None or t > t_prev)
            ]
            if not cand:
                break
            t_prev = min(cand)
            reached[stage] += 1
    for stage in ("view", "click", "purchase"):
        assert rows[stage]["n_users"] == reached[stage]
    assert (
        rows["view"]["n_users"]
        >= rows["click"]["n_users"]
        >= rows["purchase"]["n_users"]
    )
    for r in rows.values():
        assert 0.0 <= r["conv_from_prev"] <= 1.0


def test_retention_triangle_invariants(spark):
    """Offset-0 retention is exactly 1.0 (every user is active on their
    cohort day), n_active never exceeds cohort_size, and cohort sizes
    sum to the distinct-user count."""
    rows = _run(spark, "events_retention_cohorts")
    assert rows
    seen_sizes = {}
    for r in rows:
        assert 0 <= r["day_offset"] <= 29
        assert 1 <= r["n_active"] <= r["cohort_size"]
        if r["day_offset"] == 0:
            assert r["n_active"] == r["cohort_size"]
            assert r["retention"] == 1.0
        seen_sizes[r["cohort_day"]] = r["cohort_size"]
        # cohort_date renders the epoch-day number
        assert len(r["cohort_date"]) == 10
    ev = _events(spark)
    assert sum(seen_sizes.values()) == len({r["user_id"] for r in ev})


def test_props_rollup_matches_json_replay(spark):
    """Group counts equal a Python json.loads replay over raw events."""
    rows = _run(spark, "events_props_rollup")
    got = {(r["event_type"], r["k_bucket"]): r["n_events"] for r in rows}
    expect = defaultdict(int)
    for r in _events(spark):
        k = json.loads(r["props"]).get("k")
        if k is not None:
            expect[(r["event_type"], int(k) % 10)] += 1
    assert got == dict(expect)
    for r in rows:
        assert 0 <= r["min_k"] <= r["max_k"]


def test_zipf_fit_replay(spark):
    """Slope/intercept match a NumPy least-squares over the vocab head,
    and r² is a genuine coefficient of determination in [0, 1]."""
    import numpy as np

    fit = _run(spark, "token_zipf_fit")[0]
    vocab = sorted(
        _run(spark, "vocab_top_terms"),
        key=lambda r: r["rank"],
    )[:100]
    x = np.log([r["rank"] for r in vocab])
    y = np.log([float(r["n_occurrences"]) for r in vocab])
    slope, intercept = np.polyfit(x, y, 1)
    assert fit["n_terms"] == len(vocab)
    assert math.isclose(fit["slope"], slope, abs_tol=1e-4)
    assert math.isclose(fit["intercept"], intercept, abs_tol=1e-4)
    assert 0.0 <= fit["r2"] <= 1.0
    assert fit["slope"] < 0  # frequency decreases with rank


def test_bloom_no_false_negatives_and_fp_accounting(spark):
    """Bloom hits dominate exact hits on every doc (no false
    negatives — the property that makes the unflagged set provably
    clean), the FP count is their difference, and every exact-
    contaminated doc is flagged."""
    rows = _run(spark, "bloom_contamination")
    assert rows
    exact = {r["doc_id"]: r["n_shared"] for r in _run(spark, "ngram_contamination")}
    for r in rows:
        assert r["n_bloom_hits"] >= r["n_exact_hits"]
        assert r["n_false_pos"] == r["n_bloom_hits"] - r["n_exact_hits"]
        assert r["flagged"] == (r["n_bloom_hits"] > 0)
        assert r["n_exact_hits"] == exact[r["doc_id"]]
        if r["n_exact_hits"] > 0:
            assert r["flagged"]


def test_int8_codes_and_recall(spark):
    """Codes replay the closed-form quantizer (bounded by ±127 up to
    the +0.5 round), scores are symmetric-deterministic, and quantized
    search keeps most of the exact top-10 (recall sanity)."""
    rows = _run(spark, "embedding_int8_topk")
    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
    assert set(per_q) == {0, 1, 2, 3, 4}
    total, hit = 0, 0
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, 11))
        total += len(rs)
        hit += sum(1 for r in rs if r["in_exact_topk"])
        for r in rs:
            assert -1.01 <= r["approx_cosine"] <= 1.01
    # int8 over 64 dims preserves ranking almost exactly; demand a
    # conservative floor so the test survives fixture regeneration.
    assert hit / total >= 0.6


def test_anomaly_zscore_replay(spark):
    """Mean/std/z replay in NumPy per event type, and the flag obeys
    the |z| > 2 bar."""
    import numpy as np

    rows = _run(spark, "events_anomaly_zscore")
    assert rows
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    for tp, rs in by_type.items():
        cs = np.array([r["n_events"] for r in rs], dtype=float)
        mean, std = cs.mean(), cs.std(ddof=1)
        for r in rs:
            z = (r["n_events"] - mean) / std
            assert math.isclose(r["zscore"], z, abs_tol=1e-5)
            assert r["anomalous"] == (abs(z) > 2.0)
            assert math.isclose(r["mean_events"], mean, abs_tol=1e-5)
            assert math.isclose(r["std_events"], std, abs_tol=1e-5)


def test_ccnet_perplexity_properties(spark):
    """perplexity == exp(cross_entropy); tertiles are balanced within
    each language (sizes differ by at most 1) and ordered: every head
    doc has entropy <= every tail doc."""
    rows = _run(spark, "docs_ccnet_perplexity")
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        assert math.isclose(
            r["perplexity"], math.exp(r["cross_entropy"]), rel_tol=1e-4
        )
        assert r["n_bigrams"] >= 1
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        sizes = defaultdict(int)
        for r in rs:
            sizes[r["bucket"]] += 1
        if len(rs) >= 3:
            assert set(sizes) == {"head", "middle", "tail"}
            assert max(sizes.values()) - min(sizes.values()) <= 1
            h = max(r["cross_entropy"] for r in rs if r["bucket"] == "head")
            t = min(r["cross_entropy"] for r in rs if r["bucket"] == "tail")
            assert h <= t + 1e-9


def test_kneser_ney_properties(spark):
    """Same invariants as the CCNet scorer (perplexity == exp(H),
    balanced ordered tertiles) plus the Kneser-Ney mass property: for
    every seen head, the summed probability over its SEEN continuations
    is strictly below 1 — the absolute discount really reserves mass
    for unseen continuations."""
    rows = _run(spark, "docs_kneser_ney_perplexity")
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        assert math.isclose(
            r["perplexity"], math.exp(r["cross_entropy"]), rel_tol=1e-4
        )
        assert r["cross_entropy"] > 0
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        sizes = defaultdict(int)
        for r in rs:
            sizes[r["bucket"]] += 1
        if len(rs) >= 3:
            assert max(sizes.values()) - min(sizes.values()) <= 1
            h = max(r["cross_entropy"] for r in rs if r["bucket"] == "head")
            t = min(r["cross_entropy"] for r in rs if r["bucket"] == "tail")
            assert h <= t + 1e-9

    from pyspark.sql import functions as F

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.corpus import _bigrams, _kn_relations
    from tests.conftest import SF_DIR

    m = load_model(spark, SF_DIR)
    toks = F.split(F.col("text"), " ")
    base = m.documents.select(
        "doc_id", "source", "lang", toks.alias("toks")
    ).where(F.size("toks") >= 2)
    kn_ab, _, _, _ = _kn_relations(
        _bigrams(base, "doc_id", "source", "lang")
    )
    mass = (
        kn_ab.groupBy("a")
        .agg(F.sum(F.exp("lnp")).alias("seen_mass"))
        .collect()
    )
    assert mass
    for r in mass:
        assert 0.0 < r["seen_mass"] < 1.0, r


def test_ccnet_persisted_lm_serving_parity(spark, tmp_path):
    """The pretrained-LM production shape: materialize_ppl_lm persists
    the bigram/unigram/meta relations, and serving from the parquet LM
    reproduces the in-plan query bit-for-bit (same trusted corpus)."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.corpus import (
        ccnet_perplexity_from_lm,
        materialize_ppl_lm,
    )
    from tests.conftest import SF_DIR

    m = load_model(spark, SF_DIR)
    lm_dir = str(tmp_path / "lm")
    materialize_ppl_lm(m.documents, lm_dir)
    direct = {
        r["doc_id"]: r for r in _run(spark, "docs_ccnet_perplexity")
    }
    served = ccnet_perplexity_from_lm(spark, lm_dir, m.documents).collect()
    assert len(served) == len(direct)
    for r in served:
        d = direct[r["doc_id"]]
        assert (
            r["cross_entropy"], r["perplexity"], r["bucket"], r["n_bigrams"]
        ) == (
            d["cross_entropy"], d["perplexity"], d["bucket"], d["n_bigrams"]
        )
    # the LM artifact itself carries log-ratios, never raw counts
    cols = set(spark.read.parquet(lm_dir + "/bigram").columns)
    assert cols == {"a", "b", "lnr_ab"}


def test_training_set_funnel_consistency(spark):
    """Stage counts are monotone non-increasing, stage 2 equals the
    assembled-training-set pre-split survivor count relations, and the
    final stage matches training_set_assembly's row count."""
    rows = sorted(_run(spark, "training_set_funnel"), key=lambda r: r["step_order"])
    ns = [r["n_docs"] for r in rows]
    assert len(ns) == 5
    assert all(a >= b for a, b in zip(ns, ns[1:]))
    assert rows[0]["frac_of_initial"] == 1.0
    m_rows = _run(spark, "training_set_assembly")
    # assembly = quality ∩ canonical ∩ train-split (no decontam stage),
    # so the funnel's train_split count can only be <= assembly's.
    assert ns[4] <= len(m_rows)
    q = _run(spark, "docs_quality_filter")
    kept = sum(1 for r in q if r["kept"]) if q and "kept" in q[0].asDict() else None
    if kept is not None:
        assert ns[1] == kept


def test_pq_topk_properties(spark):
    """Per query exactly 10 ranked results; ADC distances nonnegative
    and sorted by rank; recall@10 against exact L2 clears a floor (PQ
    with 8x16 codebooks over 64 dims is a coarse quantizer, so the
    floor is deliberately modest)."""
    rows = _run(spark, "embedding_pq_topk")
    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
    assert set(per_q) == {0, 1, 2, 3, 4}
    total, hit = 0, 0
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        ds = [r["approx_distance"] for r in rs]
        assert all(d >= 0 for d in ds)
        assert ds == sorted(ds)
        total += len(rs)
        hit += sum(1 for r in rs if r["in_exact_topk"])
    assert hit / total >= 0.2


def test_novelty_curve_properties(spark):
    """Batch 0 is 100% novel by construction, rates stay in (0, 1],
    n_novel <= n_windows everywhere, and the summed novel counts equal
    the corpus's distinct-window-first-appearance total (each distinct
    window hash is novel in exactly one batch — counted once per
    holding doc there)."""
    rows = sorted(_run(spark, "corpus_novelty_curve"), key=lambda r: r["batch"])
    assert rows
    assert rows[0]["batch"] == 0 and rows[0]["novelty_rate"] == 1.0
    for r in rows:
        assert 0 < r["n_novel"] <= r["n_windows"]
        assert 0 < r["novelty_rate"] <= 1.0
        assert r["n_docs"] > 0


def test_ivfpq_topk_properties(spark):
    """Per query exactly 10 ranked results drawn only from the probed
    cells, ADC distances nonnegative and rank-sorted, and the result
    set overlaps the flat-PQ search (same code-budget family)."""
    rows = _run(spark, "embedding_ivfpq_topk")
    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
    assert set(per_q) == {0, 1, 2, 3, 4}
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        ds = [r["approx_distance"] for r in rs]
        assert all(d >= 0 for d in ds) and ds == sorted(ds)
        cells = {r["cell"] for r in rs}
        assert len(cells) <= 2  # nprobe bound


def test_weighted_sample_favors_heavy_docs(spark):
    """Efraimidis–Spirakis semantics: with extreme weight separation
    the top-k is dominated by heavy docs, and the emitted keys are
    ranked descending (ties impossible: keys derive from distinct
    md5(doc_id) uniforms)."""
    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.pipeline import _WSAMPLE_K, docs_weighted_sample
    from tests.conftest import SF_DIR

    heavy = " ".join(["w"] * 2000)
    light = "w"
    rows = [(i, heavy) for i in range(150)] + [
        (1000 + i, light) for i in range(150)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        docs.createOrReplaceTempView("documents")
        got = docs_weighted_sample(Model(spark, "synthetic")).collect()
        assert len(got) == min(_WSAMPLE_K, 300)
        keys = [r["sample_key"] for r in sorted(got, key=lambda r: r["rank"])]
        assert keys == sorted(keys, reverse=True)
        n_heavy = sum(1 for r in got if r["weight"] == 2000)
        # a light doc needs u > ~0.9993 to beat a median heavy doc
        # (key ln(u)/1 vs ln(u)/2000), so a stray light admit or two is
        # CORRECT E-S behavior; demand heavy dominance, not purity
        assert n_heavy >= 90, n_heavy
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_attribution_position_units_conserve(spark):
    """Position-based attribution distributes EXACTLY 1e6 integer units
    per purchase (the remainder rides on the first touch), so the three
    channel unit sums must add up to n_purchases * 1e6 — the invariant
    that makes the channel totals order-independent bigints."""
    [r] = _run(spark, "events_attribution_position")
    assert (
        r["click_units"] + r["view_units"] + r["organic_units"]
        == r["n_purchases"] * 1_000_000
    )
    assert r["n_purchases"] > 0 and r["organic_units"] % 1_000_000 == 0


def test_attribution_first_vs_last_differ_and_cover(spark):
    """First-touch and last-touch see the SAME purchases (identical
    per-channel totals would mean the encode/window is degenerate;
    identical organic counts are expected — eligibility is the same)."""
    first = {r["attributed_to"]: r["n_purchases"] for r in _run(spark, "events_attribution_first")}
    last = {r["attributed_to"]: r["n_purchases"] for r in _run(spark, "events_attribution")}
    assert sum(first.values()) == sum(last.values())
    assert first.get("organic", 0) == last.get("organic", 0)
    assert first != last  # earliest-vs-latest must actually differ on this data


def test_attribution_first_matches_python_replay(spark):
    """Per-channel purchase counts equal a brute-force per-user replay
    of "earliest touch within lookback, click wins timestamp ties"."""
    from hbase_tools_spark.operators.funnels import _ATTR_LOOKBACK_US

    got = {r["attributed_to"]: r["n_purchases"] for r in _run(spark, "events_attribution_first")}
    by_user = defaultdict(list)
    for r in _events(spark):
        if r["event_type"] in ("view", "click", "purchase"):
            by_user[r["user_id"]].append((r["tus"], r["event_type"]))
    want = defaultdict(int)
    for evs in by_user.values():
        touches = [(t, ty) for t, ty in evs if ty != "purchase"]
        for t, ty in evs:
            if ty != "purchase":
                continue
            elig = [
                (tt, tty)
                for tt, tty in touches
                if t - _ATTR_LOOKBACK_US <= tt <= t - 1
            ]
            if not elig:
                want["organic"] += 1
            else:
                # earliest; click (bit 0) wins ties at the same tus
                best = min(elig, key=lambda p: p[0] * 2 + (0 if p[1] == "click" else 1))
                want[best[1]] += 1
    assert got == dict(want)


def test_markov_attribution_matches_decimal_replay(spark):
    """p_full / p_removed equal a driver-side Decimal replay of the
    quantized chain: transition probs rounded to 7dp, K matrix-vector
    products each re-rounded to 7dp — the exact arithmetic contract the
    relational iteration claims."""
    from decimal import ROUND_HALF_UP, Decimal

    from hbase_tools_spark.operators.funnels import _MK_CHANNELS, _MK_STEPS

    rows = _run(spark, "events_markov_attribution")
    got = {r["channel"]: (r["p_full"], r["p_removed"]) for r in rows}

    ev = sorted(
        (
            (r["user_id"], r["tus"], r["event_type"])
            for r in _events(spark)
            if r["event_type"] in ("view", "click", "purchase")
        ),
    )
    # journeys -> raw transitions (purchase absorbing, start/end virtual)
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, t, ty in ev:
        by_user[u].append(ty)
    cnt = defaultdict(int)
    for seq in by_user.values():
        cnt[("start", seq[0])] += 1
        for a, b in zip(seq, seq[1:]):
            if a != "purchase":
                cnt[(a, b)] += 1
        if seq[-1] != "purchase":
            cnt[(seq[-1], "end")] += 1
    tot = defaultdict(int)
    for (a, _), c in cnt.items():
        tot[a] += c
    q7 = lambda x: Decimal(x).quantize(Decimal("0.0000001"), ROUND_HALF_UP)  # noqa: E731
    # fround semantics: floor(x*1e7+0.5)/1e7 on the double ratio
    import math

    P = {
        k: Decimal(math.floor((c / tot[k[0]]) * 1e7 + 0.5)) / Decimal(10**7)
        for k, c in cnt.items()
    }

    def run_chain(removed: str | None) -> Decimal:
        tr = defaultdict(Decimal)
        for (a, b), p in P.items():
            if a == removed:
                continue
            tr[(a, "end" if b == removed else b)] += p
        tr[("purchase", "purchase")] = Decimal(1)
        tr[("end", "end")] = Decimal(1)
        v = {"start": Decimal(1)}
        for _ in range(_MK_STEPS):
            nxt = defaultdict(Decimal)
            for (a, b), p in tr.items():
                if a in v:
                    nxt[b] += p * v[a]
            v = {s: q7(x) for s, x in nxt.items()}
        return v.get("purchase", Decimal(0))

    p_full = run_chain(None)
    for ch in _MK_CHANNELS:
        want_full = float(
            Decimal(math.floor(float(p_full) * 1e6 + 0.5)) / Decimal(10**6)
        )
        want_rm = float(
            Decimal(math.floor(float(run_chain(ch)) * 1e6 + 0.5)) / Decimal(10**6)
        )
        assert got[ch] == (want_full, want_rm), (ch, got[ch], want_full, want_rm)


def test_props_rollup_quoted_numeric_parity(spark):
    """Quoted numerics ("k":"7") must coerce identically in both
    engines (round-6 ADVICE: a "k double" from_json schema NULLed them
    on the Spark side while the oracle's TRY_CAST coerced them —
    certification only held because the fixtures emit bare numbers)."""
    import duckdb

    from hbase_tools_spark.catalog import load_model

    rows = [
        (0, "a", 1.0, '{"k": 3}'),        # bare integer
        (1, "a", 2.0, '{"k": "7"}'),      # QUOTED integer — the trap
        (2, "a", 4.0, '{"k": "12.5"}'),   # quoted fractional -> gated
        (3, "b", 8.0, '{"k": 12.5}'),     # bare fractional -> gated
        (4, "b", 16.0, '{"k": "abc"}'),   # non-numeric -> NULL both
        (5, "b", 32.0, "{}"),             # absent -> NULL both
        (6, "b", 64.0, '{"k": "17"}'),    # quoted integer, 2nd group
    ]
    spark.createDataFrame(
        [(i, t, v, p) for i, t, v, p in rows],
        "event_id long, event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    try:
        from hbase_tools_spark.catalog import Model

        got = sorted(
            map(
                tuple,
                QUERIES["events_props_rollup"]
                .fn(Model(spark, "/tmp/props_parity_fixture"))
                .toPandas()
                .astype(str)
                .values.tolist(),
            )
        )
        con = duckdb.connect()
        vals = ", ".join(
            f"({i}, '{t}', {v}, '{p}')" for i, t, v, p in rows
        )
        con.execute(
            "CREATE VIEW events AS SELECT * FROM (VALUES "
            + vals
            + ") t(event_id, event_type, value, props)"
        )
        want = sorted(
            map(
                tuple,
                con.sql(QUERIES["events_props_rollup"].oracle)
                .fetchdf()
                .astype(str)
                .values.tolist(),
            )
        )
        assert got == want
        # the quoted-integer rows must have been COUNTED, not NULLed
        assert any("7" == r[-3] or "7" in r for r in got)
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)
