"""Text-analysis operators (M8): language-ID heuristic, quality scoring,
token counting, document fingerprinting — the text half of a training-
data pipeline, all as JVM-side Column expressions (no Python UDFs in the
hot path).

Scale: every query here is embarrassingly parallel per document (narrow
transformations feeding a thin aggregate or none), so the plans are a
single scan stage at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import Model
from ..functions.exprs import fround, fround_sql
from ..functions.partitioning import python_stage_input
from ..registry import query

_STOPWORDS = ("the", "a")


@query(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)  AS n_tokens,
       CAST(length(text) AS BIGINT)                  AS n_chars_calc,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       floor((length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
         AS avg_token_len,
       floor((len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) * 1.0
              / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
         AS stopword_ratio
FROM documents
""",
    views=[],
)
def text_stats(m: Model) -> DataFrame:
    """Quality-scoring stats per document: whitespace token count,
    char count, regex word-token count (BPE-ish pre-tokenization),
    average token length, stopword ratio."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    stop_cnt = F.size(
        F.filter(toks, lambda x: x.isin(*_STOPWORDS))
    )
    return m.documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+")).cast("bigint").alias("n_word_tokens"),
        fround(
            F.length(F.regexp_replace(F.col("text"), " ", "")) * 1.0 / n_tokens, 4
        ).alias("avg_token_len"),
        fround(stop_cnt * 1.0 / n_tokens, 4).alias("stopword_ratio"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
SELECT doc_id, lang,
       CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                 * 1.0 / len(string_split(text, ' ')) > 0.02
            THEN 'en' ELSE 'unk' END AS pred_lang,
       (lang = CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                         * 1.0 / len(string_split(text, ' ')) > 0.02
                    THEN 'en' ELSE 'unk' END) AS agree
FROM documents
""",
    views=[],
)
def lang_id_heuristic(m: Model) -> DataFrame:
    """N-gram/stopword language-ID heuristic: english stopword density
    above 2% -> 'en'.  (A real pipeline swaps in fastText/CLD3 via the
    same column contract.)"""
    toks = F.split(F.col("text"), " ")
    ratio = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))) * 1.0 / F.size(toks)
    pred = F.when(ratio > 0.02, "en").otherwise("unk")
    return m.documents.select(
        "doc_id", "lang", pred.alias("pred_lang"), (F.col("lang") == pred).alias("agree")
    )


@query(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       md5(text)                                    AS content_hash,
       CAST(length(text) AS BIGINT)                 AS n_chars_calc,
       md5(substr(text, 1, 40))                     AS prefix_hash
FROM documents
""",
    views=[],
)
def doc_fingerprints(m: Model) -> DataFrame:
    """Document fingerprinting: full-content MD5 + 40-char prefix hash
    (rolling-hash stand-in, cross-engine deterministic)."""
    return m.documents.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.md5(F.substring(F.col("text"), 1, 40).cast("binary")).alias("prefix_hash"),
    )


@query(
    "docs_exact_dedup",
    oracle="""
SELECT content_hash, keep_doc_id, group_size
FROM (
  SELECT md5(text) AS content_hash,
         min(doc_id) AS keep_doc_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM documents
  GROUP BY 1
) g
""",
    views=[],
)
def docs_exact_dedup(m: Model) -> DataFrame:
    """Exact dedup (hash-groupBy): one surviving doc_id per distinct
    content hash.  Map-side partial agg means the shuffle carries one
    row per distinct hash — the 100 TB-safe exact-dedup plan."""
    return (
        m.documents.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


@query(
    "docs_prefix_dedup",
    oracle="""
SELECT prefix_hash, keep_doc_id, group_size
FROM (
  SELECT md5(substr(text, 1, 40)) AS prefix_hash,
         min(doc_id) AS keep_doc_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM documents
  GROUP BY 1
) g
WHERE group_size > 1
""",
    views=[],
)
def docs_prefix_dedup(m: Model) -> DataFrame:
    """Near-exact dedup by normalized prefix: groups sharing a 40-char
    prefix with more than one member (the cheap first pass before
    MinHash)."""
    return (
        m.documents.groupBy(
            F.md5(F.substring(F.col("text"), 1, 40).cast("binary")).alias("prefix_hash")
        )
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@query(
    "simhash_fingerprints",
    oracle="""
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 16),
         b -> CASE WHEN list_sum(list_transform(hs,
                     h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash16
FROM (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT)) AS hs
  FROM documents
) t
""",
    views=[],
)
def simhash_fingerprints(m: Model) -> DataFrame:
    """SimHash (16-bit) per document: each token hashes to 16 bits via
    md5; bit b of the fingerprint is the sign of sum(+/-1) of that bit
    over tokens (occurrence-weighted).  Also differential-tested
    against a pure-Python port in tests/test_llm.py.

    Arrow ``mapInPandas``, like the MinHash signer: the explode +
    md5-per-token + 16-conditional-sum groupBy runs interpreted/wide
    (~0.5 s at sf0.1), while here each distinct token hashes once per
    batch (dict cache — corpus vocabulary is tiny vs token count) and
    the 16 bit-sums are one numpy matmul.  Shuffle-free: a pure map
    stage, one row out per doc."""
    import hashlib

    import numpy as np
    import pandas as pd

    def simhasher(batches):
        cache: dict[str, int] = {}
        # token-hash h -> (16,) ±1 bit rows, built lazily per batch
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts: dict[str, int] = {}
                for t in text.split(" "):
                    counts[t] = counts.get(t, 0) + 1
                hs = np.empty(len(counts), dtype=np.int64)
                ws = np.fromiter(counts.values(), np.int64, len(counts))
                for j, t in enumerate(counts):
                    h = cache.get(t)
                    if h is None:
                        h = cache[t] = int(
                            hashlib.md5(t.encode()).hexdigest()[:4], 16
                        )
                    hs[j] = h
                bits = (hs[:, None] >> np.arange(16)) & 1  # (n_tok, 16)
                sums = ws @ (2 * bits - 1)
                fp = int(((sums > 0) << np.arange(16)).sum())
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "simhash16": fps})

    return python_stage_input(
        m.documents.select("doc_id", "text"), "doc_id"
    ).mapInPandas(simhasher, "doc_id long, simhash16 long")


# --- Winnowing fingerprints (real rolling hash) -------------------------
# Karp-Rabin over token hashes: h(i) = sum_j th[i+j] * B^j  (mod P1),
# minimized over a guarantee window (winnowing, as in MOSS).  P1 < 2^20
# keeps every partial product < 2^40 so the unrolled sum stays in BIGINT
# range in BOTH engines (no overflow, no hugeint).
_KGRAM = 8        # tokens per k-gram
_WINNOW = 4       # guarantee window (k-gram hashes per min)
_RH_BASE = 31
_RH_P = 1048573   # largest prime < 2^20
_RH_POW = [pow(_RH_BASE, j, _RH_P) for j in range(_KGRAM)]

_TH_SQL = (
    "list_transform(string_split(text, ' '), "
    "t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % " + str(_RH_P) + ")"
)
_RH_SUM_SQL = " + ".join(f"ths[i+{j}] * {_RH_POW[j]}" for j in range(_KGRAM))
_WINNOW_SQL = ", ".join(f"hs[i+{j}]" for j in range(_WINNOW))


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
SELECT DISTINCT doc_id, fp
FROM (
  SELECT doc_id,
         unnest(list_transform(range(1, len(hs) - {_WINNOW - 2}),
                               i -> least({_WINNOW_SQL}))) AS fp
  FROM (
    SELECT doc_id,
           list_transform(range(1, len(ths) - {_KGRAM - 2}),
                          i -> ({_RH_SUM_SQL}) % {_RH_P}) AS hs
    FROM (SELECT doc_id, {_TH_SQL} AS ths FROM documents) t
    WHERE len(ths) >= {_KGRAM}
  ) h
  WHERE len(hs) >= {_WINNOW}
) w
""",
    views=[],
)
def doc_winnow_fingerprints(m: Model) -> DataFrame:
    """Winnowing document fingerprints: Karp-Rabin rolling hash over
    token-hash {8}-grams, minimized over a {4}-hash guarantee window,
    deduplicated — the MOSS scheme.

    One Arrow ``mapInPandas`` pass: per-token md5 (memoized per worker —
    the token vocabulary is far smaller than the token stream), the
    rolling hash as {8} shifted int64 slice-multiplies, the guarantee
    window as a vectorized sliding-window min, and the per-doc dedup as
    ``np.unique`` — so NO global DISTINCT shuffle is needed (each doc is
    one input row; per-doc unique == global unique on (doc_id, fp)).
    At 100 TB this is a pure map stage: zero exchanges, constant memory
    per Arrow batch.  Replaces an interpreted expression chain (md5 →
    conv → unrolled Horner per element) that was ~2.5× slower and
    GC-sensitive at bench scale."""
    import hashlib

    import numpy as np
    import pandas as pd

    token_cache: dict[str, int] = {}

    def winnow(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                n = len(toks)
                if n < _KGRAM:
                    continue
                ths = np.empty(n, dtype=np.int64)
                for i, t in enumerate(toks):
                    h = token_cache.get(t)
                    if h is None:
                        h = (
                            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
                            % _RH_P
                        )
                        token_cache[t] = h
                    ths[i] = h
                nk = n - _KGRAM + 1
                hs = np.zeros(nk, dtype=np.int64)
                for j in range(_KGRAM):  # full sum then mod — oracle's order
                    hs += ths[j : j + nk] * _RH_POW[j]
                hs %= _RH_P
                if nk < _WINNOW:
                    continue
                mins = np.lib.stride_tricks.sliding_window_view(hs, _WINNOW).min(
                    axis=1
                )
                uniq = np.unique(mins)
                ids.append(np.full(len(uniq), doc_id, dtype=np.int64))
                fps.append(uniq)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
                )

    return python_stage_input(
        m.documents.select("doc_id", "text"), "doc_id"
    ).mapInPandas(winnow, "doc_id long, fp long")


_QF_MIN_TOKENS = 20
_QF_MAX_TOKENS = 10000
_QF_MIN_STOPWORD = 0.005


@query(
    "docs_quality_filter",
    oracle=f"""
SELECT doc_id, n_tokens, stopword_ratio
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         floor((len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) * 1.0
                / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio
  FROM documents
) t
WHERE n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS}
  AND stopword_ratio >= {_QF_MIN_STOPWORD}
""",
    views=[],
)
def docs_quality_filter(m: Model) -> DataFrame:
    """Pretraining quality gate: keep documents inside the token-count
    band with at least the minimum stopword density (gibberish and
    boilerplate fall below it).  Pure narrow filter — at 100 TB this
    runs inside the scan stage with zero shuffle."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    ratio = fround(
        F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))) * 1.0 / F.size(toks), 4
    )
    return (
        m.documents.select(
            "doc_id", n_tokens.alias("n_tokens"), ratio.alias("stopword_ratio")
        )
        .filter(
            F.col("n_tokens").between(_QF_MIN_TOKENS, _QF_MAX_TOKENS)
            & (F.col("stopword_ratio") >= _QF_MIN_STOPWORD)
        )
    )


@query(
    "docs_dedup_canonical",
    oracle="""
SELECT doc_id, canonical_id, (doc_id = canonical_id) AS is_canonical
FROM (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM documents
) t
""",
    views=[],
)
def docs_dedup_canonical(m: Model) -> DataFrame:
    """Exact dedup with a keep-strategy: every document maps to the
    lowest doc_id sharing its content hash (the canonical survivor);
    non-canonical rows are the drop set.  One shuffle on the content
    hash — the canonical 100 TB exact-dedup shape (group by hash,
    min-id survivor)."""
    from pyspark.sql.window import Window as W

    canonical = F.min("doc_id").over(
        W.partitionBy(F.md5(F.col("text").cast("binary")))
    )
    return m.documents.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") == canonical).alias("is_canonical"),
    )


@query(
    "token_count_hist",
    oracle="""
SELECT CAST(floor(len(string_split(text, ' ')) / 10) AS BIGINT) * 10 AS token_bucket,
       CAST(count(*) AS BIGINT) AS docs
FROM documents
GROUP BY 1
""",
    views=[],
)
def token_count_hist(m: Model) -> DataFrame:
    """Token-count histogram over the corpus (10-token buckets) — the
    documents-table analog of the reference's size histogram (A2,
    analyze/TableAnalyzer.java:85-103): narrow bucket expression +
    low-cardinality groupBy."""
    bucket = (
        F.floor(F.size(F.split(F.col("text"), " ")) / 10).cast("bigint") * 10
    )
    return m.documents.groupBy(bucket.alias("token_bucket")).agg(
        F.count(F.lit(1)).alias("docs")
    )


@query(
    "corpus_stats_by_lang",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
""",
    views=[],
)
def corpus_stats_by_lang(m: Model) -> DataFrame:
    """Per-language corpus rollup (docs, token volume, length extremes)
    — the summary a data pipeline reports per shard before mixing."""
    return m.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias(
            "total_tokens"
        ),
        F.min(F.length("text").cast("bigint")).alias("min_chars"),
        F.max(F.length("text").cast("bigint")).alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Gopher-style rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1): the
# standard multi-rule pretraining quality gate.  Every threshold below
# is evaluated in INTEGER arithmetic (count*k vs n*k comparisons), so
# the flags are bit-identical across engines with no FP epsilon.
# ---------------------------------------------------------------------------

_GR_MIN_WORDS = 30
_GR_MAX_WORDS = 100_000
_GR_MIN_MEAN_WLEN = 3   # mean word length in [3, 10]
_GR_MAX_MEAN_WLEN = 10
_GR_MIN_STOP_HITS = 2   # >= 2 stopword occurrences
# >= 80% of words contain an alphabetic character  ->  5*alpha >= 4*n
# symbol-to-word ratio <= 0.1 ('#' or '...')       ->  10*sym  <= n


@query(
    "docs_gopher_rules",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nonspace,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_cnt,
         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS sym_cnt,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt
  FROM documents
)
SELECT doc_id, n_tokens,
       (n_tokens BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS})          AS ok_word_count,
       (nonspace >= {_GR_MIN_MEAN_WLEN} * n_tokens
        AND nonspace <= {_GR_MAX_MEAN_WLEN} * n_tokens)                AS ok_mean_word_len,
       (5 * alpha_cnt >= 4 * n_tokens)                                 AS ok_alpha_words,
       (10 * sym_cnt <= n_tokens)                                      AS ok_symbol_ratio,
       (stop_cnt >= {_GR_MIN_STOP_HITS})                               AS ok_stopwords,
       (n_tokens BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS}
        AND nonspace >= {_GR_MIN_MEAN_WLEN} * n_tokens
        AND nonspace <= {_GR_MAX_MEAN_WLEN} * n_tokens
        AND 5 * alpha_cnt >= 4 * n_tokens
        AND 10 * sym_cnt <= n_tokens
        AND stop_cnt >= {_GR_MIN_STOP_HITS})                           AS pass_all
FROM t
""",
    views=[],
)
def docs_gopher_rules(m: Model) -> DataFrame:
    """Gopher rule battery (Rae et al. 2021 table A1): word-count band,
    mean-word-length band, alphabetic-word fraction >= 80%, symbol-to-
    word ratio <= 0.1, minimum stopword hits — per-document flags plus
    the conjunction, the standard pretraining quality gate.

    Every rule compares integer counts scaled by integer constants
    (``5*alpha >= 4*n`` instead of ``alpha/n >= 0.8``), so there is no
    floating-point boundary anywhere — flags are exact in both engines.
    Pure narrow projection: at 100 TB this runs inside the scan stage
    with zero shuffle."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("bigint")
    alpha_cnt = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    sym_cnt = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.")).cast("bigint")
    stop_cnt = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("bigint")
    base = m.documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        nonspace.alias("nonspace"),
        alpha_cnt.alias("alpha_cnt"),
        sym_cnt.alias("sym_cnt"),
        stop_cnt.alias("stop_cnt"),
    )
    ok_words = F.col("n_tokens").between(_GR_MIN_WORDS, _GR_MAX_WORDS)
    ok_wlen = (F.col("nonspace") >= _GR_MIN_MEAN_WLEN * F.col("n_tokens")) & (
        F.col("nonspace") <= _GR_MAX_MEAN_WLEN * F.col("n_tokens")
    )
    ok_alpha = 5 * F.col("alpha_cnt") >= 4 * F.col("n_tokens")
    ok_sym = 10 * F.col("sym_cnt") <= F.col("n_tokens")
    ok_stop = F.col("stop_cnt") >= _GR_MIN_STOP_HITS
    return base.select(
        "doc_id",
        "n_tokens",
        ok_words.alias("ok_word_count"),
        ok_wlen.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_wlen & ok_alpha & ok_sym & ok_stop).alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# PII scrub (the CCNet/Dolma redaction stage): regex-redact emails,
# phone numbers, and IPv4 addresses, report per-doc hit counts and the
# redacted length.  The fixture corpus is a clean word salad, so the
# PII-bearing input is built DETERMINISTICALLY from doc_id (the
# multimodal convention: derive the payload from fixture columns, keep
# the engine-side machinery real): ~4/5 of docs get a synthetic web
# contact footer with an email / phone / IP chosen by doc_id
# residues; the rest stay clean and pin the no-false-positive side.
# BOTH engines build the identical raw string and run their own regex
# engines (Java util.regex vs RE2) — a genuine cross-engine
# differential over patterns restricted to the common dialect.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"

# The deterministic contact footer, as DuckDB SQL over doc_id.
_PII_RAW_SQL = """
CASE WHEN doc_id % 5 = 0 THEN text ELSE text || ' contact:'
  || CASE WHEN doc_id % 2 = 0
          THEN ' user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
          ELSE '' END
  || CASE WHEN doc_id % 3 <> 1
          THEN ' tel ' || (doc_id * 7 % 900 + 100)
               || '-' || (doc_id * 13 % 900 + 100)
               || '-' || (doc_id * 31 % 9000 + 1000)
          ELSE '' END
  || CASE WHEN doc_id % 4 = 2
          THEN ' ip ' || (doc_id % 256) || '.' || (doc_id * 3 % 256)
               || '.' || (doc_id * 5 % 256) || '.' || (doc_id * 11 % 256)
          ELSE '' END
END
"""


@query(
    "docs_pii_scrub",
    oracle=f"""
WITH raw AS (SELECT doc_id, ({_PII_RAW_SQL.strip()}) AS raw FROM documents),
hits AS (
  SELECT doc_id, raw,
         len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(raw, '{_PII_IP}'))    AS n_ips,
         regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                        '{_PII_IP}', '<IP>', 'g') AS partial
  FROM raw
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(partial, '{_PII_PHONE}')) AS BIGINT)
         AS n_phones,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(n_emails + len(regexp_extract_all(partial, '{_PII_PHONE}'))
            + n_ips AS BIGINT) AS n_pii,
       CAST(length(raw) AS BIGINT) AS raw_chars,
       CAST(length(regexp_replace(partial, '{_PII_PHONE}', '<PHONE>', 'g'))
            AS BIGINT) AS scrubbed_chars,
       n_emails + len(regexp_extract_all(partial, '{_PII_PHONE}'))
            + n_ips = 0 AS clean
FROM hits
""",
    views=[],
)
def docs_pii_scrub(m: Model) -> DataFrame:
    """PII redaction gate: per document, the email / phone / IPv4 hit
    counts found by regex over the contact-decorated raw text, the
    total, the raw and post-redaction character lengths (each match
    collapses to ``<EMAIL>``/``<IP>``/``<PHONE>``), and the clean
    flag — the CCNet/Dolma pre-training scrub stage.  Redaction order
    (email, then IP, then phone) is fixed so the engines' replacement
    cascades agree; phones are counted AFTER the earlier redactions,
    exactly as a staged scrubber sees the text.

    Plan: one narrow scan-stage projection per doc — no shuffle at
    all (the ideal 100 TB shape: regex redaction is embarrassingly
    parallel and pipelines into whatever gate consumes the flags).
    Patterns are restricted to the Java-regex ∩ RE2 common dialect so
    both engines compute the same matches."""
    did = F.col("doc_id")

    def s(c) -> Column:
        return c.cast("string")

    footer = F.concat(
        F.lit(" contact:"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" user"), s(did), F.lit("@mail"), s(did % 7),
                F.lit(".example.com"),
            ),
        ).otherwise(""),
        F.when(
            did % 3 != 1,
            F.concat(
                F.lit(" tel "), s(did * 7 % 900 + 100),
                F.lit("-"), s(did * 13 % 900 + 100),
                F.lit("-"), s(did * 31 % 9000 + 1000),
            ),
        ).otherwise(""),
        F.when(
            did % 4 == 2,
            F.concat(
                F.lit(" ip "), s(did % 256), F.lit("."), s(did * 3 % 256),
                F.lit("."), s(did * 5 % 256), F.lit("."), s(did * 11 % 256),
            ),
        ).otherwise(""),
    )
    raw = F.when(did % 5 == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), footer)
    )

    def n_hits(col, pat) -> Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    base = m.documents.select("doc_id", raw.alias("raw"))
    partial = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
        _PII_IP,
        "<IP>",
    )
    hits = base.select(
        "doc_id",
        "raw",
        n_hits(F.col("raw"), _PII_EMAIL).alias("n_emails"),
        n_hits(F.col("raw"), _PII_IP).alias("n_ips"),
        partial.alias("partial"),
    )
    n_phones = n_hits(F.col("partial"), _PII_PHONE)
    n_pii = F.col("n_emails") + n_phones + F.col("n_ips")
    return hits.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        F.col("n_ips").cast("bigint").alias("n_ips"),
        n_pii.cast("bigint").alias("n_pii"),
        F.length("raw").cast("bigint").alias("raw_chars"),
        F.length(F.regexp_replace(F.col("partial"), _PII_PHONE, "<PHONE>"))
        .cast("bigint")
        .alias("scrubbed_chars"),
        (n_pii == 0).alias("clean"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — subword tokens per whitespace word, by language:
# the metric teams watch when a tokenizer under-serves a language (high
# fertility = more compute per word).  The "subword" tokenizer here is
# the BPE-ish fixed-width chunk regex ([a-z]{1,4}); a real pipeline
# swaps in its tokenizer via the same per-doc count contract.
# ---------------------------------------------------------------------------


@query(
    "tokenizer_fertility",
    oracle=f"""
WITH t AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT)             AS n_words,
         CAST(len(regexp_extract_all(text, '[a-z]{{1,4}}')) AS BIGINT) AS n_subtokens,
         CAST(length(text) AS BIGINT)                             AS n_chars_calc
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT)        AS docs,
       CAST(sum(n_words) AS BIGINT)    AS total_words,
       CAST(sum(n_subtokens) AS BIGINT) AS total_subtokens,
       {fround_sql('sum(n_subtokens) * 1.0 / sum(n_words)', 6)}  AS fertility,
       {fround_sql('sum(n_chars_calc) * 1.0 / sum(n_subtokens)', 6)} AS chars_per_subtoken
FROM t
GROUP BY lang
""",
    views=[],
)
def tokenizer_fertility(m: Model) -> DataFrame:
    """Tokenizer fertility by language: subword tokens (greedy 1-4 char
    chunks, a BPE stand-in) per whitespace word, and chars per subword
    token — the per-language cost profile of a tokenizer over a corpus.

    Integer count sums (exact, order-independent) feed one final
    division per group, so the doubles are computed identically in both
    engines.  One low-cardinality groupBy — a single map-side-combined
    shuffle at any scale."""
    toks = F.split(F.col("text"), " ")
    t = m.documents.select(
        "lang",
        F.size(toks).cast("bigint").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit("[a-z]{1,4}"))
        .cast("bigint")
        .alias("n_subtokens"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_subtokens").cast("bigint").alias("total_subtokens"),
        fround(F.sum("n_subtokens") * 1.0 / F.sum("n_words"), 6).alias("fertility"),
        fround(F.sum("n_chars_calc") * 1.0 / F.sum("n_subtokens"), 6).alias(
            "chars_per_subtoken"
        ),
    )


# ---------------------------------------------------------------------------
# BPE merge training — the first K byte-pair merges learned fully
# in-engine.  The corpus collapses to the word-frequency VOCAB relation
# first (the classic BPE trick: corpora are huge, vocabularies aren't),
# so every merge round is an agg + argmax + greedy re-merge over a
# vocab-sized relation; the argmax is a 1-row driver sync per round
# (the Lloyd/codebook convention) that re-enters the fold as a literal.
# ---------------------------------------------------------------------------

_BPE_STEPS = 4

# Greedy left-to-right merge of pair (a b) over the space-joined symbol
# string, as a left fold: if the accumulator ends with symbol `a` and
# the next symbol is `b`, replace that trailing `a` with `merged`.
# Fold semantics (not string replace) so a merged token can chain as
# the LEFT side of the next match but never re-match as the right —
# exactly BPE's greedy scan.  The Spark and DuckDB lambdas are
# line-for-line the same expression.
_BPE_FOLD_SPARK = """
aggregate(
  slice(toks, 2, greatest(size(toks) - 1, 0)),
  element_at(toks, 1),
  (acc, x) -> CASE
    WHEN x = split_part(pair, ' ', 2)
         AND (acc = split_part(pair, ' ', 1)
              OR endswith(acc, concat(' ', split_part(pair, ' ', 1))))
    THEN concat(substring(acc, 1, length(acc) - length(split_part(pair, ' ', 1))), merged)
    ELSE concat(acc, ' ', x) END)
"""

_BPE_FOLD_DUCK = """
list_reduce(toks, (acc, x) -> CASE
    WHEN x = split_part(pair, ' ', 2)
         AND (acc = split_part(pair, ' ', 1)
              OR ends_with(acc, ' ' || split_part(pair, ' ', 1)))
    THEN substr(acc, 1, len(acc) - len(split_part(pair, ' ', 1))) || merged
    ELSE acc || ' ' || x END)
"""


def _bpe_chain_sql(carry_word: bool) -> str:
    """The unrolled K-round BPE training CTE chain in DuckDB SQL (the
    LR-train / Markov-chain convention: per-round CTEs, deterministic
    argmax).  ``carry_word`` threads the original word through the
    vocabulary rewrites (needed by the encode query, ignored by the
    pair counts either way).

    Each round's argmax unions a SENTINEL candidate (pair ``' '`` —
    empty left/right symbols, provably unmatched since tokens are
    never empty — with n=0, below any real pair): without it, a round
    with NO adjacent pairs left (fully-merged or single-char
    vocabulary) would produce an empty 1-row relation whose cross join
    annihilates the whole chain, silently emptying every downstream
    relation in BOTH engines."""
    wcol = "word, " if carry_word else ""
    sql = f"""
w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  GROUP BY word
),
v1 AS (SELECT {wcol}trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, c FROM w)
"""
    for i in range(1, _BPE_STEPS + 1):
        sql += f""",
p{i} AS (
  SELECT pair, CAST(sum(c) AS BIGINT) AS n
  FROM (
    SELECT c, unnest(list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])) AS pair
    FROM (SELECT c, string_split(s, ' ') AS toks FROM v{i}) t
    WHERE len(toks) >= 2
  ) pr
  GROUP BY pair
),
m{i} AS (
  SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, n
  FROM (SELECT pair, n FROM p{i}
        UNION ALL SELECT ' ' AS pair, 0 AS n) c
  ORDER BY n DESC, pair LIMIT 1
),
v{i + 1} AS (
  SELECT {wcol}{_BPE_FOLD_DUCK.strip()} AS s, c
  FROM (SELECT {wcol}string_split(s, ' ') AS toks, c FROM v{i}) t
  CROSS JOIN m{i}
)
"""
    return sql


def _bpe_oracle() -> str:
    union = " UNION ALL ".join(
        f"SELECT CAST(step AS BIGINT) AS step, pair, merged, n FROM m{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    return "WITH " + _bpe_chain_sql(carry_word=False) + union


@query("bpe_merge_steps", oracle=_bpe_oracle(), views=[])
def bpe_merge_steps(m: Model) -> DataFrame:
    """The first {4} BPE merges learned from the corpus, entirely
    in-engine (Sennrich et al. 2016): words collapse to the frequency
    vocabulary, symbols start as characters, and each round (a) sums
    adjacent-pair frequencies, (b) takes the deterministic argmax
    (count desc, pair asc), and (c) greedily re-merges the vocabulary —
    the argmax is collected as a 1-row codebook per round (full-batch
    training IS K sequential syncs — the Lloyd shape) and re-enters
    the fold as a literal, so each round costs exactly one vocab-sized
    job with no exchange rebuild.

    Scale: the corpus is scanned ONCE (word counts, stage-persisted);
    every subsequent round is vocab-sized — exactly why real BPE
    trainers pre-aggregate to the vocabulary.  Pair counts are exact
    integer sums; the greedy merge is a left fold with identical
    lambda text in both engines."""
    merges, _ = _bpe_chain(m)
    return m.documents.sparkSession.createDataFrame(
        merges, "step bigint, pair string, merged string, n bigint"
    )


def _bpe_chain(m: Model) -> tuple[list[tuple], DataFrame]:
    """The K-round BPE training chain shared by :func:`bpe_merge_steps`
    (consumes the per-round argmax rows) and :func:`bpe_encode_tokens`
    (consumes the final merged vocabulary): returns (one collected
    (step, pair, merged, n) tuple per round, the (word, s, c)
    vocabulary after all K merges — ``s`` is the space-joined symbol
    segmentation of ``word``)."""
    from ..functions.cache import stage_persist

    words = F.explode(F.split(F.col("text"), " ")).alias("word")
    vocab = stage_persist(
        m.documents.select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "word",
            F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("s"),
            "c",
        )
    )
    # ^ K+1 consumers (each round's pair counts + the final encode
    # vocabulary all re-fold from here): without the persist every
    # round re-scans the corpus and re-shuffles the word counts —
    # measured 2.25 s -> ~1.1 s at sf0.1 (round-10 shave).  At 100 TB
    # the vocabulary is Heaps-law-bounded (~10^7 rows), far below the
    # corpus, so caching it is exactly what real BPE trainers do.
    pair_expr = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    merges: list[tuple] = []
    cur = vocab
    # Sentinel argmax candidate (pair " " = empty symbols, unmatched by
    # the fold since tokens are never empty; n=0 loses to any real
    # pair): keeps each round's 1-row argmax NON-EMPTY even when no
    # adjacent pairs remain.  Mirrored verbatim in the oracle chain.
    sentinel = m.documents.sparkSession.createDataFrame(
        [(" ", 0)], "pair string, n bigint"
    )
    for step in range(1, _BPE_STEPS + 1):
        toks = cur.select(F.split("s", " ").alias("toks"), "c").where(
            F.size("toks") >= 2
        )
        counts = (
            toks.select("c", F.explode(pair_expr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("c").cast("bigint").alias("n"))
        )
        # Each round is exactly ONE job: the pair aggregate with the
        # deterministic argmax COLLECTED as a 1-row codebook (the
        # Lloyd/centroid-build convention — a K-round training loop is
        # inherently K sequential syncs; collecting one row per sync
        # replaces the former per-round lazy-checkpoint + broadcast
        # exchange pair, measured 2.25 s -> ~0.8 s at sf0.1).  The
        # merge pair then enters the next round's fold as a LITERAL,
        # so rounds 2..K never rebuild an exchange.
        best = (
            counts.unionAll(sentinel)
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .first()
        )
        pair, n = best["pair"], int(best["n"])
        merged = pair.replace(" ", "")
        merges.append((step, pair, merged, n))
        cur = (
            cur.select(
                "word",
                F.split("s", " ").alias("toks"),
                "c",
                F.lit(pair).alias("pair"),
                F.lit(merged).alias("merged"),
            )
            .select("word", F.expr(_BPE_FOLD_SPARK.strip()).alias("s"), "c")
            # Lineage truncation per round: the fold references its
            # input tokens twice, so an unchecked chain DOUBLES the
            # expression tree every round (2^K plan analysis).  A lazy
            # vocab-sized checkpoint keeps every round's plan constant
            # size; it materializes inside the round's one job.
            .localCheckpoint(eager=False)
        )
    return merges, cur


# ---------------------------------------------------------------------------
# Percentile length gate — trim corpus length outliers by GLOBAL
# quantile thresholds: the two-pass "compute scalar thresholds, then
# broadcast them into a narrow filter" shape (the scale-safe way to
# filter on corpus-relative statistics — contrast with a window over
# the whole corpus, which would be one giant partition).
# ---------------------------------------------------------------------------

_LP_LO = 0.05
_LP_HI = 0.95


@query(
    "docs_length_percentile_filter",
    oracle=f"""
WITH th AS (
  SELECT quantile_cont(length(text), {_LP_LO}) AS lo,
         quantile_cont(length(text), {_LP_HI}) AS hi
  FROM documents
)
SELECT source,
       CAST(count(*) FILTER (WHERE length(text) >= lo AND length(text) <= hi) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE length(text) < lo) AS BIGINT)  AS n_dropped_short,
       CAST(count(*) FILTER (WHERE length(text) > hi) AS BIGINT)  AS n_dropped_long,
       {fround_sql('any_value(lo)', 4)} AS lo_chars,
       {fround_sql('any_value(hi)', 4)} AS hi_chars
FROM documents, th
GROUP BY source
""",
    views=[],
)
def docs_length_percentile_filter(m: Model) -> DataFrame:
    """Corpus-relative length gate: documents outside the global
    [p5, p95] char-length band are outliers (truncated fragments and
    concatenation accidents); per source, the kept/dropped-short/
    dropped-long counts and the thresholds applied.

    Plan: pass 1 computes the two exact quantiles as a ONE-ROW relation
    (at 100 TB switch to percentile_approx — same plan shape); the
    broadcast nested-loop join then decorates the narrow per-doc scan
    with two scalars, and the per-source aggregate is a single
    map-side-combined shuffle.  The corpus is never window-sorted."""
    th = m.documents.agg(
        F.expr(f"percentile(length(text), {_LP_LO})").alias("lo"),
        F.expr(f"percentile(length(text), {_LP_HI})").alias("hi"),
    )
    dec = m.documents.crossJoin(F.broadcast(th))
    ln = F.length("text")
    return dec.groupBy("source").agg(
        F.count(F.when((ln >= F.col("lo")) & (ln <= F.col("hi")), 1))
        .cast("bigint")
        .alias("n_kept"),
        F.count(F.when(ln < F.col("lo"), 1)).cast("bigint").alias("n_dropped_short"),
        F.count(F.when(ln > F.col("hi"), 1)).cast("bigint").alias("n_dropped_long"),
        fround(F.first("lo"), 4).alias("lo_chars"),
        fround(F.first("hi"), 4).alias("hi_chars"),
    )


_BPE_ENCODE_TAIL = f"""
, cost AS (
  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tokens
  FROM v{_BPE_STEPS + 1}
),
sw AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS n_uses
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) t
  GROUP BY source, word
)
SELECT source,
       CAST(sum(n_uses) AS BIGINT)             AS total_words,
       CAST(sum(n_uses * n_tokens) AS BIGINT)  AS total_tokens,
       CAST(sum(n_uses * len(word)) AS BIGINT) AS total_chars,
       {fround_sql('sum(n_uses * n_tokens) * 1.0e0 / sum(n_uses)', 6)} AS fertility,
       {fround_sql('sum(n_uses * len(word)) * 1.0e0 / sum(n_uses * n_tokens)', 6)} AS chars_per_token
FROM sw JOIN cost USING (word)
GROUP BY source
"""


@query(
    "bpe_encode_tokens",
    oracle="WITH " + _bpe_chain_sql(carry_word=True) + _BPE_ENCODE_TAIL,
    views=[],
)
def bpe_encode_tokens(m: Model) -> DataFrame:
    """Apply the trained BPE merges back to the corpus: per source, the
    whitespace-word count, the token count under the {4}-merge BPE
    tokenizer, the character volume, and the resulting fertility
    (tokens/word) and compression (chars/token) — the "what does this
    tokenizer cost on MY data" readout that pairs with
    :func:`bpe_merge_steps` (training) and the heuristic
    ``tokenizer_fertility`` profile.

    Scale shape — the reason real tokenizers are applied via the
    vocabulary, never the raw text: the trained segmentation exists for
    every distinct WORD (vocab-sized), so encoding the corpus is a join
    of the (source, word, n_uses) pre-aggregate against the vocab cost
    relation — both vocabulary-bounded — followed by one low-cardinality
    rollup.  The corpus text is scanned exactly twice (once to train,
    once to count per-source usage) and no per-document re-segmentation
    ever runs.  Integer count sums feed the two final divisions, so the
    doubles are engine-identical.

    The trained (word, n_tokens) vocabulary is the TOKENIZER ARTIFACT —
    in production it is trained once and shipped to every encode job
    (exactly how real tokenizers deploy), so it memoizes per
    documents-content as an eager localCheckpoint; ``bpe_merge_steps``
    (the training query) still runs the full chain in-plan every
    time."""
    from ..functions.memo import checkpointed

    def _cost() -> DataFrame:
        _, trained = _bpe_chain(m)
        return trained.select(
            "word", F.size(F.split("s", " ")).cast("bigint").alias("n_tokens")
        )

    cost = checkpointed(m, "bpe_vocab_cost", _cost)
    sw = (
        m.documents.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_uses"))
    )
    j = sw.join(cost, "word")
    return j.groupBy("source").agg(
        F.sum("n_uses").cast("bigint").alias("total_words"),
        F.sum(F.col("n_uses") * F.col("n_tokens")).cast("bigint").alias("total_tokens"),
        F.sum(F.col("n_uses") * F.length("word")).cast("bigint").alias("total_chars"),
        fround(
            F.expr("sum(n_uses * n_tokens) * 1.0e0 / sum(n_uses)"), 6
        ).alias("fertility"),
        fround(
            F.expr("sum(n_uses * len(word)) * 1.0e0 / sum(n_uses * n_tokens)"), 6
        ).alias("chars_per_token"),
    )
