"""Targeted tests for the non-SQL-oracle LLM operators: simhash
(differential vs a pure-Python port) and multimodal plumbing (schema +
batch behavior)."""

from __future__ import annotations

import hashlib

from conftest import SF_DIR

from hbase_tools_spark.catalog import load_model


def _py_simhash16(text: str) -> int:
    counts = [0] * 16
    for w in text.split(" "):
        h = int(hashlib.md5(w.encode()).hexdigest()[:4], 16)
        for b in range(16):
            counts[b] += 1 if (h >> b) & 1 else -1
    v = 0
    for b in range(16):
        if counts[b] > 0:
            v |= 1 << b
    return v


def test_simhash_matches_python_port(spark):
    from hbase_tools_spark.llm.text import simhash_fingerprints

    m = load_model(spark, SF_DIR)
    got = {r["doc_id"]: r["simhash16"] for r in simhash_fingerprints(m).collect()}
    docs = {r["doc_id"]: r["text"] for r in m.documents.collect()}
    assert len(got) == len(docs)
    for doc_id, text in docs.items():
        assert got[doc_id] == _py_simhash16(text), doc_id


def test_multimodal_features_schema_and_values(spark):
    from hbase_tools_spark.llm.multimodal import media_table, multimodal_features

    m = load_model(spark, SF_DIR)
    df = multimodal_features(m)
    assert df.columns == [
        "doc_id", "media_type", "n_bytes", "width", "height",
        "f_len", "f_first", "f_last", "f_sum16",
    ]
    rows = {r["doc_id"]: r for r in df.collect()}
    src = {r["doc_id"]: r for r in media_table(m).collect()}
    assert set(rows) == set(src)
    for doc_id, r in rows.items():
        payload = bytes(src[doc_id]["payload"])
        assert r["n_bytes"] == len(payload)
        assert r["width"] == len(payload) % 640
        assert r["f_len"] == float(len(payload))
        assert r["f_first"] == float(payload[0])
        assert r["f_last"] == float(payload[-1])
        assert r["f_sum16"] == float(sum(payload[:16]) % 256)


def test_lsh_hot_bucket_cap(spark):
    """A pathological identical-doc cluster (> cap) must be excluded
    from pair enumeration — bounding per-bucket fan-out — while small
    dup groups still pair."""
    from hbase_tools_spark.llm.dedup import minhash_pairs_for

    rows = [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(150)]
    rows += [(1000 + i, "one two three four five six seven") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_pairs_for(docs, cap=100).collect()}
    assert pairs == {(1000, 1001), (1000, 1002), (1001, 1002)}

    # with a cap that admits the cluster, the fan-out appears
    uncapped = minhash_pairs_for(docs, cap=1000).count()
    assert uncapped == 150 * 149 // 2 + 3


def test_multimodal_decode_stub_raises(spark):
    import pytest

    from hbase_tools_spark.llm.multimodal import _decode_and_featurize, media_table

    m = load_model(spark, SF_DIR)
    fn = _decode_and_featurize(decode_stub=False)
    import pandas as pd

    with pytest.raises(NotImplementedError):
        list(fn(iter([pd.DataFrame({"doc_id": [1], "media_type": ["image/png"], "payload": [b"x"]})])))


def test_multimodal_resize_shapes(spark):
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = QUERIES["multimodal_resize"].fn(m).collect()
    assert rows, "no image rows"
    budget = 64 * 64 // 64
    for r in rows[:20]:
        assert r["target_w"] == 64 and r["target_h"] == 64
        assert r["out_bytes"] == budget
        assert len(r["resized_hex"]) == 2 * budget
        bytes.fromhex(r["resized_hex"])  # valid lower-case hex
    # deterministic: re-run yields identical bytes
    again = {r["doc_id"]: r["resized_hex"] for r in QUERIES["multimodal_resize"].fn(m).collect()}
    assert all(r["resized_hex"] == again[r["doc_id"]] for r in rows)


def test_multimodal_frame_sample_fanout(spark):
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.multimodal import (
        _FRAME_BYTES,
        _SAMPLE_EVERY,
        media_table,
    )
    from hbase_tools_spark.registry import QUERIES
    from pyspark.sql import functions as F

    m = load_model(spark, SF_DIR)
    frames = QUERIES["multimodal_frame_sample"].fn(m)
    got = frames.groupBy("doc_id").count().collect()
    src = {
        r["doc_id"]: r["n"]
        for r in media_table(m)
        .filter(F.col("media_type") == "video/mp4")
        .select("doc_id", F.length("payload").alias("n"))
        .collect()
    }
    assert got, "no video rows"
    for r in got:
        n_frames = max(src[r["doc_id"]] // _FRAME_BYTES, 1)
        expect = (n_frames + _SAMPLE_EVERY - 1) // _SAMPLE_EVERY
        assert r["count"] == expect
    one = frames.filter(F.col("frame_idx") == 0).first()
    assert one["frame_ts_ms"] == 0


def test_bmp_wav_header_roundtrip():
    """The honest decode branch: build/parse must roundtrip, and the
    containers must be structurally valid (magic, sizes)."""
    from hbase_tools_spark.llm.multimodal import (
        build_bmp,
        build_wav,
        parse_bmp,
        parse_wav,
    )

    bmp = build_bmp(641, 479, b"\x01\x02\x03" * 5)
    assert bmp[:2] == b"BM" and len(bmp) == 54 + 15
    assert parse_bmp(bmp) == (641, 479, 24)

    wav = build_wav(44100, 2, b"\x00" * 10)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE" and len(wav) == 44 + 10
    assert parse_wav(wav) == (44100, 2, 16)

    import pytest

    with pytest.raises(ValueError):
        parse_bmp(wav)
    with pytest.raises(ValueError):
        parse_wav(bmp)


def test_multimodal_real_decode_gated(spark):
    import pytest
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.multimodal import (
        FRAME_SCHEMA,
        RESIZE_SCHEMA,
        _frame_sample,
        _resize,
        media_table,
    )

    m = load_model(spark, SF_DIR)
    media = media_table(m).limit(2)
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        media.mapInPandas(_resize(8, 8, decode_stub=False), RESIZE_SCHEMA).collect()
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        media.mapInPandas(_frame_sample(decode_stub=False), FRAME_SCHEMA).collect()


def test_connected_components_long_chain(spark):
    # a 12-hop duplicate chain: the bounded 4-round variant CANNOT
    # collapse this; the convergent operator must
    from hbase_tools_spark.llm.dedup import connected_components

    chain = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(12)]
    isolated = [("x1", "x2"), ("y1", "y2")]
    edges = spark.createDataFrame(chain + isolated, ["doc_a", "doc_b"])
    got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert {got[f"d{i:02d}"] for i in range(13)} == {"d00"}
    assert got["x1"] == got["x2"] == "x1"
    assert got["y1"] == got["y2"] == "y1"


def test_connected_components_matches_bounded_on_fixture(spark):
    # where diameter <= 4 the two variants must agree exactly
    import hbase_tools_spark.llm.dedup as dd

    m = load_model(spark, SF_DIR)
    bounded = {
        (r.doc_id, r.cluster_id) for r in dd.neardup_clusters(m).collect()
    }
    conv = {
        (r.doc_id, r.cluster_id)
        for r in dd.connected_components(dd.minhash_band_pairs(m)).collect()
    }
    assert conv == bounded


def test_ivf_index_reads_equal_direct_search_and_prune(spark, tmp_path):
    """The persisted-IVF path (one ingest batch under the pretrained
    quantizer, partition-pruned reads per probe) must reproduce the
    direct embedding_ivf_topk result exactly, and its candidate scan
    must read only the probed cell partitions (PartitionFilters on the
    parquet scan)."""
    from pyspark.sql import functions as F

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.similarity import (
        _label_centroids,
        ivf_ingest_batch,
        ivf_topk_from_index,
    )
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    idx = str(tmp_path / "ivf_index")
    cent = _label_centroids(m.embeddings)
    cent_rows = [(int(r["label"]), list(r["c"])) for r in cent.collect()]
    cent.select(F.col("label").alias("cell"), "c").write.parquet(idx + "/centroids")
    ivf_ingest_batch(m.embeddings, idx, 0, cent_rows)
    from_index = ivf_topk_from_index(spark, idx)
    plan = from_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:120], "probe read must prune to the probed cells"
    direct = QUERIES["embedding_ivf_topk"].fn(m).collect()
    got = from_index.collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, direct), key=lambda t: (t[0], t[3])
    )


def test_embedding_pair_bucket_cap_drops_hot_bucket(spark):
    """Bounded-bucket contract of embedding_neardup_pairs: a sign-LSH
    bucket wider than the cap emits NO pairs (bounding the self-join at
    N*cap), while normal buckets still pair."""
    import random

    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.similarity import (
        _EMB_BUCKET_CAP,
        embedding_neardup_pairs,
    )

    from conftest import SF_DIR

    rng = random.Random(7)
    rows = []
    # hot bucket: first 8 dims positive, cap+5 near-identical vectors
    for i in range(_EMB_BUCKET_CAP + 5):
        rows.append((i, [1.0 + rng.random() * 0.01] * 64, 0))
    # small bucket: first dim negative, 3 near-identical vectors
    for i in range(3):
        v = [1.0 + rng.random() * 0.01] * 64
        v[0] = -1.0
        rows.append((1000 + i, v, 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    try:
        emb.createOrReplaceTempView("embeddings")
        pairs = embedding_neardup_pairs(Model(spark, "synthetic")).collect()
        ids = {v for r in pairs for v in (r["vec_a"], r["vec_b"])}
        assert ids == {1000, 1001, 1002}, "hot bucket leaked pairs or small bucket lost them"
        assert len(pairs) == 3  # 3 choose 2
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_dup_spans_planted_duplicates(spark):
    """Span semantics on hand-built docs: a 10-token sentence planted
    verbatim in two docs becomes one duplicated span of exactly 10
    tokens in each (windows merge in token space); the surrounding
    unique text contributes nothing; a doc with no repeated windows
    reports zero spans."""
    from hbase_tools_spark.catalog import Model, load_model
    from hbase_tools_spark.llm.dedup import docs_dup_spans

    from conftest import SF_DIR

    dup = " ".join(f"D{i}" for i in range(10))        # 10-token span
    u = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    rows = [
        (0, f"{u('a', 12)} {dup} {u('b', 12)}"),      # span at pos 13
        (1, f"{dup} {u('c', 20)}"),                   # span at pos 1
        (2, u("z", 30)),                              # all unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        docs.createOrReplaceTempView("documents")
        got = {
            r["doc_id"]: r
            for r in docs_dup_spans(Model(spark, "synthetic")).collect()
        }
        assert got[0]["n_dup_spans"] == 1
        assert got[0]["longest_span_tokens"] == 10
        assert got[0]["longest_span_start"] == 13
        assert got[0]["dup_tokens"] == 10
        assert got[1]["longest_span_start"] == 1
        assert got[1]["longest_span_tokens"] == 10
        assert got[2]["n_dup_spans"] == 0
        assert got[2]["dup_tokens"] == 0
        assert got[2]["longest_span_start"] is None
        assert got[2]["dup_token_fraction"] == 0.0
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_novelty_by_source_sums_to_corpus_curve(spark):
    """Consistency: summing the per-source novelty rows over sources
    must reproduce the corpus-wide novelty curve exactly (every doc
    belongs to one source and first-batch attribution is global)."""
    from collections import defaultdict

    import hbase_tools_spark.llm  # noqa: F401 — registers queries
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    per_src = QUERIES["novelty_by_source"].fn(m).collect()
    corpus = {
        r["batch"]: r for r in QUERIES["corpus_novelty_curve"].fn(m).collect()
    }
    sums = defaultdict(lambda: [0, 0, 0])  # n_docs, n_windows, n_novel
    for r in per_src:
        s = sums[r["batch"]]
        s[0] += r["n_docs"]
        s[1] += r["n_windows"]
        s[2] += r["n_novel"]
    assert set(sums) == set(corpus)
    for b, (nd, nw, nn) in sums.items():
        c = corpus[b]
        assert (nd, nw, nn) == (c["n_docs"], c["n_windows"], c["n_novel"]), b


def test_png_codec_roundtrip_all_filters():
    """The stdlib PNG codec is real: byte-exact roundtrip across all
    three supported color types and all five scanline filters, CRC
    verification, and honest ValueError outside the subset."""
    import random
    import struct

    import pytest

    from hbase_tools_spark.llm.png import decode_png, encode_png

    rng = random.Random(42)
    for ct, ch in [(0, 1), (2, 3), (6, 4)]:
        for filters in ([0] * 7, [1] * 7, [2] * 7, [3] * 7, [4] * 7,
                        [0, 1, 2, 3, 4, 2, 1]):
            w, h = 5, 7
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            b = encode_png(w, h, px, ct, filters)
            assert b[:8] == b"\x89PNG\r\n\x1a\n"
            got = decode_png(b)
            assert got == (w, h, ch, px), (ct, filters)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"notapngnotapng")
    # corrupt one IDAT byte -> CRC check must catch it
    good = encode_png(2, 2, bytes(range(4)))
    idat = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="bit depth|color type"):
        # 16-bit PNG header: rebuild IHDR with depth 16 and a fresh CRC
        import zlib as _z
        ihdr_body = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
        chunk = (struct.pack(">I", len(ihdr_body)) + b"IHDR" + ihdr_body
                 + struct.pack(">I", _z.crc32(b"IHDR" + ihdr_body) & 0xFFFFFFFF))
        decode_png(good[:8] + chunk + good[8 + 25:])


def test_span_removed_consistent_with_dup_spans(spark):
    """The span remover and the span extractor must agree: per doc,
    n_removed == docs_dup_spans.dup_tokens (the removed set IS the
    union of the extracted spans), and the cleaned text re-splits to
    exactly n_tokens - n_removed tokens with no duplicated window
    suriving intact inside it at the original positions."""
    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    removed = {r["doc_id"]: r for r in QUERIES["docs_span_removed"].fn(m).collect()}
    spans = {r["doc_id"]: r for r in QUERIES["docs_dup_spans"].fn(m).collect()}
    assert set(spans) <= set(removed)  # short docs only in the remover
    for doc_id, sp in spans.items():
        rm = removed[doc_id]
        assert rm["n_removed"] == sp["dup_tokens"], doc_id
        n_clean = len(rm["cleaned_text"].split(" ")) if rm["cleaned_text"] else 0
        assert n_clean == rm["n_tokens"] - rm["n_removed"], doc_id
    # docs below the window width pass through untouched
    for doc_id, rm in removed.items():
        if doc_id not in spans:
            assert rm["n_removed"] == 0 and rm["removed_fraction"] == 0.0


def test_g711_codec_roundtrip():
    """G.711 (llm/g711.py): A-law is byte-idempotent over ALL 256
    codes, mu-law over all but the spec's negative-zero 0x7F (both are
    value-idempotent over the full int16 domain), quantization error
    is segment-bounded, smooth signals code ~38 dB, the WAV tag-7
    container roundtrips with fact-chunk truncation, byte independence
    makes decimation commute with decoding, and torn containers
    raise."""
    import math

    import numpy as np
    import pytest

    from hbase_tools_spark.llm.g711 import (
        alaw_decode,
        alaw_encode,
        build_wav_g711,
        mulaw_decode,
        mulaw_encode,
        parse_wav_g711,
    )

    codes = np.arange(256, dtype=np.uint8)
    # A-law: exact byte idempotence; mu-law: only 0x7F (negative zero)
    # re-codes to 0xFF (positive zero) — same value, spec ambiguity
    a_mid = alaw_decode(codes)
    assert np.array_equal(alaw_encode(a_mid), codes)
    mu_mid = mulaw_decode(codes)
    re = mulaw_encode(mu_mid)
    bad = codes[re != codes]
    assert list(bad) == [0x7F] and mu_mid[0x7F] == 0
    # value idempotence + bounded error over the whole int16 domain
    x = np.arange(-32768, 32768, dtype=np.int64)
    for enc, dec, max_err in (
        (mulaw_encode, mulaw_decode, 644),
        (alaw_encode, alaw_decode, 512),
    ):
        d1 = dec(enc(x))
        assert np.array_equal(dec(enc(d1)), d1)
        assert np.abs(d1 - x).max() <= max_err
    # container roundtrip + odd-length word alignment
    rng = np.random.default_rng(7)
    for ns in (1, 2, 101, 4000):
        pairs = rng.integers(32, 127, size=(ns, 2), dtype=np.uint8)
        s = (
            pairs[:, 0].astype(np.int64)
            + 256 * pairs[:, 1].astype(np.int64)
            - 16384
        )
        for law, tag, dec in (("mulaw", 7, mulaw_decode), ("alaw", 6, alaw_decode)):
            info, got = parse_wav_g711(build_wav_g711(8000, s, law))
            assert info["tag"] == tag and info["bits"] == 8
            assert info["n_samples"] == ns and info["compressed_bytes"] == ns
            enc = mulaw_encode if law == "mulaw" else alaw_encode
            assert np.array_equal(got, dec(enc(s)))
    # byte independence: compressed-domain decimation == decoded
    mu = mulaw_encode(s)
    assert np.array_equal(mulaw_decode(mu[::2]), mulaw_decode(mu)[::2])
    # smooth signal codes far above the floor
    t = np.arange(4000)
    sine = (8000 * np.sin(t / 20)).astype(np.int64)
    d = mulaw_decode(mulaw_encode(sine))
    err = (d - sine).astype(float)
    snr = 10 * math.log10(
        float((sine.astype(float) ** 2).sum()) / float((err**2).sum())
    )
    assert snr > 35.0
    # error paths
    with pytest.raises(ValueError, match="not a WAV"):
        parse_wav_g711(b"JUNK")
    wav = build_wav_g711(8000, sine, "mulaw")
    with pytest.raises(ValueError, match="torn data chunk"):
        parse_wav_g711(wav[:-10])
    # a legal 16-byte PCM-style fmt chunk (no cbSize) parses — the
    # module's builder writes 18 bytes, but readers must accept both
    # layouts (round-10 ADVICE: fixed '<HHIIHHH' raised struct.error)
    import struct as _st

    fmt16 = _st.pack("<4sIHHIIHH", b"fmt ", 16, 7, 1, 8000, 8000, 1, 8)
    codes = mulaw_encode(sine).tobytes()
    fact = _st.pack("<4sII", b"fact", 4, len(sine))
    data = _st.pack("<4sI", b"data", len(codes)) + codes
    body = fmt16 + fact + data
    wav16 = _st.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    info16, got16 = parse_wav_g711(wav16)
    assert info16["tag"] == 7 and info16["n_samples"] == len(sine)
    assert np.array_equal(got16, mulaw_decode(mulaw_encode(sine)))
    # and a torn fmt chunk raises the module's ValueError, not
    # struct.error
    fmt_torn = _st.pack("<4sI", b"fmt ", 8) + b"\x00" * 8
    body_t = fmt_torn + fact + data
    wav_t = _st.pack("<4sI4s", b"RIFF", 4 + len(body_t), b"WAVE") + body_t
    with pytest.raises(ValueError, match="torn fmt chunk"):
        parse_wav_g711(wav_t)


def test_line_dedup_keep_first_python_port(spark):
    """Full Python recomputation of the C4 keep-first line dedup: the
    survivors PARTITION the corpus lines — per doc, kept + removed ==
    total, the kept set is exactly the canonical-first occurrences,
    and corpus-wide sum(n_kept) == the number of distinct normalized
    lines while sum(n_lines) == total line occurrences."""
    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.llm.dedup import _LINE_W
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in QUERIES["docs_line_dedup"].fn(m).collect()}
    docs = m.documents.select("doc_id", "text").collect()
    # python port: segment, normalize, global keep-first
    occs = []  # (doc_id, line_no, seg)
    for d in docs:
        toks = d["text"].split(" ")
        n_seg = (len(toks) + _LINE_W - 1) // _LINE_W
        for i in range(n_seg):
            occs.append(
                (d["doc_id"], i, " ".join(toks[i * _LINE_W:(i + 1) * _LINE_W]).lower())
            )
    from collections import Counter, defaultdict

    freq = Counter(seg for _, _, seg in occs)
    first: dict[str, tuple] = {}
    for doc_id, line_no, seg in sorted(occs):
        first.setdefault(seg, (doc_id, line_no))
    want = defaultdict(lambda: [0, 0, 0])  # n_lines, n_dup, n_kept
    for doc_id, line_no, seg in occs:
        want[doc_id][0] += 1
        if freq[seg] >= 2:
            want[doc_id][1] += 1
        if first[seg] == (doc_id, line_no):
            want[doc_id][2] += 1
    assert set(rows) == set(want)
    for doc_id, (n_lines, n_dup, n_kept) in want.items():
        r = rows[doc_id]
        assert (r["n_lines"], r["n_dup_lines"], r["n_kept"]) == (
            n_lines, n_dup, n_kept,
        ), doc_id
        assert r["n_removed"] == n_lines - n_kept
    # partition invariants: survivors tile the distinct-line space
    assert sum(r["n_kept"] for r in rows.values()) == len(freq)
    assert sum(r["n_lines"] for r in rows.values()) == len(occs)
    assert any(r["n_removed"] > 0 for r in rows.values())  # non-degenerate


def test_pii_scrub_python_port(spark):
    """Full Python (re-module) recomputation of the PII scrub over the
    same deterministic contact-decorated text: per-doc hit counts,
    redacted lengths, and the clean partition (doc_id % 5 == 0 docs
    carry no footer and must come back untouched and clean)."""
    import re

    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.llm.text import _PII_EMAIL, _PII_IP, _PII_PHONE
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in QUERIES["docs_pii_scrub"].fn(m).collect()}
    docs = m.documents.select("doc_id", "text").collect()
    assert set(rows) == {d["doc_id"] for d in docs}
    n_hits_total = 0
    for d in docs:
        i, text = d["doc_id"], d["text"]
        if i % 5 == 0:
            raw = text
        else:
            raw = text + " contact:"
            if i % 2 == 0:
                raw += f" user{i}@mail{i % 7}.example.com"
            if i % 3 != 1:
                raw += f" tel {i*7%900+100}-{i*13%900+100}-{i*31%9000+1000}"
            if i % 4 == 2:
                raw += f" ip {i%256}.{i*3%256}.{i*5%256}.{i*11%256}"
        r = rows[i]
        n_em = len(re.findall(_PII_EMAIL, raw))
        partial = re.sub(_PII_IP, "<IP>", re.sub(_PII_EMAIL, "<EMAIL>", raw))
        n_ip = len(re.findall(_PII_IP, raw))
        n_ph = len(re.findall(_PII_PHONE, partial))
        scrubbed = re.sub(_PII_PHONE, "<PHONE>", partial)
        assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (n_em, n_ph, n_ip), i
        assert r["n_pii"] == n_em + n_ph + n_ip
        assert r["raw_chars"] == len(raw) and r["scrubbed_chars"] == len(scrubbed)
        assert r["clean"] == (r["n_pii"] == 0)
        if i % 5 == 0:
            assert r["clean"] and r["raw_chars"] == len(text)
        n_hits_total += r["n_pii"]
    assert n_hits_total > 0  # the scrub actually fires on the fixture


def test_png_codec_roundtrip_property():
    """Property-based codec check: ANY image in the supported subset
    (random dims, pixels, per-row filter choices, color type) must
    roundtrip byte-exactly through encode -> decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hbase_tools_spark.llm.png import decode_png, encode_png

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(1, 12),           # width
        st.integers(1, 12),           # height
        st.sampled_from([(0, 1), (2, 3), (6, 4)]),  # (color_type, ch)
        st.data(),
    )
    def roundtrip(w, h, ct_ch, data):
        ct, ch = ct_ch
        px = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        assert decode_png(encode_png(w, h, px, ct, filters)) == (w, h, ch, px)

    roundtrip()


def test_pagerank_mass_and_regular_components(spark):
    """PageRank invariants on the fixture graph: total mass stays ~1
    (an undirected pair graph has no dangling nodes, so each power
    iteration conserves mass exactly up to rounding), every rank is
    positive, and - since near-dup groups form CLIQUES, i.e. regular
    components - every node of the same clique carries the same rank
    (uniformity on regular graphs, a sharp closed-form check)."""
    from collections import defaultdict

    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.llm.dedup import ngram_jaccard_pairs
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = QUERIES["neardup_pagerank"].fn(m).collect()
    assert rows
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3 * len(rows)
    assert all(r["pagerank"] > 0 for r in rows)
    # union-find the pair graph; within a REGULAR component (every
    # degree equal) all ranks must agree to the rounding grain
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in ngram_jaccard_pairs(m).collect():
        parent[find(r["doc_a"])] = find(r["doc_b"])
    comp = defaultdict(list)
    for r in rows:
        comp[find(r["doc_id"])].append(r)
    checked = 0
    for members in comp.values():
        if len({r["degree"] for r in members}) == 1 and len(members) > 1:
            assert len({r["pagerank"] for r in members}) == 1, members
            checked += 1
    assert checked > 0, "fixture produced no regular component"


def test_png_truncated_crc_raises_value_error():
    """A PNG cut inside a trailing CRC must raise the documented
    ValueError, not struct.error (review finding)."""
    import pytest

    from hbase_tools_spark.llm.png import decode_png, encode_png

    good = encode_png(2, 2, bytes(range(4)))
    with pytest.raises(ValueError, match="truncated chunk CRC"):
        decode_png(good[:-2])


def test_jpeg_codec_spec_anchors():
    """Spec anchors for the baseline JPEG codec (self-roundtrip alone
    could hide a shared encoder/decoder mistake; these bounds are
    ANALYTIC): a uniform block round-trips EXACTLY under unit
    quantization (only the DC coefficient exists and q=1 preserves
    it), a single-frequency cosine pattern survives (pins the zigzag
    and dequant paths), unit-quant random data is near-lossless, and
    unsupported shapes fail honestly."""
    import numpy as np
    import pytest

    from hbase_tools_spark.llm.jpeg import decode_jpeg, encode_jpeg

    unit = np.ones((8, 8))
    for v in (0, 37, 128, 255):
        px = bytes([v] * (16 * 24))
        w, h, c, out = decode_jpeg(encode_jpeg(16, 24, px, 1, qt_luma=unit))
        assert (w, h, c) == (16, 24, 1) and out == px, v

    x = np.arange(16)
    row = np.clip(
        np.round(128 + 60 * np.cos((2 * (x % 8) + 1) * 3 * np.pi / 16)),
        0, 255,
    ).astype(np.uint8)
    plane = np.tile(row, (8, 1))
    _, _, _, out = decode_jpeg(
        encode_jpeg(16, 8, plane.tobytes(), 1, qt_luma=unit)
    )
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - plane.flatten().astype(int)
    ).max()
    assert err <= 1, err

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=40 * 56, dtype=np.uint8).tobytes()
    _, _, _, out = decode_jpeg(encode_jpeg(56, 40, px, 1, qt_luma=unit))
    a = np.frombuffer(px, np.uint8).astype(float)
    b = np.frombuffer(out, np.uint8).astype(float)
    psnr = 10 * np.log10(255**2 / max(((a - b) ** 2).mean(), 1e-12))
    assert psnr > 45, psnr

    # RGB with the default lossy tables: sane PSNR and real compression
    smooth = np.clip(
        np.round(128 + 80 * np.sin(np.arange(64 * 64) / 97.0)), 0, 255
    ).astype(np.uint8)
    jpg = encode_jpeg(64, 64, smooth.tobytes(), 1)
    assert len(jpg) < 64 * 64 // 4  # >= 4x smaller on smooth data
    _, _, _, out = decode_jpeg(jpg)
    a = smooth.astype(float)
    b = np.frombuffer(out, np.uint8).astype(float)
    psnr = 10 * np.log10(255**2 / ((a - b) ** 2).mean())
    assert psnr > 40, psnr

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nonsense")
    with pytest.raises(ValueError):
        encode_jpeg(4, 4, b"\x00" * 15, 1)  # size mismatch


def test_mp4_box_roundtrip_and_errors():
    """ISO BMFF build/parse must roundtrip (timescale, duration,
    per-track ids and 16.16-fixed dims, mdat size), and malformed
    boxes fail honestly."""
    import pytest

    from hbase_tools_spark.llm.multimodal import build_mp4, parse_mp4

    mp4 = build_mp4(90000, 123456, [(1, 1920, 1080), (2, 640, 360)], b"xyz" * 7)
    assert mp4[4:8] == b"ftyp"
    ts, dur, tracks, mdat = parse_mp4(mp4)
    assert (ts, dur) == (90000, 123456)
    assert tracks == [(1, 1920, 1080), (2, 640, 360)]
    assert mdat == 21
    with pytest.raises(ValueError, match="ISO BMFF"):
        parse_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match="bad box size"):
        parse_mp4(mp4[:10])


def test_avi_container_roundtrip_and_errors():
    """The AVI layer is a REAL container codec: headers parse back
    exactly, frame payloads extract byte-identical (the container is
    lossless even though the frames are JPEG), odd-sized frames get
    word-aligned without corrupting neighbors, and malformed framing
    raises — not garbage-parses."""
    import pytest

    from hbase_tools_spark.llm.avi import build_avi_mjpeg, parse_avi
    from hbase_tools_spark.llm.jpeg import decode_jpeg, encode_jpeg

    frames = [
        encode_jpeg(16, 16, bytes((j * 7 + i * 13) % 256 for j in range(256)), 1)
        for i in range(7)
    ]
    # GUARANTEE an odd-length frame so word alignment is exercised
    # (the previous `assert ... or True` form could never fail).  A
    # byte after EOI keeps the JPEG decodable (interop contract) while
    # flipping the payload parity.
    if not any(len(f) % 2 for f in frames):
        frames[0] = frames[0] + b"\x00"
    assert any(len(f) % 2 for f in frames)
    avi = build_avi_mjpeg(16, 16, frames, fps=25)
    info = parse_avi(avi)
    assert (info["width"], info["height"]) == (16, 16)
    assert info["total_frames"] == 7 == info["n_index_entries"]
    assert info["handler"] == "MJPG" and info["fps"] == 25
    assert info["us_per_frame"] == 40000
    assert info["frames"] == frames  # lossless container
    for f in info["frames"]:
        w, h, _, px = decode_jpeg(f)
        assert (w, h, len(px)) == (16, 16, 256)

    with pytest.raises(ValueError, match="not a RIFF"):
        parse_avi(b"XXXX" + avi[4:])
    with pytest.raises(ValueError, match="overruns"):
        parse_avi(avi[:40])
    with pytest.raises(ValueError, match="not an AVI"):
        parse_avi(avi[:8] + b"WAVE" + avi[12:])
    with pytest.raises(ValueError):
        build_avi_mjpeg(16, 16, [], 25)
    # frame-count lie between avih and movi must be caught
    bad = avi.replace(b"00dc", b"00xx", 1)
    with pytest.raises(ValueError, match="frame count mismatch"):
        parse_avi(bad)


def test_avi_pframe_interframe_decode():
    """The 'MJPD' inter-frame path is REAL decode: keyframes land on
    the GOP cadence in the idx1 flags, every P-frame reconstructs its
    source bytes exactly through the reference chain (closed-loop
    lossless residual), keyframes stay JPEG-lossy, and broken framing
    (residual size lie, wrong handler, missing leading keyframe)
    raises instead of silently drifting."""
    import zlib

    import pytest

    from hbase_tools_spark.llm.avi import (
        _AVIIF_KEYFRAME,
        build_avi_mjpeg,
        build_avi_pframes,
        decode_avi_pframes,
        parse_avi,
    )

    planes = [
        bytes((j * 11 + i * 29) % 256 for j in range(256)) for i in range(10)
    ]
    avi = build_avi_pframes(16, 16, planes, fps=25, gop=4)
    info, out = decode_avi_pframes(avi)
    keyed = [bool(f & _AVIIF_KEYFRAME) for f in info["index_flags"]]
    assert keyed == [i % 4 == 0 for i in range(10)]
    assert info["handler"] == "MJPD"
    # inter-frame invariant: P-frames exact, I-frames lossy-but-sized
    for i in range(10):
        if keyed[i]:
            assert len(out[i]) == 256
        else:
            assert out[i] == planes[i]
    # error paths
    with pytest.raises(ValueError, match="not an MJPD"):
        decode_avi_pframes(build_avi_mjpeg(16, 16, [b"\xff\xd8\xff\xd9"]))
    with pytest.raises(ValueError, match="first frame must be a keyframe"):
        build_avi_mjpeg(16, 16, [b"x", b"y"], key_flags=[False, True])
    # a P-frame whose residual inflates to the wrong plane size
    bad_res = zlib.compress(b"\x00" * 17)
    good_key = parse_avi(avi)["frames"][0]
    torn = build_avi_mjpeg(
        16, 16, [good_key, bad_res],
        handler=b"MJPD", key_flags=[True, False],
    )
    with pytest.raises(ValueError, match="residual"):
        decode_avi_pframes(torn)


def test_avi_mc_motion_compensation():
    """The 'MJPM' motion-compensated path: vectors are found (a pure
    vertical scroll estimates (0, +1) on every block that can reach
    its reference), P-frames stay byte-exact through the
    estimate->compensate->add loop, MC beats the zero-vector DPCM
    codec on translating random texture (the compression MC exists
    for), and torn framing raises."""
    import numpy as np
    import pytest

    from hbase_tools_spark.llm.avi import (
        _AVIIF_KEYFRAME,
        _mc_blocks,
        build_avi_mc,
        build_avi_mjpeg,
        build_avi_pframes,
        decode_avi_mc,
        decode_avi_pframes,
    )

    W = H = 16
    # scrolling content: frame i = buffer rows i..i+15 (dy=+1 motion)
    g = np.random.default_rng(11)
    buf = g.integers(0, 256, ((H + 10) * W,), dtype=np.uint8).tobytes()
    planes = [buf[i * W : i * W + W * H] for i in range(8)]
    avi = build_avi_mc(W, H, planes, fps=25, gop=8)
    info, out, mv_frames = decode_avi_mc(avi)
    keyed = [bool(f & _AVIIF_KEYFRAME) for f in info["index_flags"]]
    assert info["handler"] == "MJPM"
    assert keyed == [i == 0 for i in range(8)]
    for i in range(1, 8):
        assert out[i] == planes[i]  # closed-loop exact P-frames
    # from frame 2 on the reference is the exact previous plane, so
    # every block whose (0,+1) reference fits estimates the scroll
    # (the bottom block row cannot reach y+1 and stays best-effort)
    blocks = _mc_blocks(W, H)
    for i in range(2, 8):
        for (x, y, bw, bh), mv in zip(blocks, mv_frames[i]):
            if y + 1 + bh <= H:
                assert mv == (0, 1), (i, (x, y), mv)
    # MC pays for itself on translating texture vs zero-vector DPCM
    dpcm = build_avi_pframes(W, H, planes, fps=25, gop=8)
    assert len(avi) < len(dpcm)
    # error paths: wrong handler, torn vector table
    with pytest.raises(ValueError, match="not an MJPM"):
        decode_avi_mc(dpcm)
    good_key = [
        f for f, k in zip(info["frames"], keyed) if k
    ][0]
    torn = build_avi_mjpeg(
        W, H, [good_key, b"\x00"],  # 1 byte < the 2*n_blocks table
        handler=b"MJPM", key_flags=[True, False],
    )
    with pytest.raises(ValueError, match="truncated vector table"):
        decode_avi_mc(torn)


def test_jpeg_decoder_interop_contracts():
    """Spec-interop behaviors pinned after the codec review: trailing
    bytes after EOI are legal (cameras/editors append data), optional
    0xFF fill bytes before markers are consumed, and every
    malformed-input path raises ValueError (never IndexError/KeyError/
    struct.error)."""
    import numpy as np
    import pytest

    from hbase_tools_spark.llm.jpeg import decode_jpeg, encode_jpeg

    px = bytes((x * 3 + y) % 256 for y in range(8) for x in range(8))
    jpg = encode_jpeg(8, 8, px, 1)
    # trailing data after EOI decodes identically
    assert decode_jpeg(jpg + b"\x00garbage") == decode_jpeg(jpg)
    # fill 0xFF before a marker is consumed (T.81 B.1.1.2)
    assert decode_jpeg(jpg[:2] + b"\xff" + jpg[2:]) == decode_jpeg(jpg)
    # truncated lone 0xFF -> ValueError, not IndexError
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff")
    # scan referencing an undefined AC table id -> ValueError, not KeyError
    sos = jpg.find(b"\xff\xda")
    assert sos > 0
    tid_pos = sos + 2 + 2 + 1 + 1  # marker, len, ns, comp id
    bad = bytearray(jpg)
    bad[tid_pos] = (bad[tid_pos] & 0xF0) | 0x03
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # encoder input validation fails fast with ValueError
    with pytest.raises(ValueError):
        encode_jpeg(70000, 1, bytes(70000), 1)
    with pytest.raises(ValueError):
        encode_jpeg(8, 8, px, 1, qt_luma=np.zeros((8, 8)))


def test_jpeg_bit_io_is_linear_time():
    """The bit writer/reader mask their accumulators; without the mask
    the codec is quadratic in scan size (512x512: 17 s encode / 45 s
    decode measured pre-fix).  128x128 must round-trip well inside a
    second of CPU."""
    import time

    import numpy as np

    from hbase_tools_spark.llm.jpeg import decode_jpeg, encode_jpeg

    n = 128
    yy, xx = np.mgrid[0:n, 0:n]
    px = ((xx * 7 + yy * 13) % 256).astype(np.uint8).tobytes()
    t0 = time.process_time()
    jpg = encode_jpeg(n, n, px, 1)
    w, h, c, _ = decode_jpeg(jpg)
    dt = time.process_time() - t0
    assert (w, h, c) == (n, n, 1)
    # pre-fix this pair cost ~0.36 s CPU at 128px and grew ~4x per
    # octave; the masked path measures ~0.1 s — 1.5 s is a loose lid
    # that still fails the quadratic regression at this size's cost
    # two octaves on (where it matters).
    assert dt < 1.5, f"bit I/O regressed toward quadratic: {dt:.2f}s"


def test_png_decoder_contract_hardening():
    """Malformed input always raises ValueError (never zlib.error /
    struct.error / IndexError), bombs are bounded, and zero dimensions
    are rejected per spec — pinned after the codec review."""
    import struct
    import zlib

    import pytest

    from hbase_tools_spark.llm.png import decode_png, encode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    # missing IDAT -> ValueError, not zlib.error
    with pytest.raises(ValueError):
        decode_png(sig + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""))
    # short IHDR body with valid CRC -> ValueError, not struct.error
    with pytest.raises(ValueError):
        decode_png(sig + chunk(b"IHDR", b"\x00" * 5) + chunk(b"IEND", b""))
    # CRC-valid garbage deflate -> ValueError, not zlib.error
    with pytest.raises(ValueError):
        decode_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"notdeflate")
            + chunk(b"IEND", b"")
        )
    # decompression bomb: 2x2 dims, 10 MB payload — must reject without
    # inflating the whole stream
    bomb = zlib.compress(bytes(10 * 1024 * 1024), 9)
    with pytest.raises(ValueError):
        decode_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
            + chunk(b"IEND", b"")
        )
    # zero dimensions rejected both ways
    with pytest.raises(ValueError):
        encode_png(0, 3, b"", 0)
    zihdr = struct.pack(">IIBBBBB", 0, 3, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        decode_png(
            sig + chunk(b"IHDR", zihdr)
            + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")
        )
    # short row_filters -> ValueError, not IndexError
    with pytest.raises(ValueError):
        encode_png(2, 3, bytes(6), 0, [0])


def test_avi_parser_interop_contracts():
    """Parser behaviors pinned after the codec review: multi-stream
    AVIs (video + audio) parse, rec-interleaved and 00db frames are
    found, and every malformed shape raises ValueError (never
    struct.error / UnicodeDecodeError / silent misparse)."""
    import struct

    import pytest

    from hbase_tools_spark.llm.avi import (
        _chunk,
        _list,
        build_avi_mjpeg,
        parse_avi,
    )
    from hbase_tools_spark.llm.jpeg import encode_jpeg

    frames = [
        encode_jpeg(8, 8, bytes((i * 11 + j) % 256 for j in range(64)), 1)
        for i in range(3)
    ]
    avi = bytearray(build_avi_mjpeg(8, 8, frames, fps=10))

    # --- multi-stream: append an audio strl inside hdrl -------------
    auds_strh = b"auds" + bytes(52)
    strl = _list(b"strl", _chunk(b"strh", auds_strh))
    hdrl_pos = bytes(avi).find(b"hdrl")
    base = hdrl_pos - 8  # LIST header start
    (hdrl_size,) = struct.unpack_from("<I", avi, base + 4)
    with_audio = (
        bytes(avi[: base + 4])
        + struct.pack("<I", hdrl_size + len(strl))
        + bytes(avi[base + 8 : base + 8 + hdrl_size])
        + strl
        + bytes(avi[base + 8 + hdrl_size :])
    )
    with_audio = (
        with_audio[:4]
        + struct.pack("<I", len(with_audio) - 8)
        + with_audio[8:]
    )
    info = parse_avi(with_audio)
    assert info["handler"] == "MJPG" and len(info["frames"]) == 3

    # --- malformed shapes all raise ValueError ----------------------
    with pytest.raises(ValueError):
        parse_avi(b"RIFFAB")  # shorter than the RIFF header
    # undersized avih (struct.error pre-fix / silent garbage mid-buffer)
    bad = bytes(avi).replace(b"avih" + struct.pack("<I", 56),
                             b"avih" + struct.pack("<I", 4) + bytes(0), 1)
    # (size shrink desyncs framing -> some ValueError, never struct.error)
    with pytest.raises(ValueError):
        parse_avi(bad)
    # non-UTF-8 handler fourcc parses (latin-1), does not raise
    weird = bytes(avi).replace(b"vidsMJPG", b"vids\xff\xfe\x00\x01", 1)
    assert len(parse_avi(weird)["handler"]) == 4
    # torn trailing chunk header -> ValueError, not silent success
    with pytest.raises(ValueError):
        torn = bytes(avi) + b"idx"
        parse_avi(torn[:4] + struct.pack("<I", len(torn) - 8) + torn[8:])

    # --- builder validation -----------------------------------------
    with pytest.raises(ValueError):
        build_avi_mjpeg(8, 8, frames, fps=0)
    with pytest.raises(ValueError):
        build_avi_mjpeg(70000, 8, frames)


def test_neardup_edit_distance_matches_python(spark):
    """Exact dynamic-programming Levenshtein recomputation for every
    candidate pair, plus metric sanity (0 distance <=> identical text,
    similarity in [0, 1])."""
    import hbase_tools_spark.llm  # noqa: F401 — registers queries
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    rows = QUERIES["neardup_edit_distance"].fn(m).collect()
    assert rows
    texts = {r["doc_id"]: r["text"] for r in m.documents.select("doc_id", "text").collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for r in rows:
        a, b = texts[r["doc_a"]], texts[r["doc_b"]]
        d = lev(a, b)
        assert r["edit_distance"] == d, (r["doc_a"], r["doc_b"])
        assert (d == 0) == (a == b)
        assert abs(r["norm_similarity"] - (1 - d / max(len(a), len(b)))) < 1e-6
        assert 0.0 <= r["norm_similarity"] <= 1.0


def test_goertzel_detects_every_candidate_bin():
    """Pure-unit check of the DSP core: for each candidate bin, a
    synthesized rounded sine is detected at exactly that bin, and the
    true bin's power dominates every other bin by a wide margin."""
    import math

    from hbase_tools_spark.llm.multimodal import (
        _TONE_AMP, _TONE_BINS, _TONE_N, _goertzel_power,
    )

    for k in range(1, _TONE_BINS + 1):
        samples = [
            int(math.floor(_TONE_AMP * math.sin(2 * math.pi * k * i / 64.0) + 0.5))
            for i in range(_TONE_N)
        ]
        powers = [
            _goertzel_power(samples, b, _TONE_N)
            for b in range(1, _TONE_BINS + 1)
        ]
        best = max(range(_TONE_BINS), key=lambda b: powers[b]) + 1
        assert best == k
        others = [p for i, p in enumerate(powers, 1) if i != k]
        assert powers[k - 1] > 100 * max(others), k


# -- GIF codec ---------------------------------------------------------------

def test_gif_lzw_interop_anchor():
    """The published minimal-GIF data stream: a 1x1 image of pixel 0 at
    LZW minimum code size 2 packs (clear=4, 0, EOI=5) at 3 bits
    LSB-first into exactly the bytes 44 01 — the vector every
    conforming encoder on the web produces.  Pins the bit order and
    code numbering against real-world GIF, not just our own decoder."""
    from hbase_tools_spark.llm.gif import lzw_decode, lzw_encode

    assert lzw_encode(bytes([0]), 2) == bytes([0x44, 0x01])
    assert lzw_decode(bytes([0x44, 0x01]), 2, 1) == bytes([0])


def test_gif_roundtrip_all_palette_sizes_and_saturation():
    from hbase_tools_spark.llm.gif import build_gif, parse_gif

    for n in (4, 16, 256):
        pal = bytes((i * 3 + j) % 256 for i in range(n) for j in range(3))
        idx = bytes((i * 7 + i // 9) % n for i in range(2000))
        w, h = 100, 20
        got = parse_gif(build_gif(w, h, pal, idx))
        assert got == (w, h, pal, idx)
    # force dictionary saturation + clear-code reset (>4096 entries)
    pal = bytes(768)
    big = bytes(((i * 97 + (i >> 3) * 13) % 256) for i in range(120000))
    assert parse_gif(build_gif(400, 300, pal, big))[3] == big


def test_gif_kwkwk_case():
    """The classic cScSc sequence forces the decoder to resolve a code
    equal to the next unassigned entry (KwKwK)."""
    from hbase_tools_spark.llm.gif import lzw_decode, lzw_encode

    seq = bytes([1, 1, 1, 1, 1, 1, 1])  # runs trigger KwKwK immediately
    assert lzw_decode(lzw_encode(seq, 2), 2, len(seq)) == seq
    seq2 = bytes([2, 3, 2, 3, 2, 3, 2])
    assert lzw_decode(lzw_encode(seq2, 4), 4, len(seq2)) == seq2


def test_gif_error_contracts():
    import pytest

    from hbase_tools_spark.llm.gif import build_gif, lzw_decode, parse_gif

    pal = bytes(48)
    good = build_gif(4, 2, pal, bytes(8))
    with pytest.raises(ValueError):
        parse_gif(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError):
        parse_gif(good[:-1])  # trailer gone
    with pytest.raises(ValueError):
        parse_gif(good[:20])  # truncated mid-structure
    with pytest.raises(ValueError):
        build_gif(4, 2, pal, bytes(7))  # wrong pixel count
    with pytest.raises(ValueError):
        build_gif(4, 2, bytes(9), bytes(8))  # 3-color palette
    with pytest.raises(ValueError):
        build_gif(4, 2, pal, bytes([16] * 8))  # index out of palette
    with pytest.raises(ValueError):
        lzw_decode(bytes([0x44, 0x01]), 2, 2)  # fewer pixels than promised


def test_neardup_triangles_match_bruteforce(spark):
    """Brute-force triangle enumeration over the candidate pairs; every
    node's count matches and each triangle contributes exactly once."""
    from itertools import combinations

    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    edges = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["minhash_band_pairs"].fn(m).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    nodes = sorted(adj)
    for a, b, c in combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in QUERIES["neardup_triangles"].fn(m).collect()
    }
    assert got == expect
    assert sum(got.values()) % 3 == 0  # each triangle counted at 3 nodes


def test_ann_recall_scoreboard_consistent_with_legs(spark):
    """The recall relation is exactly the set intersection of each
    method's certified result with the certified exact top-k (recomputed
    here driver-side), with a complete (method x probe) grid."""
    import hbase_tools_spark.llm  # noqa: F401 — registers the queries
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    exact = {}
    for r in QUERIES["embedding_topk"].fn(m).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {
        "lsh": QUERIES["embedding_lsh_topk"].fn(m),
        "ivf": QUERIES["embedding_ivf_topk"].fn(m),
        "pq": QUERIES["embedding_pq_topk"].fn(m),
        "ivfpq": QUERIES["embedding_ivfpq_topk"].fn(m),
    }
    hits = {}
    for meth, df in approx.items():
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        for q, ex in exact.items():
            hits[(meth, q)] = len(ex & got.get(q, set()))
    rows = QUERIES["ann_recall_at_k"].fn(m).collect()
    assert {(r["method"], r["query_id"]) for r in rows} == set(hits)
    for r in rows:
        assert r["n_exact"] == len(exact[r["query_id"]])
        assert r["n_hit"] == hits[(r["method"], r["query_id"])]
        assert 0.0 <= r["recall"] <= 1.0 and r["n_hit"] <= r["n_exact"]


def test_retrieval_ndcg_matches_python_recompute(spark):
    """nDCG recomputed in Python (exact-decimal weights, graded
    relevance from the exact ranking) reproduces the query, including
    the zero rows of probes whose approximate leg found nothing."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    K = 10
    q12 = Decimal("1e-12")
    w = {
        r: Decimal(1.0 / math.log2(r + 1)).quantize(q12, ROUND_HALF_UP)
        for r in range(1, K + 1)
    }
    idcg = float(sum(w[r] * (K + 1 - r) for r in w))
    exact = {
        (r["query_id"], r["vec_id"]): r["rank"]
        for r in QUERIES["embedding_topk"].fn(m).collect()
    }
    expect = {}
    for method in ("lsh", "ivf", "pq", "ivfpq"):
        approx = QUERIES[f"embedding_{method}_topk"].fn(m).collect()
        dcg = {q: Decimal(0) for q in range(5)}
        for r in approx:
            erank = exact.get((r["query_id"], r["vec_id"]))
            rel = 0 if erank is None else K + 1 - erank
            dcg[r["query_id"]] += rel * w[r["rank"]]
        for q in range(5):
            d6 = float(dcg[q].quantize(Decimal("1e-6"), ROUND_HALF_UP))
            expect[(q, method)] = (d6, math.floor(float(dcg[q]) / idcg * 1e6 + 0.5) / 1e6)
    rows = QUERIES["retrieval_ndcg"].fn(m).collect()
    got = {(r["query_id"], r["method"]): (r["dcg"], r["ndcg"]) for r in rows}
    assert set(got) == set(expect)
    for k in got:
        assert got[k][0] == expect[k][0], k
        assert abs(got[k][1] - expect[k][1]) < 2e-6, k


def test_exact_cosine_ranks_helper_pins_to_embedding_topk(spark):
    """The shared semantic-leg helper must produce exactly
    embedding_topk's (query_id, vec_id, rank) triples — the one-
    definition guarantee the served hybrid relies on."""
    import hbase_tools_spark.llm  # noqa: F401
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.similarity import exact_cosine_ranks
    from hbase_tools_spark.registry import QUERIES

    m = load_model(spark, SF_DIR)
    helper = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in exact_cosine_ranks(m.embeddings).collect()
    }
    query = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in QUERIES["embedding_topk"].fn(m).collect()
    }
    assert helper == query and helper


def test_ivf_stream_ingest_additive_and_replay_idempotent(spark, tmp_path):
    """The streaming ANN ingest contract: (a) an index built in two
    batch cycles serves exactly like the direct embedding_ivf_topk
    search, and (b) replaying a batch_id (the foreachBatch
    at-least-once case) leaves the served result unchanged."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.similarity import (
        _label_centroids,
        ivf_ingest_batch,
        ivf_topk_from_index,
    )
    from hbase_tools_spark.registry import QUERIES
    from pyspark.sql import functions as F

    m = load_model(spark, SF_DIR)
    inc = str(tmp_path / "ivf_inc")
    cent = _label_centroids(m.embeddings)
    cent_rows = [(int(r["label"]), list(r["c"])) for r in cent.collect()]
    cent.select(F.col("label").alias("cell"), "c").write.mode(
        "overwrite"
    ).parquet(inc + "/centroids")
    lo = m.embeddings.where(F.col("vec_id") % 2 == 0)
    hi = m.embeddings.where(F.col("vec_id") % 2 == 1)
    ivf_ingest_batch(lo, inc, 0, cent_rows)
    ivf_ingest_batch(hi, inc, 1, cent_rows)

    want = sorted(map(tuple, QUERIES["embedding_ivf_topk"].fn(m).collect()))
    got = sorted(map(tuple, ivf_topk_from_index(spark, inc).collect()))
    assert got == want
    # replay batch 1 with the same composition: exactly-once state
    ivf_ingest_batch(hi, inc, 1, cent_rows)
    again = sorted(map(tuple, ivf_topk_from_index(spark, inc).collect()))
    assert again == want


def test_ivf_stream_served_guards_view_swap(spark):
    """The streamed ANN index is built from the ON-DISK fixture, so its
    serving path must refuse a swapped embeddings view."""
    import pytest

    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.similarity import embedding_ivf_stream_served

    m = load_model(spark, SF_DIR)
    try:
        spark.createDataFrame(
            [(0, [0.1] * 8, 1)],
            "vec_id long, embedding array<float>, label int",
        ).createOrReplaceTempView("embeddings")
        with pytest.raises(ValueError, match="does not match the on-disk"):
            embedding_ivf_stream_served(m)
    finally:
        spark.conf.set("spark.hbase_tools.model_dir", "")
        load_model(spark, SF_DIR)


def test_signature_stream_store_additive_and_replay_idempotent(spark, tmp_path):
    """The streaming signature ingest contract: a store built in two
    batch cycles pairs exactly like the direct minhash_pairs_for over
    the corpus, and a replayed batch_id leaves the pair relation
    unchanged."""
    from hbase_tools_spark.catalog import load_model
    from hbase_tools_spark.llm.dedup import (
        minhash_pairs_for,
        pairs_from_signatures,
        signature_ingest_batch,
    )
    from pyspark.sql import functions as F

    m = load_model(spark, SF_DIR)
    want = sorted(map(tuple, minhash_pairs_for(m.documents).collect()))

    inc = str(tmp_path / "sig_inc")
    lo = m.documents.where(F.col("doc_id") % 2 == 0)
    hi = m.documents.where(F.col("doc_id") % 2 == 1)
    signature_ingest_batch(lo, inc, 0)
    signature_ingest_batch(hi, inc, 1)
    read = lambda: sorted(
        map(
            tuple,
            pairs_from_signatures(
                spark.read.parquet(inc).select("doc_id", "sig")
            ).collect(),
        )
    )
    assert read() == want
    signature_ingest_batch(hi, inc, 1)  # replay: exactly-once state
    assert read() == want


def test_adpcm_codec_roundtrip():
    """IMA ADPCM (llm/adpcm.py): the encoder is closed-loop (decode ==
    encoder reconstruction bit-exactly, any ns incl. block-boundary
    cases), block headers self-seed (each block decodes independently),
    the WAV container carries spec geometry + fact-chunk truncation,
    smooth signals code at high SNR, and torn containers raise."""
    import math

    import numpy as np
    import pytest

    from hbase_tools_spark.llm.adpcm import (
        BLOCK_ALIGN,
        SAMPLES_PER_BLOCK,
        adpcm_decode_block,
        adpcm_encode,
        build_wav_adpcm,
        parse_wav_adpcm,
    )

    rng = np.random.default_rng(7)
    for ns in (1, 2, 504, 505, 506, 1200):
        pairs = rng.integers(32, 127, size=(ns, 2), dtype=np.uint8)
        s = (
            pairs[:, 0].astype(np.int64)
            + 256 * pairs[:, 1].astype(np.int64)
            - 16384
        )
        payload, recon = adpcm_encode(s)
        nb = (ns + SAMPLES_PER_BLOCK - 1) // SAMPLES_PER_BLOCK
        assert len(payload) == nb * BLOCK_ALIGN
        info, dec = parse_wav_adpcm(build_wav_adpcm(8000, s))
        assert info["tag"] == 0x0011 and info["bits"] == 4
        assert info["samples_per_block"] == SAMPLES_PER_BLOCK
        assert info["n_samples"] == ns and info["n_blocks"] == nb
        assert np.array_equal(dec, recon)  # closed loop, exact
    # block independence: decoding block 1 ALONE equals the encoder's
    # closed-loop reconstruction over that block's sample range (the
    # 4-byte header re-seeds predictor + step index) — the property
    # that makes the format splittable (one task per block range).
    # Re-encode an explicit multi-block signal rather than relying on
    # the loop above's exit state.
    pairs = rng.integers(32, 127, size=(1200, 2), dtype=np.uint8)
    s = (
        pairs[:, 0].astype(np.int64)
        + 256 * pairs[:, 1].astype(np.int64)
        - 16384
    )
    payload, recon = adpcm_encode(s)
    alone = adpcm_decode_block(payload[BLOCK_ALIGN : 2 * BLOCK_ALIGN])
    assert np.array_equal(
        alone, recon[SAMPLES_PER_BLOCK : 2 * SAMPLES_PER_BLOCK]
    )
    # smooth signal codes far above the noise floor
    t = np.arange(4000)
    sine = (8000 * np.sin(t / 20)).astype(np.int64)
    _, recon = adpcm_encode(sine)
    info, dec = parse_wav_adpcm(build_wav_adpcm(8000, sine))
    err = (dec - sine).astype(float)
    snr = 10 * math.log10(
        float((sine.astype(float) ** 2).sum()) / float((err**2).sum())
    )
    assert snr > 30.0
    # error paths
    with pytest.raises(ValueError, match="not a WAV"):
        parse_wav_adpcm(b"JUNK")
    wav = build_wav_adpcm(8000, sine)
    with pytest.raises(ValueError, match="torn data chunk"):
        # chop one byte off the data chunk (fix the declared size too)
        import struct as _s

        torn = bytearray(wav[:-1])
        dpos = wav.index(b"data")
        _s.pack_into("<I", torn, dpos + 4, info["compressed_bytes"] - 1)
        parse_wav_adpcm(bytes(torn))
