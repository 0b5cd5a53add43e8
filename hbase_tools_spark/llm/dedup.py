"""Near-duplicate detection (M8): n-gram Jaccard and MinHash+LSH — the
scale path for fuzzy dedup over a training corpus.

Plan shape at 100 TB:
  * shingling is a narrow per-doc transform (explode);
  * the pair-candidate join keys on shingle / band-hash — skew-prone on
    hot shingles, which is why the Jaccard variant joins on *distinct*
    shingles and MinHash-LSH replaces the shingle join with a fixed
    number of band-hash buckets (16 hashes, 4 bands here);
  * verification (exact Jaccard) runs only on candidate pairs.
Residual hot buckets are not split: ``load_model`` turns AQE, and so
its skew-join handling, off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Model
from ..functions.cache import stage_persist
from ..functions.exprs import fround, fround_sql
from ..functions.partitioning import python_stage_input, relation_bytes
from ..registry import query

_SHINGLE = 5          # words per shingle
_MINHASHES = 16       # minhash functions
_BANDS = 4            # LSH bands (4 rows each)
_JACCARD_T = 0.5      # similarity threshold

#: documents bytes (``relation_bytes``: the bytes on disk) above which
#: a shingle-scale shuffle_hash hint is dropped (round 11 / r10 verdict
#: task 4): the 100x fixture (58 MB docs parquet, ~100x uncompressed
#: expansion into the exploded shingle relation) made the hinted
#: jaccard self-join's per-task build map exceed the 8 g default heap's
#: task share; at or below this threshold the hinted plan is measured
#: faster and safe.
_SHJ_DOCS_BYTES = 16 << 20


def _corpus_shj(df: DataFrame, m: Model) -> DataFrame:
    """Apply the ``shuffle_hash`` hint only while the model's documents
    relation is small enough that a SHINGLE-SCALE build side's per-task
    hash map stays within executor task memory; beyond the threshold,
    or when the size is unknown, return the relation unhinted — the
    planner's sort-merge join SPILLS where the forced SHJ build OOMs
    ("not enough memory to build hash map" at the 100x fixture, 8 g
    default heap; guide §3: hash-join only a side that fits).  The
    guard reads ``relation_bytes(m.documents)`` (no Spark action)."""
    size = relation_bytes(m.documents)
    if size is None or size > _SHJ_DOCS_BYTES:
        return df
    return df.hint("shuffle_hash")


# Shared shingle CTE (DuckDB dialect); Spark side built with
# sequence/transform below — both produce identical shingle strings.
_SHINGLES_SQL = f"""
SELECT doc_id, unnest(list_distinct(
         list_transform(range(1, greatest(len(toks) - {_SHINGLE - 2}, 1)),
                        i -> array_to_string(toks[i:i+{_SHINGLE - 1}], ' '))
       )) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
WHERE len(toks) >= {_SHINGLE}
"""


def _shingles_with_size(m: Model, width: int = _SHINGLE) -> DataFrame:
    """Exploded (doc_id, n_distinct_shingles, shingle) postings; n rides
    along so downstream set-similarity math needs no size-lookup join.

    Implemented as an Arrow ``mapInPandas`` pass: the declarative form
    (split → transform(sequence, slice+array_join) → array_distinct →
    explode) is a higher-order-function chain, which Catalyst executes
    interpreted (CodegenFallback) — measured 4x slower than this
    vectorized shingler on the sf0.1 corpus (2.9 s vs 0.7 s warm).
    Semantics match the SQL oracle exactly: split on single space,
    first-occurrence-ordered distinct, docs shorter than the shingle
    width dropped."""
    import pandas as pd

    def shingler(batches):
        for pdf in batches:
            ids, ns, shs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):  # NULL text: drop, like
                    continue                   # the SQL/oracle paths
                toks = text.split(" ")
                if len(toks) < width:
                    continue
                seen = list(dict.fromkeys(
                    " ".join(toks[i : i + width])
                    for i in range(len(toks) - width + 1)
                ))
                ids.extend([doc_id] * len(seen))
                ns.extend([len(seen)] * len(seen))
                shs.extend(seen)
            yield pd.DataFrame({"doc_id": ids, "n": ns, "shingle": shs})

    return python_stage_input(
        m.documents.select("doc_id", "text"), "doc_id"
    ).mapInPandas(shingler, "doc_id long, n long, shingle string")


_JACCARD_PAIRS_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= {_JACCARD_T}
"""


@query("ngram_jaccard_pairs", oracle=_JACCARD_PAIRS_SQL, views=[])
def ngram_jaccard_pairs(m: Model) -> DataFrame:
    """Word-{5}-gram Jaccard near-dup pairs >= {0.5}: inverted index on
    distinct shingles, then |A∩B| / (|A|+|B|-|A∩B|).

    Each posting carries its document's distinct-shingle count, so the
    equi-join on shingle yields pair counts AND both set sizes in one
    aggregation — no size-lookup joins.  The postings are materialized
    once (lazy localCheckpoint) before the self-join: ReuseExchange
    does NOT fire across the two legs (verified on the executed plan),
    so without it the shingle pass runs twice."""
    posts = stage_persist(_shingles_with_size(m))
    # shuffle-hash hint, SIZE-GUARDED (round 11 / r10 verdict task 4):
    # the posting list is too big to broadcast, and at fixture scale a
    # hashed self-join on the shuffled shingle key beats sort-merge —
    # but BOTH sides here are the corpus-scale shingle relation, so a
    # forced SHJ's per-task build map grows with corpus/partitions:
    # measured at the 100x fixture, the hinted plan dies with
    # "SparkOutOfMemoryError: not enough memory to build hash map" at
    # the default 8 g heap, while the unhinted sort-merge fallback
    # SPILLS and completes (guide §3 — pick SHJ only when a build side
    # fits task memory).  _corpus_shj drops the hint once the corpus
    # passes the threshold.
    a = _corpus_shj(
        posts.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "shingle"
        ),
        m,
    )
    b = _corpus_shj(
        posts.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "shingle"
        ),
        m,
    )
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.filter(jac >= _JACCARD_T)
        .select("doc_a", "doc_b", fround(jac, 6).alias("jaccard"))
    )


# One md5 per shingle, parsed to a 32-bit int; the 16 minhash functions
# are integer permutations h_i(x) = ((2i+1)*x + i*2654435761) mod P with
# P the largest prime < 2^32 — identical pure-integer math in both
# engines, 16x fewer cryptographic hashes than hashing per (seed,
# shingle).
_MH_PRIME = 4294967291
_MH_MULT = 2654435761  # Knuth multiplicative constant

_SIG_SQL = f"""
SELECT doc_id,
       list_transform(range(0, {_MINHASHES}),
                      i -> list_min(list_transform(hv,
                             h -> ((2*i + 1) * h + i * {_MH_MULT}) % {_MH_PRIME}))) AS sig
FROM (
  SELECT doc_id,
         list_transform(list(shingle),
                        s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hv
  FROM ({_SHINGLES_SQL}) sh
  GROUP BY doc_id
) hashed
"""


def _signatures_for(docs: DataFrame) -> DataFrame:
    """MinHash signatures: each distinct shingle is md5-hashed ONCE and
    parsed to a 32-bit int; sig[i] = min over shingles of the i-th
    integer permutation ((2i+1)·h + i·K) mod P.  md5-hex parse and
    64-bit modular arithmetic behave identically in Spark and DuckDB,
    so the signature is engine-portable (unlike Spark's hash() or
    DuckDB's hash()).

    A pure map stage — no explode, no cross join, no shuffle: at
    100 TB only the tiny (doc_id, band_hash) relation ever shuffles
    (in the LSH join below).  Implemented as an Arrow ``mapInPandas``
    pass for the same reason as :func:`_shingles_with_size`: the
    declarative array-expression chain is interpreted HOFs (and needs a
    projection-collapse barrier to keep md5 from running 16x), while
    the numpy form does the 16 permutations as one (16, n) broadcasted
    min — measured severalfold faster on the sf0.1 corpus.  md5-hex
    parse and 64-bit modular arithmetic are identical in Python, Spark
    and DuckDB, so the signature stays engine-portable."""
    import hashlib

    import numpy as np
    import pandas as pd

    width, prime = _SHINGLE, _MH_PRIME
    i_arr = np.arange(_MINHASHES, dtype=np.int64)
    mul = (2 * i_arr + 1)[:, None]
    add = (i_arr * _MH_MULT)[:, None]

    def signer(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):  # NULL text: drop, like
                    continue                   # the SQL/oracle paths
                toks = text.split(" ")
                if len(toks) < width:
                    continue
                seen = dict.fromkeys(
                    " ".join(toks[i : i + width])
                    for i in range(len(toks) - width + 1)
                )
                hv = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(s.encode()).digest()[:4], "big"
                        )
                        for s in seen
                    ),
                    dtype=np.int64,
                    count=len(seen),
                )
                ids.append(doc_id)
                sigs.append(((mul * hv[None, :] + add) % prime).min(axis=1))
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return python_stage_input(
        docs.select("doc_id", "text"), "doc_id"
    ).mapInPandas(signer, "doc_id long, sig array<long>")


# Hot-bucket cap: a bucket with more than this many docs is EXCLUDED
# from pair enumeration (its O(n^2) fan-out would dominate the job; a
# bucket that hot means a near-identical cluster, which exact dedup
# catches far more cheaply).  The cap is applied identically in the
# oracle SQL so the parity gate covers the capped semantics; dropped
# buckets are observable via ``lsh_bucket_stats`` rather than silently
# vanishing.
_BUCKET_CAP = 100

_BANDS_SQL = f"""
WITH sig AS ({_SIG_SQL}),
bands AS (
  SELECT doc_id, b AS band,
         array_to_string(sig[b*{_MINHASHES // _BANDS}+1 : (b+1)*{_MINHASHES // _BANDS}], '|') AS band_hash
  FROM sig
  CROSS JOIN (SELECT unnest(range(0, {_BANDS})) AS b)
)
"""

_MINHASH_PAIRS_SQL = f"""
{_BANDS_SQL},
ok_buckets AS (
  SELECT band, band_hash
  FROM bands
  GROUP BY band, band_hash
  HAVING count(*) BETWEEN 2 AND {_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN ok_buckets ob ON a.band = ob.band AND a.band_hash = ob.band_hash
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


def pairs_from_signatures(sig: DataFrame, cap: int = _BUCKET_CAP) -> DataFrame:
    """Candidate pairs from a (doc_id, sig) relation — e.g. the
    persisted store ``signature_ingest_batch`` writes."""
    return _pairs_from_bands(_bands_from_sig(sig), cap)


def _bands_for(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) relation — the LSH bucketing key."""
    return _bands_from_sig(_signatures_for(docs))


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    rows_per_band = _MINHASHES // _BANDS
    band_ids = F.sequence(F.lit(0), F.lit(_BANDS - 1))
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                band_ids,
                lambda b: F.struct(
                    b.cast("bigint").alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        "|",
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.band_hash")


def minhash_pairs_for(docs: DataFrame, cap: int = _BUCKET_CAP) -> DataFrame:
    """Candidate pairs over any (doc_id, text) relation with the
    hot-bucket cap applied — the reusable core of
    ``minhash_band_pairs``."""
    return _pairs_from_bands(_bands_for(docs), cap)


def _pairs_from_bands(bands: DataFrame, cap: int) -> DataFrame:
    # Pair generation by bucket grouping, not a self-join: the signature
    # pipeline runs ONCE and shuffles once on (band, band_hash); pairs
    # are enumerated inside each bucket.  Buckets are tiny by LSH
    # design; the ones that aren't (> cap docs) are dropped here, which
    # bounds per-bucket fan-out at C(cap, 2) pairs.
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= cap))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"), i + 2, F.greatest(F.size("ds") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query("minhash_band_pairs", oracle=_MINHASH_PAIRS_SQL, views=[])
def minhash_band_pairs(m: Model) -> DataFrame:
    """MinHash-LSH candidate pairs: {16} md5-minhashes, {4} bands of
    {4}; docs sharing any band hash are candidates.  The band-hash join
    replaces the O(shingle-fanout) pair join — the 100 TB dedup path.
    Buckets over {100} docs are excluded (identically in the oracle);
    see ``lsh_bucket_stats`` for what was dropped."""
    return minhash_pairs_for(m.documents)


@query(
    "lsh_bucket_stats",
    oracle=f"""
{_BANDS_SQL}
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket,
       CAST(coalesce(sum(CASE WHEN n > {_BUCKET_CAP} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hot,
       CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND {_BUCKET_CAP}
                              THEN n * (n - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS n_pairs
FROM (
  SELECT band, band_hash, count(*) AS n
  FROM bands
  GROUP BY band, band_hash
) b
GROUP BY band
""",
    views=[],
)
def lsh_bucket_stats(m: Model) -> DataFrame:
    """LSH bucket-size diagnostics per band: bucket count, max bucket
    size, hot buckets dropped by the cap, and the pair fan-out the cap
    admits.  The observability face of the hot-bucket cap — at 100 TB
    this is the query an operator watches to tune (bands, cap)."""
    sizes = (
        _bands_for(m.documents)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.coalesce(
            F.sum(F.when(F.col("n") > _BUCKET_CAP, 1).otherwise(0)), F.lit(0)
        ).alias("n_hot"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") >= 2) & (F.col("n") <= _BUCKET_CAP),
                    F.expr("n * (n - 1) DIV 2"),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("n_pairs"),
    )


@query(
    "neardup_source_matrix",
    oracle=f"""
WITH pairs AS ({_MINHASH_PAIRS_SQL})
SELECT least(da.source, db.source)    AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT)       AS n_pairs,
       CAST(sum(CASE WHEN da.source = db.source THEN 0 ELSE 1 END)
            AS BIGINT)                AS n_cross
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
""",
    views=[],
)
def neardup_source_matrix(m: Model) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH candidate pairs
    rolled up by unordered source pair — the crawl-curation view of
    WHERE the duplication comes from (mirror sites, re-crawls,
    cross-source syndication) that decides which feeds to throttle.

    Scale shape: the pair relation is already bucket-capped (pairs ∝
    N·cap, not N²) and the join side is the column-pruned (doc_id,
    source) projection, so the two enrichment joins shuffle a
    two-column relation at worst; the final rollup keys on source
    pairs — dimension-sized, map-side combined."""
    docs = m.documents.select("doc_id", "source")
    pairs = minhash_pairs_for(m.documents)
    enriched = (
        pairs.join(docs.withColumnRenamed("source", "sa"), pairs.doc_a == docs.doc_id)
        .drop("doc_id")
        .join(
            docs.withColumnRenamed("source", "sb").withColumnRenamed(
                "doc_id", "doc_id_b"
            ),
            F.col("doc_b") == F.col("doc_id_b"),
        )
    )
    return (
        enriched.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("sa") == F.col("sb"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_cross"),
        )
    )


@query(
    "neardup_edit_distance",
    oracle=f"""
WITH pairs AS ({_MINHASH_PAIRS_SQL})
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
       {fround_sql(
           '1.0 - levenshtein(da.text, db.text) * 1.0 '
           '/ greatest(length(da.text), length(db.text))', 6)} AS norm_similarity
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
""",
    views=[],
)
def neardup_edit_distance(m: Model) -> DataFrame:
    """Exact Levenshtein verification of the LSH candidate pairs — the
    third verifier beside exact n-gram Jaccard and the signature
    estimate: character-level edit distance plus the normalized
    similarity 1 - d/max(len), the measure fuzzy-dedup pipelines
    threshold on when near-dups differ by small in-place edits rather
    than block moves.

    Scale: Levenshtein is O(len_a x len_b) per pair, which is exactly
    why it NEVER runs corpus x corpus — only over the bucket-capped
    candidate relation (pairs ∝ N·cap), where the quadratic cost is
    bounded by pair count x document length².  Both engines evaluate
    the identical unit-cost recurrence, and the distance is an integer,
    so the certificate is exact."""
    docs = m.documents.select("doc_id", "text")
    pairs = minhash_band_pairs(m)
    joined = (
        pairs.join(
            docs.select(F.col("doc_id").alias("ida"), F.col("text").alias("ta")),
            F.col("doc_a") == F.col("ida"),
        )
        .join(
            docs.select(F.col("doc_id").alias("idb"), F.col("text").alias("tb")),
            F.col("doc_b") == F.col("idb"),
        )
    )
    d = F.levenshtein("ta", "tb")
    return joined.select(
        "doc_a",
        "doc_b",
        d.cast("bigint").alias("edit_distance"),
        fround(
            1.0 - d * 1.0 / F.greatest(F.length("ta"), F.length("tb")), 6
        ).alias("norm_similarity"),
    )


@query(
    "neardup_triangles",
    # MATERIALIZED: the pair relation feeds three join legs — inlined,
    # DuckDB re-runs the whole signature pipeline per leg and OOMs at
    # the 100x fixture; materialized it is a 25k-row edge list (found
    # by the sf10 probe, SCALE.md)
    oracle=f"""
WITH pairs AS MATERIALIZED ({_MINHASH_PAIRS_SQL}),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
per_node AS (
  SELECT doc_id, count(*) AS t FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) x GROUP BY doc_id
)
SELECT doc_id, CAST(t AS BIGINT) AS n_triangles
FROM per_node
""",
    views=[],
)
def neardup_triangles(m: Model) -> DataFrame:
    """Per-document triangle count on the near-dup candidate graph —
    the template-family detector: a doc in many triangles sits inside a
    densely mutually-similar cluster (boilerplate, mirrored templates),
    which clustering alone can't distinguish from a sparse chain.

    The edge-ordered algorithm (each edge stored once as doc_a <
    doc_b, triangles enumerated as a<b<c, so each triangle counts
    exactly once): two self-joins of the candidate-pair relation.
    Scale: the pair relation is bucket-capped (∝ N·cap), and the join
    keys are doc ids — the standard distributed triangle count, whose
    cost is bounded by the near-dup graph, never the corpus."""
    pairs = minhash_band_pairs(m)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


_LP_STEPS = 4  # label-propagation rounds (cluster diameter bound)


def _lp_oracle() -> str:
    """Unrolled k-step min-label propagation in DuckDB SQL: step s+1
    labels = min(own label, neighbors' labels)."""
    # MATERIALIZED is load-bearing at scale: each step references the
    # previous CTE twice, so DuckDB's default inlining re-expands the
    # whole upstream MinHash pipeline ~2^steps times — at the sf1
    # fixture that blows past a 100 GiB memory limit (observed OOM);
    # materialized, each step is one tiny pass over ≤|nodes| rows.
    # (Spark materializes the per-round relation explicitly via the
    # loop's localCheckpoint — this is the same plan shape.)
    base = f"""
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
s0 AS (SELECT doc_id, doc_id AS label FROM nodes)"""
    steps = []
    for i in range(_LP_STEPS):
        steps.append(f"""
s{i + 1} AS MATERIALIZED (
  SELECT n.doc_id,
         least(n.label, coalesce(min(m.label), n.label)) AS label
  FROM s{i} n
  LEFT JOIN edges e ON e.u = n.doc_id
  LEFT JOIN s{i} m ON m.doc_id = e.v
  GROUP BY n.doc_id, n.label
)""")
    return base + "," + ",".join(steps) + f"""
SELECT doc_id, label AS cluster_id FROM s{_LP_STEPS}
"""


@query(
    "neardup_clusters",
    # self-contained WITH: the minhash-pairs oracle nests as a sub-WITH
    # inside the pairs CTE (previously this leaned on views=["servers"]
    # purely to make the registry emit the WITH keyword — coupling this
    # oracle to an unrelated view definition)
    oracle="WITH pairs AS MATERIALIZED (\n"
    + _MINHASH_PAIRS_SQL
    + "\n),\n"
    + _lp_oracle(),
    views=[],
)
def neardup_clusters(m: Model) -> DataFrame:
    """Near-duplicate cluster formation: MinHash-LSH candidate pairs
    become dedup groups via {4}-round min-label propagation (bounded
    by LSH cluster diameter — duplicate groups are cliques-ish, so a
    few rounds reach the fixpoint; the bound makes the operator
    deterministic and oracle-expressible without recursion).  Each
    round is one self-join keyed on doc_id — the classic
    iterative-join form of connected components; at 100 TB rounds are
    checkpointed and the edge list is the small relation (pairs only,
    never documents)."""
    pairs = minhash_band_pairs(m).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
        pairs.selectExpr("doc_b AS u", "doc_a AS v")
    )
    edges = edges.localCheckpoint(eager=True)  # reused every round
    # labels derives from the CHECKPOINTED edges (round-12): built from
    # the pre-checkpoint relation it carried the whole minhash-pairs
    # lineage into every round's plan — measured 0.70 s of WARM driver
    # analysis on round 1 alone (the connected_components twin already
    # did this right).  Same rows either way (distinct u over identical
    # edges).
    labels = edges.select(F.col("u").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    for _ in range(_LP_STEPS):
        neigh = (
            edges.join(labels.withColumnRenamed("doc_id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("u", "doc_id")
        )
        stepped = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # lazy checkpoint, materialized by the changed-count below:
            # one Spark job per executed round
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("label") < F.col("old")).count()
        labels = stepped.select("doc_id", "label")
        # Min-label propagation is monotone: a round that changes
        # nothing fixes every later round, so exiting early is
        # output-identical to running all {_LP_STEPS} oracle steps —
        # it only skips provably-no-op rounds (measured ~1.5 s saved
        # at sf0.1, where the fixture converges in 2 rounds).
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Converge-until-stable connected components over an undirected
    edge relation: returns (doc_id, cluster_id) with cluster_id = the
    minimum node id in the component — the production form of
    ``neardup_clusters`` with no diameter bound.

    Each round does (a) neighbor-min propagation (one join on the edge
    list) and (b) pointer jumping — label := label(label) — which
    halves label-chain depth, so convergence is O(log diameter) rounds
    rather than O(diameter); dup-chains A~B~C~... of any length reach
    one cluster id.  Every round is ``localCheckpoint``-truncated (at
    cluster scale: ``checkpoint`` to a reliable store) and ends with a
    single ``count`` action on the changed rows — the loop is driver-
    orchestrated control flow, but ALL data stays distributed; only
    the per-round changed-count scalar ever reaches the driver.

    Raises if ``max_rounds`` is hit without a fixpoint (50 rounds
    covers components of diameter ~2^50 under pointer jumping)."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        neigh = (
            sym.join(labels.withColumnRenamed("doc_id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("u", "doc_id")
        )
        stepped = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jump: label := label(label); label(x) <= x invariant
        # guarantees the inner lookup always finds a row.  The old label
        # rides along so the changed-count needs no extra join, and the
        # lazy checkpoint is materialized by that count — one Spark job
        # per round.
        parents = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("plabel")
        )
        jumped = (
            stepped.join(parents, "label")
            .select("doc_id", F.col("plabel").alias("label"), "old")
            .localCheckpoint(eager=False)
        )
        changed = jumped.filter(F.col("label") < F.col("old")).count()
        labels = jumped.select("doc_id", "label")
        if changed == 0:
            return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


@query(
    "neardup_clusters_converged",
    # standalone body: the recursive CTE lives in a subquery so the
    # registry's view-prefixed WITH is not needed (views=[])
    oracle=f"""
SELECT doc_id, cluster_id FROM (
  WITH RECURSIVE
  pairs AS (
{_JACCARD_PAIRS_SQL}
  ),
  edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs
  ),
  nodes AS (SELECT DISTINCT u FROM edges),
  reach AS (
    SELECT u, u AS v FROM nodes
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
  )
  SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
) cc
""",
    views=[],
)
def neardup_clusters_converged(m: Model) -> DataFrame:
    """Converged near-dup clusters: n-gram Jaccard pairs (>= {0.5})
    grouped into components by :func:`connected_components` — the
    unbounded-diameter production form (the bounded ``neardup_clusters``
    stays as the fixed-round oracle variant).  Oracle: DuckDB recursive
    CTE transitive closure, so the driver hash-checks the fixpoint."""
    return connected_components(ngram_jaccard_pairs(m))


# ---------------------------------------------------------------------------
# Estimator diagnostics — MinHash agreement per candidate pair
# ---------------------------------------------------------------------------

@query(
    "minhash_similarity_estimates",
    oracle=f"""
{_BANDS_SQL},
ok_buckets AS (
  SELECT band, band_hash
  FROM bands
  GROUP BY band, band_hash
  HAVING count(*) BETWEEN 2 AND {_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN ok_buckets ob ON a.band = ob.band AND a.band_hash = ob.band_hash
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(range(1, {_MINHASHES + 1}),
                            i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match,
       floor(len(list_filter(range(1, {_MINHASHES + 1}),
                             i -> sa.sig[i] = sb.sig[i])) / {_MINHASHES}.0
             * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
""",
    views=[],
)
def minhash_similarity_estimates(m: Model) -> DataFrame:
    """Estimator diagnostic for the dedup pipeline: for every LSH
    candidate pair, the fraction of the {16} MinHash components that
    agree — the unbiased Jaccard estimate the banding decision is
    implicitly built on.  Piped next to ``ngram_jaccard_pairs`` (exact
    Jaccard on the same pairs) this is the tuning table for choosing
    the dedup threshold: it shows directly how coarse a 16-hash
    estimate is at the operating point.

    Plan: the signature relation is computed ONCE (localCheckpoint) and
    reused three ways (banding, side A, side B); pairs come from the
    capped bucket grouping (never a self-join) and the two signature
    joins key on doc_id — co-partitioned small shuffles sized by the
    candidate set, not the corpus."""
    sig = _signatures_for(m.documents).localCheckpoint(eager=True)
    pairs = pairs_from_signatures(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("bigint").alias("n_match"),
            fround(n_match / float(_MINHASHES), 6).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Survivor selection — the dedup pipeline's final write relation
# ---------------------------------------------------------------------------

@query(
    "docs_neardup_survivors",
    oracle=f"""
SELECT d.doc_id, d.lang, d.source,
       cc.doc_id IS NOT NULL AS had_dups
FROM documents d
LEFT JOIN (
  SELECT doc_id, cluster_id FROM (
    WITH RECURSIVE
    pairs AS (
{_JACCARD_PAIRS_SQL}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach AS (
      SELECT u, u AS v FROM nodes
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
    )
    SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
  ) q
) cc ON cc.doc_id = d.doc_id
WHERE cc.doc_id IS NULL OR cc.doc_id = cc.cluster_id
""",
    views=[],
)
def docs_neardup_survivors(m: Model) -> DataFrame:
    """Survivor selection — the relation the dedup pipeline actually
    WRITES: every document that is either untouched by near-duplication
    or its cluster's representative (minimum doc_id, i.e. the converged
    cluster label itself), with ``had_dups`` marking survivors that
    absorbed duplicates.  Completes the fuzzy-dedup chain
    pairs -> clusters (:func:`neardup_clusters_converged`) -> corpus.

    Plan: the cluster relation is pairs-proportional (only documents
    that appear in some near-dup pair), so the corpus-side LEFT join
    keys on doc_id against a far smaller relation — at 100 TB that join
    broadcasts when the dup set is small and degrades to a co-
    partitioned hash join when it is not (the optimizer decides from
    the estimated size; AQE is off); the corpus itself is scanned
    exactly once."""
    cc = connected_components(ngram_jaccard_pairs(m))
    return (
        m.documents.select("doc_id", "lang", "source")
        .join(cc, "doc_id", "left")
        .where(
            F.col("cluster_id").isNull()
            | (F.col("doc_id") == F.col("cluster_id"))
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("cluster_id").isNotNull().alias("had_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-window dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): instead of whole-doc
# near-dup pairs, measure how much of each document's CONTENT is
# duplicated verbatim anywhere else in the corpus, at fixed word-window
# granularity.

_DUP_WINDOW = 8     # words per window (wider than the Jaccard shingle:
                    # this flags verbatim reuse, not fuzzy similarity)
_DUP_FRACTION_T = "0.2"  # duplicated-window fraction flag threshold

_WINDOWS_SQL = f"""
SELECT doc_id, unnest(list_distinct(
         list_transform(range(1, greatest(len(toks) - {_DUP_WINDOW - 2}, 1)),
                        i -> array_to_string(toks[i:i+{_DUP_WINDOW - 1}], ' '))
       )) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
WHERE len(toks) >= {_DUP_WINDOW}
"""


@query(
    "docs_window_dedup",
    oracle=f"""
WITH w AS ({_WINDOWS_SQL}),
df AS (SELECT shingle, count(*) AS nd FROM w GROUP BY shingle)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                AS n_dup_windows,
       floor((sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0
                                AS dup_fraction,
       sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*) >= {_DUP_FRACTION_T}
                                AS dup_heavy
FROM w JOIN df ON w.shingle = df.shingle
GROUP BY doc_id
""",
    views=[],
)
def docs_window_dedup(m: Model) -> DataFrame:
    """Exact substring-window dedup signal: for every document, the
    fraction of its distinct {8}-word windows that appear verbatim in
    at least one OTHER place in the corpus (cross-doc, or the same
    window observed from another doc) — the per-document content-
    duplication measure of Lee et al. 2022, at window rather than
    suffix-array granularity.  Docs above {0.2} are flagged
    ``dup_heavy`` (candidates for span-level removal rather than
    whole-doc dropping).

    Plan — NO corpus-vs-corpus join: a window is duplicated iff its
    corpus doc-frequency is >= 2, so per-doc dup counts derive as
    ``n_windows - n_unique_windows``, and a UNIQUE window (count == 1)
    has exactly one holder whose doc_id survives the same aggregate as
    ``max(doc_id)`` — the doc-frequency rollup therefore re-attributes
    unique windows for free and the naive plan's corpus-sized
    re-association join (posts ⋈ docfreq on the window key, measured
    3x the runtime at 10x corpus) disappears.  The window relation
    reuses the Arrow shingler (one narrow CPU-bound pass, see
    :func:`_shingles_with_size`), materialized once (localCheckpoint)
    for its two consumers.  The heavy shuffle keys on
    ``xxhash64(window)`` — 8-byte ints, not ~45-byte strings (the
    Lee-et-al. fingerprint discipline; a 64-bit collision merges two
    windows' counts with probability ~(n²/2^65), negligible against
    the fraction being estimated and impossible to observe at fixture
    scale).  Both per-doc relations then meet in one doc-keyed join —
    doc-cardinality rows, co-partitioned on doc_id."""
    posts = stage_persist(
        _shingles_with_size(m, width=_DUP_WINDOW)
        .select("doc_id", F.xxhash64("shingle").alias("wh"))
    )
    per_doc = posts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    uniq = (
        posts.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"), F.max("doc_id").alias("doc_id"))
        .where(F.col("c") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    n_dup = F.col("n_windows") - F.coalesce(F.col("n_unique"), F.lit(0))
    frac = n_dup * 1.0 / F.col("n_windows")
    return (
        per_doc.join(_corpus_shj(uniq, m), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            n_dup.cast("bigint").alias("n_dup_windows"),
            fround(frac, 6).alias("dup_fraction"),
            (frac >= float(_DUP_FRACTION_T)).alias("dup_heavy"),
        )
    )


# ---------------------------------------------------------------------------
# Line-level dedup (C4, Raffel et al. 2020 §2.2: "we discarded all but
# one of any three-sentence span occurring more than once in the data
# set") — the KEEP-FIRST global policy the window family lacks: every
# normalized line keeps exactly ONE canonical occurrence corpus-wide
# (lowest (doc_id, line_no)); every other occurrence is removed.  The
# fixture corpus has no newlines/punctuation, so the normalized "line"
# unit is the deterministic non-overlapping {_LINE_W}-word segment
# (the same re-keying SURVEY's plan prescribes: the shingle machinery
# at line grain).
# ---------------------------------------------------------------------------

_LINE_W = 16  # words per normalized line segment

_LINES_SQL = f"""
SELECT doc_id,
       CAST(unnest(range(0, (len(toks) + {_LINE_W - 1}) // {_LINE_W}))
            AS BIGINT) AS line_no,
       unnest(list_transform(range(0, (len(toks) + {_LINE_W - 1}) // {_LINE_W}),
              i -> lower(array_to_string(
                     toks[i*{_LINE_W}+1:i*{_LINE_W}+{_LINE_W}], ' ')))) AS seg
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
"""


@query(
    "docs_line_dedup",
    oracle=f"""
WITH l AS ({_LINES_SQL}),
pd AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
fc AS (SELECT seg, count(*) AS c FROM l GROUP BY seg),
k AS (
  SELECT seg, doc_id AS kdoc
  FROM (SELECT seg, doc_id,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY doc_id, line_no) AS rn
        FROM l)
  WHERE rn = 1
),
agg AS (
  SELECT kdoc AS doc_id,
         count(*) AS n_kept,
         count(*) FILTER (WHERE c = 1) AS n_unique
  FROM k JOIN fc USING (seg)
  GROUP BY kdoc
)
SELECT pd.doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_lines - coalesce(n_unique, 0) AS BIGINT) AS n_dup_lines,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(n_lines - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
       {fround_sql('coalesce(n_kept, 0) * 1.0 / n_lines', 6)} AS kept_fraction
FROM pd LEFT JOIN agg ON pd.doc_id = agg.doc_id
""",
    views=[],
)
def docs_line_dedup(m: Model) -> DataFrame:
    """C4-style line-level dedup with the KEEP-FIRST policy: every
    normalized {16}-word line segment keeps exactly one canonical
    occurrence corpus-wide — the occurrence with the lowest
    (doc_id, line_no) — and all others are removed.  Per document:
    total line count, how many of its lines are duplicated anywhere
    (the C4 discard candidates), how many survive as canonical copies,
    how many occurrences a remover would cut, and the kept fraction.

    Plan — NO corpus-vs-corpus re-association join (the
    ``docs_window_dedup`` trick extended to keep-first attribution):
    the line-frequency aggregate carries BOTH the count and the
    canonical first holder as ``min(struct(doc_id, line_no))``, so the
    per-doc kept and unique counts fall out of ONE doc-keyed rollup of
    the frequency relation — line-cardinality shuffles only, keyed on
    ``xxhash64(line)`` 8-byte ints (collision odds ~n²/2^65,
    unobservable).  Three doc-keyed relations then meet in one
    co-partitioned join.  At 100 TB every stage is linear in corpus
    lines; nothing is ever corpus² and no window spans more than one
    line key."""
    W = _LINE_W
    toks = F.split(F.col("text"), " ")
    segs = F.expr(
        f"transform(sequence(0, CAST((size(toks) + {W - 1}) DIV {W} AS INT) - 1),"
        f" i -> lower(concat_ws(' ', slice(toks, i * {W} + 1, {W}))))"
    )
    posts = stage_persist(
        m.documents.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.posexplode(segs).alias("line_no", "seg"))
        .select("doc_id", "line_no", F.xxhash64("seg").alias("lh"))
    )
    per_doc = posts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    freq = posts.groupBy("lh").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct("doc_id", "line_no")).alias("keeper"),
    )
    kept = freq.groupBy(F.col("keeper.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_unique"),
    )
    n_dup = F.col("n_lines") - F.coalesce(F.col("n_unique"), F.lit(0))
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0))
    return per_doc.join(_corpus_shj(kept, m), "doc_id", "left").select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        n_dup.cast("bigint").alias("n_dup_lines"),
        n_kept.cast("bigint").alias("n_kept"),
        (F.col("n_lines") - n_kept).cast("bigint").alias("n_removed"),
        fround(n_kept * 1.0 / F.col("n_lines"), 6).alias("kept_fraction"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-SPAN extraction (Lee et al. 2022 §4, the ExactSubstr
# remover): docs_window_dedup says HOW MUCH of a doc is duplicated;
# this says WHERE — the maximal verbatim-duplicated token spans, i.e.
# what a span-level remover would actually cut.  A position is
# duplicated iff its {_DUP_WINDOW}-word window occurs >= 2 times in
# the corpus (any doc, any position — the suffix-array criterion at
# window granularity); duplicated positions whose windows overlap in
# TOKEN space (gap <= window-1) merge into one span.
# ---------------------------------------------------------------------------

_SPAN_POSTS_SQL = f"""
SELECT doc_id,
       CAST(unnest(range(1, greatest(len(toks) - {_DUP_WINDOW - 2}, 1)))
            AS BIGINT) AS pos,
       unnest(list_transform(range(1, greatest(len(toks) - {_DUP_WINDOW - 2}, 1)),
              i -> array_to_string(toks[i:i+{_DUP_WINDOW - 1}], ' '))) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
WHERE len(toks) >= {_DUP_WINDOW}
"""


def _dup_window_positions(m: Model):
    """Shared backbone of the span family: (base, d) where ``base`` is
    (doc_id, toks, n_tokens) for docs long enough to window, and ``d``
    is the (doc_id, pos) relation of positions whose window occurs
    >= 2 times anywhere in the corpus (the ExactSubstr criterion at
    window granularity; see docs_dup_spans for the plan discussion)."""
    W = _DUP_WINDOW
    toks = F.split(F.col("text"), " ")
    base = m.documents.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    ).where(F.col("n_tokens") >= W)
    p = (
        base.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {W}),"
                    f" i -> concat_ws(' ', slice(toks, i + 1, {W})))"
                )
            ).alias("pos0", "shingle"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "shingle")
    )
    # both the doc-frequency aggregate and the semi-join probe
    # consume p; without the checkpoint the corpus-wide posexplode
    # runs twice (ReuseExchange can't fire — one leg partial-aggs
    # before its exchange), the same guard ngram_jaccard_pairs
    # documents
    p = stage_persist(p)
    wf = (
        p.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("shingle")
    )
    d = p.join(_corpus_shj(wf, m), "shingle", "left_semi").select(
        "doc_id", "pos"
    )
    return base, d



@query(
    "docs_dup_spans",
    oracle=f"""
WITH p AS ({_SPAN_POSTS_SQL}),
wf AS (SELECT shingle FROM p GROUP BY shingle HAVING count(*) >= 2),
d AS (SELECT p.doc_id, p.pos FROM p JOIN wf USING (shingle)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_DUP_WINDOW - 1}
              THEN 0 ELSE 1 END AS brk
  FROM d
),
sp AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) + {_DUP_WINDOW} - min(pos) AS span_tokens
  FROM (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl) g
  GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
  FROM sp GROUP BY doc_id
),
top AS (
  SELECT doc_id, span_start, span_tokens FROM (
    SELECT doc_id, span_start, span_tokens,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY span_tokens DESC, span_start
           ) AS rn
    FROM sp) r WHERE rn = 1
),
base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
  WHERE len(string_split(text, ' ')) >= {_DUP_WINDOW}
)
SELECT base.doc_id,
       CAST(base.n_tokens AS BIGINT)              AS n_tokens,
       CAST(coalesce(agg.n_spans, 0) AS BIGINT)   AS n_dup_spans,
       CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(top.span_start AS BIGINT)             AS longest_span_start,
       CAST(coalesce(top.span_tokens, 0) AS BIGINT) AS longest_span_tokens,
       {fround_sql('coalesce(agg.dup_tokens, 0) * 1.0 / base.n_tokens', 6)}
                                                  AS dup_token_fraction
FROM base
LEFT JOIN agg ON base.doc_id = agg.doc_id
LEFT JOIN top ON base.doc_id = top.doc_id
""",
    views=[],
)
def docs_dup_spans(m: Model) -> DataFrame:
    """Exact duplicated-span extraction: per document the maximal
    token spans whose every {8}-word window appears verbatim >= 2
    times in the corpus — span count, total duplicated tokens, and the
    longest span's (start, length); ties on length break to the
    earliest start.  This is what a Lee-et-al.-style span remover cuts
    (the sibling ``docs_window_dedup`` only scores the fraction).

    Plan: ALL window positions explode in a map stage (position index
    kept — no per-doc distinct here, the position grain IS the
    signal); the duplicated-window relation is a count>=2 HAVING over
    one corpus-keyed aggregate, and re-associates to positions via a
    co-keyed shuffle-hash LEFT SEMI join (inherent to span recovery —
    the window key must come back to its positions; both sides are
    already reduced).  Span assembly is gap-and-island: a lag() break
    flag and a running sum group positions whose windows overlap in
    token space, all inside per-doc windows (bounded by doc length,
    never corpus-wide).  At 100 TB the duplicated-window relation is
    the persistable artifact — incremental ingest probes it instead
    of recomputing the corpus aggregate.  Reference criterion: Lee et
    al. 2022 §4 ExactSubstr (suffix-array granularity tightened to
    fixed windows so the result is certifiable against ANSI SQL)."""
    base, d = _dup_window_positions(m)
    W = _DUP_WINDOW
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wd) <= W - 1, 0).otherwise(1)
    isl = d.select("doc_id", "pos", brk.alias("brk")).select(
        "doc_id",
        "pos",
        F.sum("brk")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    sp = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + W - F.min("pos")).alias("span_tokens"),
    )
    agg = sp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    top = (
        sp.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("span_tokens"), F.asc("span_start")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "span_start", "span_tokens")
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.col("span_start").cast("bigint").alias("longest_span_start"),
            F.coalesce(F.col("span_tokens"), F.lit(0))
            .cast("bigint")
            .alias("longest_span_tokens"),
            fround(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) * 1.0 / F.col("n_tokens"), 6
            ).alias("dup_token_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Novelty curve — duplication over ingest time.  Curation reports track
# what fraction of newly ingested content is first-seen vs already in
# the corpus (the novelty-decay curve: as a crawl matures, marginal
# novelty falls and dedup bites harder).  Ingest order here is doc_id
# order bucketed into fixed-width batches; the signal is per-batch
# first-occurrence rate of the same 8-word windows docs_window_dedup
# counts.
# ---------------------------------------------------------------------------

_NOVELTY_BATCH = 50  # docs per ingest batch (doc_id order)


@query(
    "corpus_novelty_curve",
    oracle=f"""
WITH w AS ({_WINDOWS_SQL}),
bc AS (
  SELECT CAST(floor(doc_id / {_NOVELTY_BATCH}) AS BIGINT) AS batch,
         shingle, count(*) AS c
  FROM w GROUP BY 1, 2
),
fb AS (SELECT shingle, min(batch) AS fb FROM bc GROUP BY shingle),
nd AS (
  SELECT CAST(floor(doc_id / {_NOVELTY_BATCH}) AS BIGINT) AS batch,
         count(*) AS n_docs
  FROM documents WHERE len(string_split(text, ' ')) >= {_DUP_WINDOW}
  GROUP BY 1
)
SELECT bc.batch,
       CAST(max(nd.n_docs) AS BIGINT) AS n_docs,
       CAST(sum(bc.c) AS BIGINT)      AS n_windows,
       CAST(sum(CASE WHEN bc.batch = fb.fb THEN bc.c ELSE 0 END) AS BIGINT)
                                      AS n_novel,
       {fround_sql('sum(CASE WHEN bc.batch = fb.fb THEN bc.c ELSE 0 END) * 1.0 / sum(bc.c)', 6)}
                                      AS novelty_rate
FROM bc
JOIN fb USING (shingle)
JOIN nd ON nd.batch = bc.batch
GROUP BY bc.batch
""",
    views=[],
)
def corpus_novelty_curve(m: Model) -> DataFrame:
    """Novelty-decay curve: documents bucketed into ingest batches of
    {50} (doc_id order), and per batch the fraction of its distinct
    {8}-word windows seen for the FIRST time in that batch — the
    curve a crawl/curation pipeline watches to decide when marginal
    data stops paying for itself (novelty falls as the corpus
    saturates; a cliff marks a duplicated dump).

    Plan: the Arrow shingler feeds ONE (window, batch) pre-aggregate —
    the only corpus-shaped shuffle, keyed on the RAW window string with
    map-side partials (round-4 advice: keying on ``xxhash64(window)``
    silently merges colliding windows, and at the 100 TB posture this
    docstring claims — ~4B distinct windows — a 64-bit birthday
    collision is statistically expected, so the hash key would break
    the exact first-seen accounting AND the oracle certificate); the
    first-batch relation derives from THAT reduced relation (min per
    window), and the two meet in a co-keyed merge join before
    collapsing to batch grain (a handful of rows).  If shuffle WIDTH
    ever dominates, the scale knob is keying on (xxhash64(window),
    length(window)) and accepting a documented ~2^-80 per-pair merge
    tolerance — a deliberate trade, not a default.  At 100 TB the
    incremental form keeps the first-seen relation as a persisted
    index keyed by window and each new batch probes it instead of
    recomputing history."""
    B = _NOVELTY_BATCH
    batch = F.floor(F.col("doc_id") / B).cast("bigint")
    posts = _shingles_with_size(m, width=_DUP_WINDOW).select(
        batch.alias("batch"), F.col("shingle").alias("wh")
    )
    bc = stage_persist(
        posts.groupBy("wh", "batch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fb = bc.groupBy("wh").agg(F.min("batch").alias("fb"))
    nd = (
        m.documents.where(
            F.size(F.split(F.col("text"), " ")) >= _DUP_WINDOW
        )
        .groupBy(batch.alias("batch"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    novel = F.sum(F.when(F.col("batch") == F.col("fb"), F.col("c")).otherwise(0))
    # MERGE hint, deliberately: fb is corpus-proportional (one row per
    # distinct window hash) so it must never broadcast — and a forced
    # shuffle-hash build is unspillable (observed failing with "can't
    # acquire 4 MB for hash relation" in a memory-tight session at 10x
    # scale; an AQE misestimate then tried to broadcast fb and OOMed
    # the driver).  Sort-merge spills gracefully and both sides are
    # already reduced aggregates co-keyed on wh.
    return (
        bc.join(fb.hint("merge"), "wh")
        .groupBy("batch")
        .agg(
            F.sum("c").cast("bigint").alias("n_windows"),
            novel.cast("bigint").alias("n_novel"),
            fround(novel * 1.0 / F.sum("c"), 6).alias("novelty_rate"),
        )
        .join(F.broadcast(nd), "batch")
        .select(
            "batch",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "n_windows",
            "n_novel",
            "novelty_rate",
        )
    )


# ---------------------------------------------------------------------------
# Per-source novelty curves — the corpus novelty curve broken down by
# ingest source: the crawl-ops view a curation team actually watches
# (which feed has stopped contributing new content, which dump is a
# re-crawl).  Novelty stays GLOBAL (a window is novel only in the
# corpus-wide batch of its first appearance), so a source re-ingesting
# another source's content correctly scores near zero.
# ---------------------------------------------------------------------------


@query(
    "novelty_by_source",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id, source, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - {_DUP_WINDOW - 2}, 1)),
                          i -> array_to_string(toks[i:i+{_DUP_WINDOW - 1}], ' '))
         )) AS shingle
  FROM t WHERE len(toks) >= {_DUP_WINDOW}
),
bc AS (
  SELECT source, CAST(floor(doc_id / {_NOVELTY_BATCH}) AS BIGINT) AS batch,
         shingle, count(*) AS c
  FROM w GROUP BY 1, 2, 3
),
fb AS (SELECT shingle, min(batch) AS fb FROM bc GROUP BY shingle),
nd AS (
  SELECT source, CAST(floor(doc_id / {_NOVELTY_BATCH}) AS BIGINT) AS batch,
         count(*) AS n_docs
  FROM t WHERE len(toks) >= {_DUP_WINDOW}
  GROUP BY 1, 2
)
SELECT bc.source, bc.batch,
       CAST(max(nd.n_docs) AS BIGINT) AS n_docs,
       CAST(sum(bc.c) AS BIGINT)      AS n_windows,
       CAST(sum(CASE WHEN bc.batch = fb.fb THEN bc.c ELSE 0 END) AS BIGINT)
                                      AS n_novel,
       {fround_sql('sum(CASE WHEN bc.batch = fb.fb THEN bc.c ELSE 0 END) * 1.0 / sum(bc.c)', 6)}
                                      AS novelty_rate
FROM bc
JOIN fb USING (shingle)
JOIN nd ON nd.source = bc.source AND nd.batch = bc.batch
GROUP BY bc.source, bc.batch
""",
    views=[],
)
def novelty_by_source(m: Model) -> DataFrame:
    """Per-source novelty-decay curves: for every (source, ingest
    batch), the fraction of its distinct {8}-word windows that are
    seen for the first time in the WHOLE corpus at that batch.  A
    healthy fresh feed stays high; a source re-publishing existing
    content (or a duplicated dump) drops toward zero — the per-feed
    signal the mixture planner (``corpus_mixture_weights``) weighs
    when deciding which feed still pays for its ingest.

    Plan mirrors ``corpus_novelty_curve`` with a source dimension:
    windows explode in a map stage (per-doc distinct inside the array
    builder, source rides along — no doc->source join), ONE corpus-
    shaped (source, batch, window) pre-aggregate, the global
    first-batch relation derived from THAT reduced relation, a merge
    join on the window key (fb is corpus-proportional — never
    broadcast, never an unspillable hash build), and a broadcast
    join against the (source, batch)-grain doc counts."""
    W, B = _DUP_WINDOW, _NOVELTY_BATCH
    toks = F.split(F.col("text"), " ")
    base = m.documents.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        F.floor(F.col("doc_id") / B).cast("bigint").alias("batch"),
    ).where(F.size("toks") >= W)
    # The window key leaves the scan as md5(shingle), not the ~50-byte
    # string: nothing downstream reads the text (only equality + the
    # min-batch join), so the corpus-shaped shuffle, the checkpoint
    # blocks, and the merge-join keys all shrink ~3x.  A 128-bit
    # collision would be needed to miscount — not a realistic event at
    # any corpus size (2^64 windows for a birthday collision).
    posts = base.select(
        "source",
        "batch",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, size(toks) - {W}),"
                f" i -> md5(concat_ws(' ', slice(toks, i + 1, {W})))))"
            )
        ).alias("shingle"),
    )
    # bc feeds BOTH the first-batch derivation and the merge join, on
    # DIFFERENT keys — without materialization the explode+aggregate
    # runs twice (ReuseExchange can't fire across key sets; measured
    # 2.2 s -> 1.9 s warm, 5.9 -> 2.9 cold with the checkpoint)
    bc = stage_persist(posts.groupBy("source", "batch", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    ))
    fb = bc.groupBy("shingle").agg(F.min("batch").alias("fb"))
    nd = base.groupBy("source", "batch").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    novel = F.sum(
        F.when(F.col("batch") == F.col("fb"), F.col("c")).otherwise(0)
    )
    return (
        bc.join(fb.hint("merge"), "shingle")
        .groupBy("source", "batch")
        .agg(
            F.sum("c").cast("bigint").alias("n_windows"),
            novel.cast("bigint").alias("n_novel"),
            fround(novel * 1.0 / F.sum("c"), 6).alias("novelty_rate"),
        )
        .join(F.broadcast(nd), ["source", "batch"])
        .select(
            "source",
            "batch",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "n_windows",
            "n_novel",
            "novelty_rate",
        )
    )


# ---------------------------------------------------------------------------
# Span REMOVAL — the consumer of docs_dup_spans: emit each document's
# text with its duplicated spans excised (Lee et al. 2022 apply this
# cut before training; combined with canonical selection it keeps one
# surviving copy corpus-wide — that composition is
# docs_dedup_canonical's job, this operator performs the cut).
# ---------------------------------------------------------------------------


@query(
    "docs_span_removed",
    oracle=f"""
WITH p AS ({_SPAN_POSTS_SQL}),
wf AS (SELECT shingle FROM p GROUP BY shingle HAVING count(*) >= 2),
d AS (SELECT p.doc_id, p.pos FROM p JOIN wf USING (shingle)),
cov AS (
  SELECT DISTINCT doc_id, pos + r.i AS t
  FROM d CROSS JOIN range({_DUP_WINDOW}) r(i)
),
tt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id,
         CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS t,
         unnest(toks) AS w
  FROM tt
),
kept AS (
  SELECT tok.doc_id, tok.t, tok.w
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.t = cov.t
  WHERE cov.t IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(w, ' ' ORDER BY t) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT tt.doc_id,
       CAST(len(tt.toks) AS BIGINT)                          AS n_tokens,
       CAST(len(tt.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(agg.cleaned_text, '')                         AS cleaned_text,
       {fround_sql('(len(tt.toks) - coalesce(agg.n_kept, 0)) * 1.0 / len(tt.toks)', 6)}
                                                              AS removed_fraction
FROM tt LEFT JOIN agg ON tt.doc_id = agg.doc_id
""",
    views=[],
)
def docs_span_removed(m: Model) -> DataFrame:
    """Span-level dedup REWRITE: every document's text with its
    verbatim-duplicated token spans removed (tokens covered by any
    corpus-duplicated {8}-word window), plus the removal accounting —
    the actual Lee-et-al. cut, downstream of the ``docs_dup_spans``
    diagnostic.  Short docs (< {8} tokens) pass through unchanged.

    Plan: the duplicated-position backbone is shared with
    docs_dup_spans (one corpus aggregate + one co-keyed semi join);
    duplicated START positions aggregate into one per-doc array (the
    only shuffle this consumer adds — rows are (doc, small int set),
    never exploded tokens), and the cut itself is a single
    whole-stage-codegen higher-order filter: token index i survives
    iff no duplicated start p covers it (p <= i+1 <= p+{8}-1).  Per
    token that's an O(|starts|) scan of a doc-bounded array — no
    corpus-token explode, no (doc, index) anti-join, no
    collect_list reassembly.  Emitting rewritten text keeps this a
    pure relational rewrite — at 100 TB the output IS the next
    pipeline stage's input table, and the per-doc cut is scan-stage
    work that scales with the mapper count."""
    W = _DUP_WINDOW
    _, d = _dup_window_positions(m)  # all_docs below must cover short docs too
    dpos = d.groupBy("doc_id").agg(F.collect_set("pos").alias("dpos"))
    all_docs = m.documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    dp = F.coalesce(F.col("dpos"), F.expr("array()"))
    kept = F.filter(
        "toks",
        lambda w, i: ~F.exists(
            dp, lambda p: (p <= i + 1) & (i + 1 <= p + F.lit(W - 1))
        ),
    )
    n_tokens = F.size("toks").cast("bigint")
    n_removed = (F.size("toks") - F.size(kept)).cast("bigint")
    # the cut projection costs O(tokens x |starts|) per doc (~20B cheap
    # JVM comparisons at the 100x fixture); spread it across slots
    # instead of the bench's 4 post-shuffle partitions (no-op once the
    # input split count exceeds the byte-sized target, i.e. at scale)
    from ..functions.partitioning import spread_if_undersplit

    joined = spread_if_undersplit(
        all_docs.join(_corpus_shj(dpos, m), "doc_id", "left"), "doc_id"
    )
    return (
        joined
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            n_removed.alias("n_removed"),
            F.concat_ws(" ", kept).alias("cleaned_text"),
            fround(n_removed * 1.0 / n_tokens, 6).alias("removed_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the near-duplicate graph — which documents sit at the
# CENTER of duplication clusters (high-rank nodes are the template /
# boilerplate sources worth human review; the complement of the
# survivor-selection view).  Fixed damping, fixed iteration count,
# exact-decimal contribution sums — so the DuckDB oracle replays the
# identical trajectory (the k-means chained-CTE discipline).
# ---------------------------------------------------------------------------

_PR_D = 0.85      # damping (interpolated into BOTH engines below)
#: teleport term, kept as its OWN literal: computing 1.0 - _PR_D in
#: IEEE gives 0.15000000000000002, a different double than the 0.15
#: both oracles were certified with
_PR_BASE = 0.15
_PR_ITERS = 3     # fixed power iterations


def _pr_oracle() -> str:
    it = f""",
r{{k}} AS (
  SELECT d.s AS v,
         {_PR_BASE!r} / n.n + {_PR_D!r} * CAST(coalesce(x.sm, 0) AS DOUBLE) AS r
  FROM deg d CROSS JOIN n
  LEFT JOIN (
    SELECT e.t AS v,
           sum(CAST(p.r / dd.deg AS DECIMAL(28,12))) AS sm
    FROM e
    JOIN r{{p}} p ON p.v = e.s
    JOIN deg dd ON dd.s = e.s
    GROUP BY e.t
  ) x ON x.v = d.s
)"""
    parts = [f"""
WITH jp AS ({_JACCARD_PAIRS_SQL}),
e AS (
  SELECT doc_a AS s, doc_b AS t FROM jp
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM jp
),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT s AS v, 1.0 / n.n AS r FROM deg CROSS JOIN n)"""]
    for k in range(1, _PR_ITERS + 1):
        parts.append(it.format(k=k, p=k - 1))
    parts.append(f"""
SELECT deg.s AS doc_id, deg.deg AS degree,
       {fround_sql('r.r', 6)} AS pagerank
FROM deg JOIN r{_PR_ITERS} r ON r.v = deg.s
""")
    return "".join(parts)


@query("neardup_pagerank", oracle=_pr_oracle(), views=[])
def neardup_pagerank(m: Model) -> DataFrame:
    """PageRank ({3} fixed power iterations, d = {0.85}) over the
    undirected word-{5}-gram Jaccard near-dup graph: high-rank docs
    are the hubs of duplication clusters — the template/boilerplate
    sources a curation review inspects first (the complementary view
    to ``docs_neardup_survivors``).

    Plan: the pair relation computes ONCE (lazy localCheckpoint — it
    feeds all {3} iterations); each iteration is one co-keyed
    contribution join + aggregate, with every per-edge contribution
    quantized DECIMAL(28,12) so the sums are order-independent and
    the oracle's chained CTEs replay the trajectory bit-for-bit.  No
    driver sync anywhere — the {3} iterations are a single nested
    declarative plan (contrast: Lloyd's k-means needs its per-round
    collects because the next centroids must broadcast; PageRank's
    next state is a RELATION, so the loop stays in the engine)."""
    jp = ngram_jaccard_pairs(m).select("doc_a", "doc_b").localCheckpoint(
        eager=False
    )
    e = jp.union(
        jp.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    r = (
        deg.crossJoin(F.broadcast(n))
        .select(F.col("s").alias("v"), (F.lit(1.0) / F.col("n")).alias("r"))
    )
    from decimal import Decimal

    for _ in range(_PR_ITERS):
        contrib = (
            e.join(r, e["s"] == r["v"])
            .join(deg.select(F.col("s").alias("ds"), "deg"), F.col("s") == F.col("ds"))
            .select(
                F.col("t").alias("v"),
                (F.col("r") / F.col("deg")).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("sm"))
        )
        r = (
            deg.crossJoin(F.broadcast(n))
            .join(contrib, deg["s"] == contrib["v"], "left")
            .select(
                F.col("s").alias("v"),
                (
                    F.lit(_PR_BASE) / F.col("n")
                    + F.lit(_PR_D)
                    * F.coalesce(
                        F.col("sm"), F.lit(Decimal(0)).cast("decimal(28,12)")
                    ).cast("double")
                ).alias("r"),
            )
        )
    return deg.join(r, deg["s"] == r["v"]).select(
        F.col("s").alias("doc_id"),
        F.col("deg").alias("degree"),
        fround(F.col("r"), 6).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Streaming signature ingest (round 7): the dedup-side exactly-once
# loop, completing the ingest triad (inverted index, ANN index,
# signature store).  Arriving documents' MinHash signatures land in the
# persisted store per batch; banding/pairing over the streamed store is
# bit-identical to the direct minhash_band_pairs.
# ---------------------------------------------------------------------------


def signature_ingest_batch(
    batch_docs: DataFrame, store_dir: str, batch_id: int
) -> None:
    """One replay-idempotent signature-store ingest cycle: the batch's
    (doc_id, sig) rows overwrite ONLY their own ``batch_id=N``
    partition via dynamic partition overwrite — the same exactly-once
    contract (and recovery note) as ``search.index_ingest_batch``.
    The signer is the expensive pass and runs once per arriving doc,
    ever; pairing reads the store."""
    (
        _signatures_for(batch_docs.select("doc_id", "text"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_dir)
    )


def _stream_signature_store(m: Model) -> DataFrame:
    """Drain the documents fixture through the exactly-once signature
    ingest once per documents view and memoize the store's
    (doc_id, sig) read handle.  The build first checks that the view is
    the on-disk fixture the stream reads."""
    from ..catalog import assert_view_matches_fixture
    from ..functions import workdir
    from ..functions.memo import model_cached
    from ..streaming.jobs import documents_stream, drain_batches

    def fill(out: str) -> None:
        drain_batches(
            documents_stream(m.spark, m.sf_dir).select("doc_id", "text"),
            lambda df, batch_id: signature_ingest_batch(df, out, batch_id),
        )

    def build() -> DataFrame:
        assert_view_matches_fixture(m, "documents")
        store = workdir.built(m.spark, "sig_stream_store_", fill)
        return m.spark.read.parquet(store).select("doc_id", "sig")

    return model_cached(m, "sig_stream_store", build)


from ..registry import QUERIES as _Q  # noqa: E402 — reuse the direct oracle


def minhash_stream_served(m: Model) -> DataFrame:
    """LSH candidate pairs served from a signature store built by the
    EXACTLY-ONCE streaming ingest — the continuous-crawl dedup loop
    certified end-to-end: documents arrive as a stream, each batch's
    MinHash signatures land idempotently in the partitioned store, and
    banding/pairing over the store is bit-identical to
    ``minhash_band_pairs`` (same oracle).  At 100 TB the signer never
    re-touches old documents — this query certifies that the STORE
    itself reproduces the direct pair relation."""
    return pairs_from_signatures(_stream_signature_store(m))


query(
    "minhash_stream_served",
    oracle=_Q["minhash_band_pairs"].oracle,  # already view-composed
    views=[],
)(minhash_stream_served)
