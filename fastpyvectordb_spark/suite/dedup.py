"""Deduplication suite queries.

The driver corpus has no natural duplicates (500 distinct texts), so
the dedup queries run over a *constructed* corpus derived
deterministically from ``documents``:

- exact-dup corpus: documents ∪ identical copies at doc_id+1000000
- near-dup corpus:  documents ∪ copies truncated to the first 60% of
  characters (high-but-<1 Jaccard against their originals)

Both engines build the same corpus in-query, so the oracle verifies
the full pipeline (shingle → minhash → LSH bucket join → Jaccard
verify) end to end with non-trivial results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpyvectordb_spark.functions.distances import duckdb_distance
from fastpyvectordb_spark.operators import dedup as D
from fastpyvectordb_spark.suite import register
from fastpyvectordb_spark.tables import load_table

COPY_OFFSET = 1000000
N_HASHES = 12
N_BANDS = 4
MIN_JACCARD = 0.5


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), F.col("text")
    )
    return docs.unionByName(copies)


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        # explicit floor: Spark's double→int cast truncates but DuckDB's
        # rounds, so the oracle twin must floor too
        F.substring(
            F.col("text"), 1, F.floor(F.length("text") * 0.6).cast("int")
        ).alias("text"),
    )
    return docs.unionByName(copies)


_EXACT_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET}, text FROM documents
)"""

_NEAR_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET},
         substring(text, 1, CAST(floor(length(text) * 0.6) AS INT)) FROM documents
)"""


@register(
    "dedup_exact",
    f"""
WITH {_EXACT_CORPUS_SQL.lstrip()}
SELECT MIN(doc_id) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       array_to_string(list_sort(list(doc_id)), ',') AS member_ids
FROM corpus
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY canonical_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _exact_corpus(spark, sf_dir)
    dups = D.exact_duplicates(corpus)
    return dups.select(
        "canonical_id",
        "n_copies",
        F.array_join(
            F.transform(F.col("member_ids"), lambda x: x.cast("string")), ","
        ).alias("member_ids"),
    ).orderBy("canonical_id")


# universal-hash family h_i = (a_i*(sh % P) + b_i) % P — same
# MINHASH_AB constants as operators/dedup.py minhash_signatures
_MINHASH_MINS = ",\n         ".join(
    f"MIN((({a} * (sh % {D.P31}) + {b}) % {D.P31})) AS m{i}"
    for i, (a, b) in enumerate(D.MINHASH_AB[:N_HASHES])
)
_ROWS_PER_BAND = N_HASHES // N_BANDS
_BAND_KEYS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band, md5(m{b * _ROWS_PER_BAND}::VARCHAR || ',' || "
    f"m{b * _ROWS_PER_BAND + 1}::VARCHAR || ',' || m{b * _ROWS_PER_BAND + 2}::VARCHAR) AS bkey FROM sigs"
    for b in range(N_BANDS)
)

_MINHASH_ORACLE = f"""
WITH {_NEAR_CORPUS_SQL.lstrip()},
{D.duckdb_shingles_cte("corpus").lstrip()},
sigs AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BAND_KEYS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.sh2 = b.sh2 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.id_a, c.id_b,
         ROUND(c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE), 6) AS jaccard
  FROM common c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE) >= {MIN_JACCARD}
)
SELECT v.id_a AS id_a, v.id_b AS id_b, v.jaccard AS jaccard
FROM verified v JOIN cands USING (id_a, id_b)
ORDER BY id_a, id_b
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_corpus(spark, sf_dir)
    return D.minhash_lsh_duplicates(
        corpus, n_hashes=N_HASHES, n_bands=N_BANDS, min_jaccard=MIN_JACCARD
    ).orderBy("id_a", "id_b")


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {_NEAR_CORPUS_SQL.lstrip()},
{D.duckdb_shingles_cte("corpus").lstrip()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.sh2 = b.sh2 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       ROUND(c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE) >= 0.3
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin prefix filtering
    (scale-safe: hot shingles never enter the prefix self-join). Oracle
    is the full inverted-index join — identical output by the prefix
    lemma."""
    corpus = _near_corpus(spark, sf_dir)
    sh = D.shingles(corpus)
    return D.jaccard_pairs_prefix(sh, min_jaccard=0.3).orderBy("id_a", "id_b")


# simhash oracle: brute-force pair compare (equivalent to the pigeonhole
# candidate join — the chunking is lossless under the hamming bound)
_SIMHASH_SUMS = ",\n         ".join(
    f"SUM((((h >> {b}) & 1) * 2 - 1)) AS s{b}" for b in range(32)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(32)
)

_SIMHASH_ORACLE = f"""
WITH {_NEAR_CORPUS_SQL.lstrip()},
_toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'), t -> t <> '')) AS tok
  FROM corpus
),
hashed AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM _toks
),
sums AS (
  SELECT doc_id, {_SIMHASH_SUMS}
  FROM hashed GROUP BY doc_id
),
fps AS (SELECT doc_id, {_SIMHASH_FP} AS simhash FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY id_a, id_b
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_corpus(spark, sf_dir)
    fps = D.simhash(corpus, n_bits=32)
    return D.simhash_near_pairs(fps, max_hamming=2, n_bits=32).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_embedding_topk",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({duckdb_distance("a.embedding", "b.embedding", "cosine").replace("1.0 - ", "", 1)}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, id_a, id_b
LIMIT 10
""",
)
def dedup_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine pairs via cluster-bound pruning (equi-join
    plan, no theta self-join on the corpus); oracle is the brute-force
    SQL twin — identical output by the angular-bound argument.
    mode="exact" opts out of the regime router: this query's CONTRACT
    is the exact result (the routed default delegates to the banded
    LSH path on weakly-clustered corpora like this one — benched
    separately as q_dedup_embedding_topk_routed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_neardup_topk(emb, k=10, centroids="seed", mode="exact")


# Connected components over near-dup pairs: cluster_id = min member.
# Oracle: recursive transitive closure of min-reachable-id (UNION
# dedups rows, so the recursion terminates at the fixpoint).
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_NEAR_CORPUS_SQL.lstrip()},
{D.duckdb_shingles_cte("corpus").lstrip()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.sh2 = b.sh2 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM common c
  JOIN sizes sa ON c.id_a = sa.doc_id
  JOIN sizes sb ON c.id_b = sb.doc_id
  WHERE c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE) >= 0.3
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
)
SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
ORDER BY doc_id
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via iterative min-label propagation (Spark)
    vs recursive transitive closure (oracle). The retention decision a
    real pipeline makes: one canonical doc per component."""
    corpus = _near_corpus(spark, sf_dir)
    sh = D.shingles(corpus)
    pairs = D.jaccard_pairs_prefix(sh, min_jaccard=0.3)
    return D.duplicate_clusters(pairs).orderBy("doc_id")


@register(
    "dedup_decontaminate",
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{D.duckdb_shingles_cte("corpus", n=5).lstrip()},
bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 37 = 0)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_ngrams
FROM shingles s JOIN bench b ON s.sh = b.sh
GROUP BY s.doc_id
HAVING COUNT(*) >= 3
ORDER BY doc_id
""",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (GPT-3 App. C shape): docs sharing ≥3
    distinct 5-grams with the 'benchmark' slice (doc_id % 37 == 0).
    Benchmark n-gram set broadcasts; the join is on 8-byte hashes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return (
        D.decontaminate(docs, bench, n=5, min_overlap=3)
        .select(
            "doc_id", F.col("overlap_ngrams").cast("long").alias("overlap_ngrams")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Substring-span duplication (Lee et al. 2021 signal at word-5-gram
# granularity) — runs on the RAW documents table: the driver corpus
# draws from a small vocabulary, so ~9% of gram positions repeat
# across documents naturally and ~10% of docs cross the 0.2 threshold.
# ---------------------------------------------------------------------------

SPAN_N = 5
SPAN_THRESHOLD = 0.2

_SPAN_ORACLE = f"""
WITH {D.duckdb_substring_span_cte("documents", SPAN_N).lstrip()}
SELECT doc_id, n_grams, dup_grams, dup_frac
FROM span_stats
WHERE dup_frac >= {SPAN_THRESHOLD}
ORDER BY dup_frac DESC, doc_id
"""


@register("dedup_substring_spans", _SPAN_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents whose duplicated-span fraction crosses the removal
    threshold (span-level dedup candidate list)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = D.substring_span_stats(docs, n=SPAN_N)
    return stats.filter(F.col("dup_frac") >= SPAN_THRESHOLD).orderBy(
        F.desc("dup_frac"), "doc_id"
    )


# ---------------------------------------------------------------------------
# Embedding clustering (mixture-control bucketing): deterministic
# nearest-centroid assignment with centroids = the 8 lowest vec_ids,
# profiled as (size, integer-micros within-cluster distance).  The
# ann.kmeans trainer trains centroids; this oracle-checks the
# nearest-centroid assignment (= the IVF list-assignment step).
# ---------------------------------------------------------------------------

from fastpyvectordb_spark.operators import clustering as C

N_CENTROIDS = 8

_CLUSTER_ORACLE = f"""
WITH {C.duckdb_assign_cte(
    "embeddings",
    f"SELECT vec_id AS centroid_id, embedding AS centroid_vec FROM embeddings WHERE vec_id < {N_CENTROIDS}",
    lambda a, b: duckdb_distance(a, b, "cosine"),
).lstrip()}
SELECT centroid_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_dist_micros
FROM assigned
GROUP BY centroid_id
ORDER BY centroid_id
"""


@register("cluster_centroid_profile", _CLUSTER_ORACLE)
def cluster_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = C.assign_to_centroids(emb, cents, metric="cosine")
    return C.cluster_profile(assigned)


# ---------------------------------------------------------------------------
# LSH-threshold embedding dedup (round 4, SemDeDup-shaped): corpus =
# embeddings ∪ perturbed copies (x → x·0.98 + 0.01 — float math
# identical in both engines), hyperplanes = the 16 lowest-id vectors
# (data-derived, so the banding is reproducible in SQL), candidates
# share a full 4-bit sign band, verification = exact cosine ≥ 0.9 on
# candidates only. The oracle replicates the banding, so like
# dedup_minhash_lsh the WHOLE pipeline is hash-checked end to end.
# ---------------------------------------------------------------------------

N_PLANES = 16
ROWS_PER_BAND = 4
MIN_COS = 0.9

_EMB_CORPUS_SQL = f"""
ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {COPY_OFFSET},
         list_transform(embedding, x -> x * 0.98 + 0.01)
  FROM embeddings
)"""

from fastpyvectordb_spark.functions.distances import duckdb_dot

_LSH_THRESHOLD_ORACLE = f"""
WITH {_EMB_CORPUS_SQL.lstrip()},
planes AS (
  SELECT vec_id AS plane_id, embedding AS plane_vec
  FROM embeddings WHERE vec_id < {N_PLANES}
),
signs AS (
  SELECT c.vec_id AS doc_id,
         (p.plane_id // {ROWS_PER_BAND}) AS band,
         (p.plane_id % {ROWS_PER_BAND}) AS bit,
         (ROUND({duckdb_dot('c.embedding', 'p.plane_vec')}, 4) >= 0) AS pos
  FROM ecorpus c CROSS JOIN planes p
),
keys AS (
  SELECT doc_id, band,
         SUM(CASE WHEN pos THEN (1 << bit) ELSE 0 END) AS bkey
  FROM signs GROUP BY doc_id, band
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       ROUND({duckdb_distance("va.embedding", "vb.embedding", "cosine").replace("1.0 - ", "", 1)}, 4) AS cos_sim
FROM cands c
JOIN ecorpus va ON va.vec_id = c.id_a
JOIN ecorpus vb ON vb.vec_id = c.id_b
WHERE ROUND({duckdb_distance("va.embedding", "vb.embedding", "cosine").replace("1.0 - ", "", 1)}, 4) >= {MIN_COS}
ORDER BY id_a, id_b
"""


@register("dedup_embedding_lsh_threshold", _LSH_THRESHOLD_ORACLE)
def dedup_embedding_lsh_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + COPY_OFFSET).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.98 + 0.01).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(pert)
    planes = emb.filter(F.col("vec_id") < N_PLANES).select(
        F.col("vec_id").alias("plane_id"),
        F.col("embedding").alias("plane_vec"),
    )
    # round-4 digits (not the suite's usual 6): the perturbed corpus
    # concentrates cosines near 0.997, so a 6-digit round of a sum the
    # engines can disagree on by 1 ulp actually HITS a half-boundary at
    # this scale (observed: 0.9966665). 4 digits keeps boundary-hit
    # probability negligible at any sf.
    return D.embedding_lsh_threshold_pairs(
        corpus, planes, min_cos=MIN_COS, rows_per_band=ROWS_PER_BAND,
        round_digits=4,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Line-level exact dedup + reconstruction (C4/RefinedWeb stage): over
# the exact-dup corpus, every copy's segments are already seen at the
# original's lower doc_id, so copies reconstruct to EMPTY — plus any
# naturally repeated 5-word windows dedup across originals.
# ---------------------------------------------------------------------------

WORDS_PER_LINE = 5

_LINE_DEDUP_ORACLE = f"""
WITH {_EXACT_CORPUS_SQL.lstrip()},
_ltoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS t
  FROM corpus
),
_lsegs AS (
  SELECT doc_id, s['pos'] AS pos, s['seg'] AS seg
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, CAST((len(t) + {WORDS_PER_LINE - 1}) // {WORDS_PER_LINE} AS BIGINT)),
             i -> struct_pack(pos := i,
                  seg := array_to_string(list_slice(t, i * {WORDS_PER_LINE} + 1, i * {WORDS_PER_LINE} + {WORDS_PER_LINE}), ' ')))) AS s
    FROM _ltoks
  )
),
_ltotals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total FROM _lsegs GROUP BY doc_id
),
_lfirst AS (
  SELECT doc_id, pos, seg
  FROM _lsegs
  QUALIFY row_number() OVER (
    PARTITION BY {D._duckdb_hash64("seg")} ORDER BY doc_id, pos) = 1
),
_lrebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS text_out
  FROM _lfirst GROUP BY doc_id
)
SELECT c.doc_id AS doc_id,
       COALESCE(t.n_total, 0) AS n_total,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.text_out, '') AS text_out
FROM corpus c
LEFT JOIN _ltotals t ON c.doc_id = t.doc_id
LEFT JOIN _lrebuilt r ON c.doc_id = r.doc_id
ORDER BY doc_id
"""


@register("dedup_lines_reconstruct", _LINE_DEDUP_ORACLE)
def dedup_lines_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _exact_corpus(spark, sf_dir)
    return D.line_dedup_reconstruct(
        corpus, words_per_line=WORDS_PER_LINE
    ).orderBy("doc_id")


# Incremental-ingest dedup (round 6): the "new batch vs existing
# corpus" boundary check a pipeline runs per ingest. Batch = the 60%
# truncations at doc_id+OFFSET; corpus = the original documents.
# Candidates and results cross the boundary ONLY (a within-batch or
# corpus-internal near-pair must NOT appear).
_INC_ALL_SQL = f"""
allin AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET},
         substring(text, 1, CAST(floor(length(text) * 0.6) AS INT)) FROM documents
)"""

_INC_ORACLE = f"""
WITH {_INC_ALL_SQL.lstrip()},
{D.duckdb_shingles_cte("allin").lstrip()},
sigs AS (
  SELECT doc_id, {_MINHASH_MINS}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BAND_KEYS}
),
cands AS (
  SELECT DISTINCT nw.doc_id AS new_id, co.doc_id AS corpus_id
  FROM bands nw JOIN bands co
    ON nw.band = co.band AND nw.bkey = co.bkey
  WHERE nw.doc_id >= {COPY_OFFSET} AND co.doc_id < {COPY_OFFSET}
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT nw.doc_id AS new_id, co.doc_id AS corpus_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shingles nw JOIN shingles co
    ON nw.sh = co.sh AND nw.sh2 = co.sh2
  WHERE nw.doc_id >= {COPY_OFFSET} AND co.doc_id < {COPY_OFFSET}
  GROUP BY 1, 2
),
verified AS (
  SELECT c.new_id, c.corpus_id,
         ROUND(c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE), 6) AS jaccard
  FROM common c
  JOIN sizes sa ON c.new_id = sa.doc_id
  JOIN sizes sb ON c.corpus_id = sb.doc_id
  WHERE c.n_common / CAST(sa.sz + sb.sz - c.n_common AS DOUBLE) >= {MIN_JACCARD}
)
SELECT v.new_id AS new_id, v.corpus_id AS corpus_id, v.jaccard AS jaccard
FROM verified v JOIN cands USING (new_id, corpus_id)
ORDER BY new_id, corpus_id
"""


@register("dedup_incremental_lsh", _INC_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.floor(F.length("text") * 0.6).cast("int")
        ).alias("text"),
    )
    return D.lsh_incremental_duplicates(
        batch, docs, n_hashes=N_HASHES, n_bands=N_BANDS,
        min_jaccard=MIN_JACCARD,
    ).orderBy("new_id", "corpus_id")
