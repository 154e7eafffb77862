"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own surface (BASELINE.json north-star): exact
dedup, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — every stage expressed as DataFrame ops that scale:

- shingling/hashing are codegen expressions (portable md5-based hashes
  so the DuckDB oracle reproduces them bit-for-bit)
- MinHash-LSH candidate generation is a band-bucket *equi-join* — the
  only shuffle is on band keys, never an O(N²) cross join
- verification (exact Jaccard / cosine) happens only on candidate
  pairs

Hash portability: Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x' || substring(md5(x),1,15))::BIGINT`` — a 60-bit
non-negative integer identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastpyvectordb_spark.functions.text import tokenize

HASH_HEX_WIDTH = 15  # 60 bits


def _hash64(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_WIDTH), 16, 10).cast("long")


def _duckdb_hash64(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, {HASH_HEX_WIDTH}))::BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-text duplicate groups: (canonical_id, n_copies, member_ids
    sorted). Hash-groupBy — one shuffle keyed by text hash."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), _hash64(F.col(text_col)).alias("h")
        )
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.array_sort(F.collect_list("doc_id")).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_id", "n_copies", "member_ids")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

MASK60 = (1 << 60) - 1  # 1152921504606846975
P31 = (1 << 31) - 1  # Mersenne prime 2147483647 — minhash modulus

# Fixed random multipliers/offsets for the minhash family
# h_i(x) = (a_i·x + b_i) mod P31 over x = sh mod P31. a_i·x < 2^62 so
# the arithmetic is overflow-safe int64 in both Spark and DuckDB.
# (A naive "(sh + i·sh2) mod 2^60" family does NOT work: the i-term is
# a negligible perturbation of the 60-bit sh ordering, so every h_i
# ranks shingles identically and the signature collapses to 12 copies
# of min(sh) — zero LSH recall on near-dups.)
import random as _random

_rng = _random.Random(42)
MINHASH_AB = [
    (_rng.randrange(1, P31), _rng.randrange(0, P31)) for _ in range(64)
]


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct word n-gram shingles per doc, pre-hashed →
    (doc_id, sh BIGINT, sh2 BIGINT).

    The shingle *string* never leaves the projection that builds it:
    one md5 per shingle yields a 60-bit primary hash (hex chars 1-15)
    and a 40-bit secondary (chars 16-25), and everything downstream —
    distinct, minhash, Jaccard joins — shuffles 8-byte longs instead of
    ~20-char strings. At 100 TB that's the difference between shuffling
    the corpus and shuffling a fingerprint of it."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
                ),
            ).otherwise(F.array(F.array_join(F.col("t"), " "))),
        ).alias("shingle"),
    )
    hashed = grams.select("doc_id", F.md5("shingle").alias("m"))
    return hashed.select(
        "doc_id",
        F.conv(F.substring("m", 1, HASH_HEX_WIDTH), 16, 10)
        .cast("long")
        .alias("sh"),
        F.conv(F.substring("m", 16, 10), 16, 10).cast("long").alias("sh2"),
    ).distinct()


def duckdb_shingles_cte(table: str, n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    """CTE ``shingles(doc_id, sh, sh2)`` — identical shingling in DuckDB."""
    return f"""
_toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9_]+'), t -> t <> '') AS t
  FROM {table}
),
_grams AS (
  SELECT doc_id, md5(
           CASE WHEN len(t) >= {n}
                THEN unnest(list_transform(range(1, len(t) - {n - 1} + 1),
                       i -> array_to_string(list_slice(t, i, i + {n - 1}), ' ')))
                ELSE array_to_string(t, ' ')
           END) AS m
  FROM _toks
),
shingles AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(m, 1, {HASH_HEX_WIDTH}))::BIGINT AS sh,
         ('0x' || substring(m, 16, 10))::BIGINT AS sh2
  FROM _grams
)"""


# ---------------------------------------------------------------------------
# n-gram Jaccard verification (on candidate pairs or small corpora)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    sh: DataFrame, min_jaccard: float = 0.5, round_digits: int = 6
) -> DataFrame:
    """All pairs sharing ≥1 shingle with Jaccard ≥ threshold.

    (a, b, jaccard) with a < b. The join is on the shingle hash
    (inverted-index style) — pair enumeration cost is Σ_shingle df²,
    not N².
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.sh2") == F.col("b.sh2")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast(
                    "double"
                ),
                round_digits,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    sh: DataFrame, min_jaccard: float = 0.5, round_digits: int = 6
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (AllPairs / PPJoin,
    Bayardo et al. WWW'07; Xiao et al. WWW'08) — identical output to
    :func:`jaccard_pairs`, scale-safe plan.

    Order every doc's shingles by a global total order (document
    frequency ascending, then hash). For Jaccard ≥ t, a pair must share
    a shingle inside both docs' *prefixes* of length
    ``|d| − ⌈t·|d|⌉ + 1`` — so only prefixes are self-joined. The
    hot-shingle quadratic key that makes the plain inverted-index join
    (`jaccard_pairs`) explode is gone by construction: a high-df
    shingle sorts to the END of every doc's ordering and lands in
    almost no prefixes, while the rare shingles that do index have
    df² ≈ 1. Verification runs on candidate pairs only
    (:func:`jaccard_for_pairs`), so total cost is
    Σ_shingle df_prefix² + |candidates|·shingles-per-doc — never N².

    The shingle table feeds four consumers (df, ranking, prefix join,
    verify) — materialized once in-session; at 100 TB it is a persisted
    derived table.
    """
    from pyspark.sql import Window

    t = min_jaccard
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df_tab = sh.groupBy("sh", "sh2").agg(F.count("*").alias("df"))
    # prefix length |d| − ⌈t·|d|⌉ + 1; the 1e-9 slack keeps float
    # rounding from SHORTENING the prefix (longer = still exact)
    plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    ranked = (
        sh.join(df_tab, ["sh", "sh2"])
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh", "sh2")
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(F.col("pos") <= plen).select("doc_id", "sh", "sh2")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.sh2") == F.col("b.sh2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return jaccard_for_pairs(sh, cands, t, round_digits)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(sh: DataFrame, n_hashes: int = 12) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[n_hashes]) — min over ``n_hashes``
    universal-hash functions ``h_i = (a_i·x + b_i) mod P31`` of each
    shingle's stored hash (x = sh mod P31, constants ``MINHASH_AB``).
    Zero per-row md5 here — pure long arithmetic in codegen — and one
    shuffle (groupBy doc)."""
    x = F.col("sh") % F.lit(P31)
    agg = sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * x + F.lit(b)) % F.lit(P31)).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_AB[:n_hashes])
        ]
    )
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig")
    )


def band_keys(
    sigs: DataFrame, n_bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """(doc_id, band, bkey) — the LSH bucket keys of each signature.
    This is the table a production pipeline PERSISTS per corpus
    (bucketed by (band, bkey)) so incremental ingests join against it
    without recomputing the corpus side."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bkey"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def lsh_candidate_pairs(
    sigs: DataFrame, n_bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """Band the signatures and equi-join on (band, band_key) → candidate
    pairs (id_a < id_b, distinct)."""
    # materialize once: the self-join would otherwise recompute the
    # whole signature lineage (shingle agg) for each side. n_docs ×
    # n_bands small rows — trivially cacheable at any scale.
    bands = band_keys(sigs, n_bands, rows_per_band).localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def jaccard_for_pairs(
    sh: DataFrame,
    pairs: DataFrame,
    min_jaccard: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) pair set.

    Shuffle cost is proportional to |pairs| × shingles-per-doc, never
    corpus² — this is the verify stage that keeps MinHash+LSH scalable:
    the bucket join proposes, this disposes. (Contrast
    :func:`jaccard_pairs`, whose inverted-index self-join enumerates
    every co-shingle pair — fine standalone on moderate corpora, wrong
    as a post-LSH verifier at 100 TB.)
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # pair × left-side shingles, then equi-join (id_b, hash) to keep
    # only shingles present on both sides → per-pair intersection size
    a_sh = sh.select(F.col("doc_id").alias("id_a"), "sh", "sh2")
    b_sh = sh.select(F.col("doc_id").alias("id_b"), "sh", "sh2")
    common = (
        pairs.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "sh", "sh2"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast(
                    "double"
                ),
                round_digits,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_duplicates(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 12,
    n_bands: int = 4,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full pipeline: shingle → minhash → LSH bucket join → exact
    Jaccard verify on candidate pairs only. Returns (id_a, id_b,
    jaccard). The shingle table feeds three consumers (signatures,
    verify sides), so it is materialized once — in-session via
    checkpoint; at scale as a persisted derived table."""
    sh = shingles(docs, n, id_col, text_col).localCheckpoint()
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, n_hashes), n_bands, n_hashes // n_bands
    )
    return jaccard_for_pairs(sh, cands, min_jaccard)


def lsh_incremental_duplicates(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 3,
    n_hashes: int = 12,
    n_bands: int = 4,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest near-dup check: candidates ONLY across the
    (new batch × existing corpus) boundary → ``(new_id, corpus_id,
    jaccard)``. Ids must be globally unique across both inputs.

    This is the shape a 100 TB pipeline actually runs per ingest: the
    corpus side's shingle and band-key tables (:func:`shingles`,
    :func:`band_keys`) are PERSISTED derived tables maintained
    incrementally (the ``BM25Index.add_documents`` pattern) — here
    they derive from ``corpus_docs`` in one pass; at scale you read
    them, join the (small) batch's band keys against the bucketed
    corpus keys, and verify only the candidates, so per-ingest cost
    scales with the batch, never the corpus. Within-batch duplicates
    compose with :func:`minhash_lsh_duplicates` over ``new_docs``
    alone; corpus-internal pairs were settled at their own ingest."""
    rpb = n_hashes // n_bands
    sh_new = shingles(new_docs, n, id_col, text_col).localCheckpoint()
    sh_old = shingles(corpus_docs, n, id_col, text_col).localCheckpoint()
    b_new = band_keys(minhash_signatures(sh_new, n_hashes), n_bands, rpb)
    b_old = band_keys(minhash_signatures(sh_old, n_hashes), n_bands, rpb)
    cands = (
        b_new.select(F.col("doc_id").alias("id_a"), "band", "bkey")
        .join(
            b_old.select(F.col("doc_id").alias("id_b"), "band", "bkey"),
            ["band", "bkey"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = jaccard_for_pairs(
        sh_new.unionByName(sh_old), cands, min_jaccard
    )
    return verified.select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    n_bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash BIGINT): per-bit majority vote over token hashes
    (tokens weighted by occurrence count). Bit b set iff
    Σ_tokens (2·bit_b(h(token)) − 1) > 0."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    )
    hashed = toks.select("doc_id", _hash64(F.col("tok")).alias("h"))
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    fingerprint = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_pairs(
    fps: DataFrame, max_hamming: int = 6, n_bits: int = 32
) -> DataFrame:
    """Pairs with simhash hamming distance ≤ threshold.

    Candidate generation uses the pigeonhole trick: split the
    fingerprint into ``max_hamming+1`` chunks — near-dups must agree on
    at least one chunk, so the join is an equi-join on (chunk_idx,
    chunk_value), never O(N²).
    """
    n_chunks = max_hamming + 1
    # ceil so the chunks cover every bit — required for pigeonhole
    # completeness (a pair under the hamming bound must share a chunk)
    chunk_bits = -(-n_bits // n_chunks)
    # n_chunks is a small Python constant, so the shift amounts can be
    # literals — pure int64 shiftright. The previous floor(x / 2^k)
    # double path rounded fingerprints wider than 53 bits BEFORE the
    # floor, scrambling low-chunk values and silently missing pairs
    # the pigeonhole argument guarantees.
    mask = (1 << chunk_bits) - 1
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cidx"),
                        F.shiftrightunsigned(
                            F.col("simhash"), i * chunk_bits
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("cval"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", F.col("ch.cidx").alias("cidx"), F.col("ch.cval").alias("cval"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.cidx") == F.col("b.cidx"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_topk_bruteforce(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k most-similar distinct pairs by cosine similarity via the
    O(N²) theta self-join. SMALL-N ORACLE TWIN ONLY — the default
    :func:`embedding_neardup_topk` returns the identical result through
    cluster-bound pruning with equi-join shapes."""
    from fastpyvectordb_spark.functions.distances import cosine_similarity

    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), round_digits
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(k)
    )


def _centroid_rows(
    emb: DataFrame,
    n_clusters: int,
    id_col: str,
    vec_col: str,
    centroids: str,
    seed: int,
    kmeans_max_iter: int,
    n_rows: int | None = None,
):
    """→ list of (cid, unit-centroid numpy vector). ``centroids`` picks
    the trainer: ``"kmeans"`` = :func:`ann.kmeans.train` on a bounded
    sample of the unit-normalized rows (the quality path — tight
    clusters → tight radii → real pruning; a known ``n_rows`` spares
    the sample its count job); ``"seed"`` = the ``n_clusters``
    lowest-id vectors (deterministic, zero-train — pruning degrades
    gracefully, exactness never does)."""
    import numpy as np

    if centroids == "seed":
        rows = (
            emb.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
            .orderBy("i")
            .limit(n_clusters)
            .collect()
        )
        mats = [np.asarray(r["v"], dtype=np.float64) for r in rows]
    elif centroids == "kmeans":
        from fastpyvectordb_spark.ann.kmeans import fit_sample, train
        from fastpyvectordb_spark.functions.distances import EPS

        x = fit_sample(emb, vec_col, n_clusters, seed, n_rows)
        x = x / (np.linalg.norm(x, axis=1, keepdims=True) + EPS)
        mats = list(train(x, n_clusters, kmeans_max_iter, seed))
    else:
        raise ValueError(f"centroids must be 'kmeans' or 'seed': {centroids!r}")
    out = []
    for i, c in enumerate(mats):
        n = float(np.linalg.norm(c))
        if n > 0:
            out.append((i, c / n))
    return out


def _neardup_kept_blocks(
    cids: list[int],
    unit: dict,
    radii: dict,
    lam: float,
    margin: float,
) -> list[tuple[int, int, int]]:
    """The angular-bound block filter of :func:`embedding_neardup_topk`
    as a driver-side pure function over the K² bound table: keep every
    (ci, cj) cluster pair whose cross-pair cosine upper bound
    ``cos(max(0, θ(c_i,c_j) − r_i − r_j))`` clears ``λ − margin``.
    ``len(result) / (K·(K+1)/2)`` is the pruning-efficacy estimate the
    regime router reads BEFORE any candidate join runs — kept fraction
    ≈ 1 means the data is too weakly clustered for exact angular
    pruning and the join trends quadratic."""
    import math

    import numpy as np

    keep: list[tuple[int, int, int]] = []  # (pair_id, ci, cj)
    pid = 0
    for ii, ci in enumerate(cids):
        for cj in cids[ii:]:
            if ci == cj:
                keep.append((pid, ci, cj))
                pid += 1
                continue
            cosc = float(np.dot(unit[ci], unit[cj]))
            theta = math.acos(max(-1.0, min(1.0, cosc)))
            ub = math.cos(max(0.0, theta - radii[ci] - radii[cj]))
            if ub >= lam - margin:
                keep.append((pid, ci, cj))
                pid += 1
    return keep


# one-time flag for the regime-router delegation log (ADVICE r8)
_ROUTED_LOGGED = False

# below this many kept pair-similarities the exact arm's GEMM volume is
# trivially affordable (≈ 33 GFLOP at dim 64 — seconds on one host),
# so the work-based router trigger never fires on small corpora no
# matter how adversarial the geometry; above it the 8·N·√N budget
# governs (see embedding_neardup_topk's regime-router docstring)
NEARDUP_EXACT_WORK_FLOOR = 256_000_000


def embedding_neardup_topk(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_clusters: int | None = None,
    centroids: str = "seed",
    seed: int = 42,
    kmeans_max_iter: int = 10,
    margin: float = 1e-4,
    warn_kept_frac: float = 0.8,
    mode: str = "auto",
    n_planes: int | None = None,
    rows_per_band: int | None = None,
    max_gemm_rows: int | None = None,
    exact_work_budget: int | None = None,
    _stats_out: dict | None = None,
) -> DataFrame:
    """Top-k most-similar distinct pairs by cosine similarity —
    cluster-bound pruning, equi-join plan (no theta self-join on the
    corpus). EXACT whenever the angular bound actually prunes; on
    weakly-clustered data the default ``mode="auto"`` DELEGATES to the
    banded LSH path (see *Regime router* below) instead of running a
    near-quadratic candidate join. Pass ``mode="exact"`` to force the
    exact miner regardless of regime (it only warns then — the result
    stays bit-identical to brute force).

    Algorithm (ball-tree / Elkan-style angular bounds):

    1. Bucket every vector to one of ``n_clusters`` centroids; record
       each vector's angle to its own unit centroid and each cluster's
       max angle (radius ``r_i``).
    2. Seed λ = the kth-best WITHIN-cluster pair similarity (one
       equi-join on cluster id — the quadratic work is bounded by
       cluster size, never corpus size).
    3. For cluster pair (i, j): every cross pair obeys
       ``cos(a,b) ≤ cos(max(0, θ(c_i,c_j) − r_i − r_j))`` (angular
       triangle inequality). Prune pairs whose upper bound < λ −
       ``margin`` — the margin absorbs float/rounding slack so a pruned
       pair can never re-enter the top-k even on a rounded tie.
    4. Exact cosine + global top-k over the surviving blocks only.

    Surviving blocks join through a broadcast (cluster_i, cluster_j,
    pair_id) table → equi-join on pair_id: one shuffle whose keys ARE
    the surviving blocks, so the work is Σ_surviving |C_i|·|C_j|. On a
    clustered corpus (real near-dup data) that is a small fraction of
    N²; on adversarially uniform data no exact algorithm beats N², but
    the plan is still shuffle-bounded equi-joins — never a cartesian.
    Result is bit-identical to :func:`embedding_neardup_topk_bruteforce`
    by construction (pruning only discards pairs provably below the
    kth-best), which the parity tests pin.

    ``n_clusters=None`` auto-sizes to ``≈ √N`` capped at 1024 (raised
    from 256 in round 9 once assignment became one Arrow GEMM — the
    within-cluster λ-seed work is Θ(N²/K), so the cap is the direct
    lever on the quadratic-over-K term; at the cap the driver-side
    bound table is 1024²/2 ≈ 5×10⁵ block rows, still trivially
    driver-resident). Pass an explicit value to pin the blocking.

    Task-memory bound: no mining task holds more than
    ``~2·max_gemm_rows`` vectors regardless of corpus size — clusters
    above that row budget are sub-split into deterministic
    ``pmod(xxhash64(id), n_sub)`` sub-blocks and mined as sub-block
    PAIRS (default budget 128 MiB of float64 per side; 262,144 rows at
    dim 64). Both the λ seed and the exact arm run through the same
    bounded groups, so per-task memory is O(budget), not O(N/256),
    at billion-row scale. ``_stats_out`` reports ``max_gemm_rows``,
    ``n_sub_max`` and ``max_task_rows_est`` for scale audits.

    Regime router (VERDICT r6 #6 / r7 #3; work trigger round 9): the
    K² bound table is computed BEFORE the candidate join, so an inert
    pruning run — weakly clustered data where (almost) every block's
    upper bound clears λ — is knowable for free, and so is the kept
    WORK ``Σ_kept |Cᵢ|·|Cⱼ|`` (driver-side arithmetic over the size
    table). When ``mode="auto"`` and EITHER the kept fraction exceeds
    ``warn_kept_frac`` OR the kept work exceeds ``exact_work_budget``
    (default ``max(2.56e8, 8·N·√N)`` pair-similarities — the
    well-clustered exact arm's O(N^1.5) envelope; a manifold corpus at
    1M rows keeps only ~35% of blocks yet 1.75e11 pair-sims, a
    40-minute wall the fraction rule alone misses), the miner routes
    to the scale-safe SemDeDup shape instead: sign-band LSH candidates
    (:func:`embedding_lsh_threshold_pairs` against ``n_planes``
    deterministic sin-projection hyperplanes,
    ``plane[p][d] = sin(13.7·p + 5.1·d + 0.91·p·d)`` — decorrelated
    from the corpus and reproducible in any engine from that closed
    form) thresholded at λ (the exact kth-best within-cluster
    similarity, already seeded), unioned with ALL within-cluster
    pairs ≥ λ, then global top-k. The routed result is
    approximate — a cross-cluster pair missed by every band is not
    returned — but every returned similarity is exact, the within-
    cluster top-k is guaranteed, and the work is banded equi-joins
    whose cost scales with candidates, not N². ``_stats_out["routed"]``
    records which regime ran.

    Banding auto-sizes unless pinned: ``rows_per_band =
    clamp(⌈log₂N⌉, 8, 16)`` (bucket count per band tracks corpus size,
    so per-bucket candidate blocks stay small as N grows) and
    ``n_planes = 6·rows_per_band`` (6 bands). Recall characteristics
    are the standard sign-LSH curve: near-identical pairs (cos ≳ 0.95)
    collide in some band with high probability; MODERATE-similarity
    pairs (cos ≈ 0.5-0.7) mostly do not — on a corpus whose true top-k
    is only moderately similar (i.e. no real near-dups) the routed
    result keeps the within-cluster winners and whatever the bands
    surface, nothing more. That is the correct scale posture: such a
    corpus has no sub-quadratic exact algorithm, and the near-dup USE
    CASE (dedup before training) only cares about high-similarity
    pairs. Curation flows that need the exact moderate-sim top-k opt
    out with ``mode="exact"`` and pay the corpus-bounded join."""
    import math

    import numpy as np

    from fastpyvectordb_spark.functions.distances import cosine_similarity

    n_rows: int | None = None
    if n_clusters is None:
        n_rows = emb.count()
        n_clusters = max(2, min(1024, math.isqrt(max(n_rows, 1))))
    cents = _centroid_rows(
        emb, n_clusters, id_col, vec_col, centroids, seed, kmeans_max_iter,
        n_rows,
    )
    if not cents:  # empty corpus (or all-zero seed vectors)
        return embedding_neardup_topk_bruteforce(
            emb, k, id_col, vec_col, round_digits
        )
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # nearest-centroid assignment + angle to own centroid as ONE Arrow
    # GEMM per batch (round 9): the former expression-tree argmax (an
    # array_max over K (cos, −cid) structs, each cos a higher-order
    # aggregate dot) is INTERPRETED per element — K·D lambda evals per
    # row ≈ 16×10⁹ at N=1M, K=256, D=64, which made assignment the
    # λ-phase wall (~13 min). The GEMM computes the identical
    # cos(v, ĉ) = v·ĉ/(‖v‖+ε) (centroids arrive unit-normalized);
    # np.argmax takes the FIRST maximum, matching the struct-max's
    # ties→lower-cid rule with centroid columns in ascending-cid
    # order. Assignment only shapes the pruning geometry (radii/blocks
    # use the same assignment), never the returned values — the exact
    # arm stays bit-identical to brute force either way.
    from pyspark.sql.types import (
        DoubleType as _DT,
        IntegerType as _IT,
        StructField as _SFd,
        StructType as _STd,
    )

    from fastpyvectordb_spark.functions.distances import EPS

    _corder = np.argsort([cid for cid, _ in cents])
    _cmat = np.stack(
        [np.asarray(cents[i][1], dtype=np.float64) for i in _corder]
    )
    _cidv = np.asarray([cents[i][0] for i in _corder], dtype=np.int64)
    assign_schema = _STd(
        [
            _SFd("_id", emb.schema[id_col].dataType),
            _SFd("_v", emb.schema[vec_col].dataType),
            _SFd("_cid", _IT()),
            _SFd("_theta", _DT()),
        ]
    )

    def _assign_batches(it):
        import numpy as _n
        import pandas as _pd

        for pdf in it:
            if not len(pdf):
                continue
            V = _n.stack(
                [_n.asarray(v, dtype=_n.float64) for v in pdf["_v"]]
            )
            nv = _n.linalg.norm(V, axis=1) + EPS
            cosm = (V @ _cmat.T) / nv[:, None]
            ti = _n.argmax(cosm, axis=1)
            best = cosm[_n.arange(len(ti)), ti]
            yield _pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "_v": pdf["_v"],
                    "_cid": _cidv[ti].astype("int32"),
                    "_theta": _n.arccos(_n.clip(best, -1.0, 1.0)),
                }
            )

    assigned = base.mapInPandas(
        _assign_batches, schema=assign_schema
    ).localCheckpoint()

    _cstats = assigned.groupBy("_cid").agg(
        F.max("_theta").alias("r"), F.count(F.lit(1)).alias("n")
    ).collect()
    radii = {r["_cid"]: r["r"] for r in _cstats}
    csizes = {r["_cid"]: r["n"] for r in _cstats}

    if mode not in ("auto", "exact"):
        raise ValueError(f"mode must be 'auto' or 'exact': {mode!r}")
    spark = emb.sparkSession

    # -- GEMM task-memory bound (round 9, VERDICT r8 #2) ---------------
    # n_clusters caps at 1024, so without a second level of blocking a
    # single cluster's mining task holds O(N/K) vectors — unbounded
    # at billion-row scale. Clusters larger than ``max_gemm_rows`` are
    # therefore sub-split into ⌈n/max_gemm_rows⌉ deterministic id-hash
    # sub-blocks (pmod(xxhash64(id), n_sub) — engine-reproducible), and
    # every mining group below is a PAIR of sub-blocks: no
    # applyInPandas task ever holds more than ~2·max_gemm_rows vectors
    # (~2·budget bytes of float64), independent of corpus size.
    # Exactness is untouched — each unordered pair lands in exactly one
    # sub-block pair, and a pair's rank within that subset is ≤ its
    # rank within the full block (the same superset argument as the
    # chunked cut inside _mine). The default budget is 128 MiB of
    # float64 per side (262,144 rows at dim 64); corpora below it get
    # n_sub = 1 everywhere and exactly the round-8 single-level plan.
    dims = len(cents[0][1])
    if max_gemm_rows is None:
        max_gemm_rows = max(4096, (128 * 2**20) // (dims * 8))
    n_sub = {
        cid: max(1, -(-n // max_gemm_rows)) for cid, n in csizes.items()
    }
    if _stats_out is not None:
        _stats_out["max_gemm_rows"] = max_gemm_rows
        _stats_out["n_sub_max"] = max(n_sub.values())
        _stats_out["max_task_rows_est"] = 2 * max(
            -(-csizes[c] // n_sub[c]) for c in csizes
        )
    if max(n_sub.values()) > 1:
        _sub_map = F.create_map(
            *[x for c, s in n_sub.items() for x in (F.lit(c), F.lit(s))]
        )
        assigned = assigned.withColumn(
            "_sub",
            F.pmod(F.xxhash64(F.col("_id")), _sub_map[F.col("_cid")]).cast(
                "int"
            ),
        )
    else:
        assigned = assigned.withColumn("_sub", F.lit(0))

    # -- shared GEMM mining machinery (round 8) -----------------------
    # Mines candidate pairs per group (a cluster for the λ seed; a
    # surviving cluster-pair block for the exact arm) with per-block
    # float64 GEMM, keeping every pair within `slack` of the group's
    # k-th best GEMM value; the final values ALWAYS come from the
    # shared rounded cosine expression (oracle-identical). Exactness:
    # the GEMM computes the identical dot/((‖a‖+ε)(‖b‖+ε)) formula,
    # differing only in summation order (|Δ| ≤ ~1e-13), and slack =
    # 2·10^-round_digits + 1e-9 ≥ 2Δ + the rounding quantum — so any
    # pair that can reach a top-k under the ROUNDED ordering
    # (boundary ties included) survives the cut.
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = emb.schema[id_col].dataType
    cand_schema = StructType(
        [StructField("xa", id_type), StructField("xb", id_type)]
    )
    id_np = (
        "int64" if id_type.typeName() in ("long", "integer") else "object"
    )
    from fastpyvectordb_spark.functions.distances import EPS as _EPS

    slack = 2.0 * (10.0 ** (-round_digits)) + 1e-9
    kk = k

    def _mine(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"xa": [], "xb": []}).astype(
            {"xa": id_np, "xb": id_np}
        )
        a = pdf[pdf["_side"] == 0]
        if not len(a):
            return empty
        ids_a = a["_id"].to_numpy()
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a["_v"]])
        na = np.linalg.norm(A, axis=1) + _EPS
        b = pdf[pdf["_side"] == 1]
        # triangle-ness comes from the GROUP KEY (_tri is constant per
        # gid), never from side-1 emptiness: a cross sub-block pair
        # whose side-1 sub hashed empty must return empty rather than
        # re-mine the side-0 triangle its (sa, sa) group already covers
        same = bool(key[1])
        if same:
            if len(ids_a) < 2:
                return empty
            ids_b, B, nb = ids_a, A, na
        elif not len(b):
            return empty
        else:
            ids_b = b["_id"].to_numpy()
            B = np.stack([np.asarray(v, dtype=np.float64) for v in b["_v"]])
            nb = np.linalg.norm(B, axis=1) + _EPS
        out_a, out_b, out_s = [], [], []
        # bound the sim-matrix at ~32M doubles (256 MB) per chunk;
        # chunk-local cuts are supersets of the group cut (a pair's
        # rank within its chunk ≤ its rank within the group)
        step = max(1, 32_000_000 // max(len(ids_b), 1))
        for s in range(0, len(ids_a), step):
            e = min(s + step, len(ids_a))
            S = (A[s:e] @ B.T) / np.outer(na[s:e], nb)
            if same:
                # strict upper triangle in GLOBAL row positions: each
                # unordered within-cluster pair exactly once
                mask = (
                    np.arange(len(ids_b))[None, :]
                    > np.arange(s, e)[:, None]
                )
            else:
                mask = np.ones(S.shape, dtype=bool)
            vals = S[mask]
            if not len(vals):
                continue
            if len(vals) > kk:
                thr = (
                    np.partition(vals, len(vals) - kk)[len(vals) - kk]
                    - slack
                )
                keep_m = mask & (S >= thr)
            else:
                keep_m = mask
            ri, cj_ = np.nonzero(keep_m)
            out_a.append(ids_a[s:e][ri])
            out_b.append(ids_b[cj_])
            out_s.append(S[ri, cj_])
        if not out_a:
            return empty
        xa = np.concatenate(out_a)
        xb = np.concatenate(out_b)
        sv = np.concatenate(out_s)
        if len(sv) > kk:  # group-global cut over the chunk survivors
            thr = np.partition(sv, len(sv) - kk)[len(sv) - kk] - slack
            m = sv >= thr
            xa, xb = xa[m], xb[m]
        return pd.DataFrame({"xa": xa, "xb": xb})

    _va = assigned.select(F.col("_id").alias("xa"), F.col("_v").alias("va"))
    _vb = assigned.select(F.col("_id").alias("xb"), F.col("_v").alias("vb"))

    def _rerank(cand_ids: DataFrame) -> DataFrame:
        # exact-expression rerank of a mined (bounded) candidate pool.
        # shuffle_hash hints (round 11, found live at the 10M
        # spotcheck): the vector side scans a localCheckpointed
        # mapInPandas plan whose size ESTIMATE still reflects the
        # 8-bytes/row spark.range source, so the static planner
        # broadcast-built the ENTIRE (id, vector) table — a driver
        # collect that scales with the corpus (blew the 1 GiB
        # maxResultSize at 10M×64; reproduced at 1M under a 200 MiB
        # cap). The hint pins both joins to shuffled-hash (hints beat
        # size-based broadcast in JoinSelection): candidates build the
        # per-partition hash, the vector table streams through one
        # id-shuffle — the correct plan at any corpus size, and AQE
        # may still broadcast the genuinely-small CANDIDATE side from
        # runtime stats.
        return (
            cand_ids.hint("shuffle_hash").join(_va, "xa")
            .hint("shuffle_hash")
            .join(_vb, "xb")
            .select(
                F.least("xa", "xb").alias("id_a"),
                F.greatest("xa", "xb").alias("id_b"),
                F.round(
                    cosine_similarity(F.col("va"), F.col("vb")),
                    round_digits,
                ).alias("cos_sim"),
            )
        )

    def _mine_blocks(blocks: list[tuple[int, int]]) -> DataFrame:
        """Mine a list of cluster-pair blocks (ci ≤ cj) through the
        shared per-group GEMM, one `applyInPandas` group per SUB-BLOCK
        pair (the round-9 task-memory bound — see n_sub above). The
        group table is tiny (Σ n_sub_i·n_sub_j rows) and broadcast;
        rows reach their groups through two broadcast equi-joins, so
        the only shuffle is the groupBy(gid) whose keys ARE the
        bounded mining groups. Triangle groups (same cluster AND same
        sub-block) ship side 0 only — _mine's `same` branch mines the
        strict upper triangle; every other group is a two-sided cross
        so each unordered pair is mined exactly once."""
        rows = []
        gid = 0
        for ci, cj in blocks:
            for sa in range(n_sub[ci]):
                for sb in range(sa if ci == cj else 0, n_sub[cj]):
                    rows.append((gid, ci, sa, cj, sb))
                    gid += 1
        gt = spark.createDataFrame(rows, "gid long, ci int, sa int, cj int, sb int")
        a_side = assigned.join(
            F.broadcast(gt),
            (assigned["_cid"] == gt["ci"]) & (assigned["_sub"] == gt["sa"]),
        ).select(
            "gid",
            ((gt["ci"] == gt["cj"]) & (gt["sa"] == gt["sb"])).alias("_tri"),
            F.lit(0).alias("_side"),
            "_id",
            "_v",
        )
        bt = gt.filter(
            ~((F.col("ci") == F.col("cj")) & (F.col("sa") == F.col("sb")))
        )
        b_side = assigned.join(
            F.broadcast(bt),
            (assigned["_cid"] == bt["cj"]) & (assigned["_sub"] == bt["sb"]),
        ).select(
            "gid",
            F.lit(False).alias("_tri"),
            F.lit(1).alias("_side"),
            "_id",
            "_v",
        )
        # _tri is constant within a gid, so adding it to the key keeps
        # the grouping identical while letting _mine read triangle-ness
        # from the key instead of inferring it from side-1 emptiness
        return (
            a_side.unionByName(b_side)
            .groupBy("gid", "_tri")
            .applyInPandas(_mine, schema=cand_schema)
        )

    # λ seed = the exact top-k WITHIN-cluster pairs, mined per cluster
    # block (the quadratic work runs as NumPy GEMM inside bounded
    # sub-block-pair tasks, not as exploded Spark rows through a
    # higher-order-function cosine)
    w_cands = _mine_blocks([(c, c) for c in sorted(radii)])
    seed_rows = (
        _rerank(w_cands)
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(k)
        .collect()
    )
    lam = seed_rows[-1]["cos_sim"] if len(seed_rows) == k else -2.0
    unit = {cid: c for cid, c in cents}
    cids = sorted(radii)
    keep = _neardup_kept_blocks(cids, unit, radii, lam, margin)
    kept_frac = len(keep) / max(1, len(cids) * (len(cids) + 1) // 2)
    # routing signal #2 (round 9): kept WORK, not just kept fraction.
    # A manifold corpus at 1M rows keeps only ~35% of blocks — under
    # the old fraction-only rule the exact arm ran — but those blocks
    # still hold Σ|Cᵢ||Cⱼ| ≈ 1.75×10¹¹ pair-similarities (measured:
    # a 40+-minute mining wall). The kept-work sum is free driver-side
    # arithmetic over the K² size table; the exact arm is only the
    # right plan while that work stays near the well-clustered
    # O(N^1.5) envelope, so the budget is 8·N·√N with a floor below
    # which brute GEMM volume is trivially affordable either way.
    kept_work = sum(
        (csizes[i] * (csizes[i] - 1)) // 2
        if i == j
        else csizes[i] * csizes[j]
        for _pid, i, j in keep
    )
    if n_rows is None:
        n_rows = sum(csizes.values())
    work_budget = exact_work_budget
    if work_budget is None:
        work_budget = max(
            NEARDUP_EXACT_WORK_FLOOR,
            8 * n_rows * math.isqrt(max(n_rows, 1)),
        )
    routed = mode == "auto" and (
        kept_frac > warn_kept_frac or kept_work > work_budget
    )
    if _stats_out is not None:  # test/diagnostic hook: pruning efficacy
        nc = len(cids)
        _stats_out["kept_blocks"] = len(keep)
        _stats_out["total_blocks"] = nc * (nc + 1) // 2
        _stats_out["kept_work"] = kept_work
        _stats_out["work_budget"] = work_budget
        _stats_out["routed"] = routed
    if routed:
        # say so out loud, once per process (ADVICE r8): callers who
        # relied on the formerly always-exact default can see which
        # regime ran without passing _stats_out. Deliberately a LOG
        # line, not warnings.warn — delegating is the designed good
        # path and must not trip warnings-as-errors callers (pinned by
        # test_neardup_regime_router_delegates_by_default).
        global _ROUTED_LOGGED
        if not _ROUTED_LOGGED:
            _ROUTED_LOGGED = True
            import logging

            logging.getLogger(__name__).warning(
                "embedding_neardup_topk: mode='auto' delegated to the "
                "banded LSH regime (angular pruning kept %.0f%% of "
                "cluster blocks / %.2g of %.2g budgeted pair-sims) — "
                "result is approximate (band-recall-limited); pass "
                "mode='exact' to force the exact miner. (logged once "
                "per process)",
                100 * kept_frac,
                float(kept_work),
                float(work_budget),
            )
        # regime router, delegating arm (VERDICT r7 #3): the pruning
        # estimate says the exact candidate join is near-quadratic
        # here, so run the SemDeDup-shape banded path instead.
        # Hyperplanes are DETERMINISTIC sin-projections, decorrelated
        # from the corpus (corpus vectors as planes skew the sign
        # buckets on manifold data — the 100k threshold test's lesson);
        # threshold = λ, the EXACT kth-best within-cluster similarity
        # (no returned pair can beat the top-k bar from below it).
        if rows_per_band is None:
            if n_rows is None:
                n_rows = emb.count()
            rows_per_band = min(
                16, max(8, math.ceil(math.log2(max(n_rows, 2))))
            )
        if n_planes is None:
            n_planes = 6 * rows_per_band
        if _stats_out is not None:
            _stats_out["n_planes"] = n_planes
            _stats_out["rows_per_band"] = rows_per_band
        floor = max(lam, -1.0)
        dims = len(unit[cids[0]])
        planes = spark.createDataFrame(
            [
                (
                    p,
                    [
                        math.sin(p * 13.7 + d * 5.1 + p * d * 0.91)
                        for d in range(dims)
                    ],
                )
                for p in range(n_planes)
            ],
            "plane_id int, plane_vec array<double>",
        )
        # disk posture (round 11, measured at 10M): one pass holds
        # bands × N vector rows across the bucket shuffle + sort —
        # stage the verify so a pass carries ≤ ~25M banded rows, and
        # pin the vector-side joins to shuffled-hash above ~1.5M rows
        # (the size-estimate broadcast bug — see _rerank). At ≤ 4M
        # rows both knobs are no-ops and the plan is unchanged.
        lsh = embedding_lsh_threshold_pairs(
            emb, planes, min_cos=floor, rows_per_band=rows_per_band,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
            bands_per_pass=max(1, 25_000_000 // max(n_rows, 1)),
            shuffle_joins=n_rows > 1_500_000,
        )
        # within-cluster arm: reuse the ALREADY-COLLECTED seed top-k
        # instead of re-evaluating the within join. Exactness of the
        # substitution: seed_rows is within's top-k under the exact
        # final ordering (cos_sim desc, id_a, id_b), so any within
        # pair outside it is dominated by all k seeds and can never
        # enter top-k(within ∪ lsh) — top-k(seed ∪ lsh) is identical.
        seed_schema = StructType(
            [
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("cos_sim", DoubleType()),
            ]
        )
        seed_df = spark.createDataFrame(seed_rows, schema=seed_schema)
        cand = seed_df.unionByName(lsh).dropDuplicates(["id_a", "id_b"])
        return cand.orderBy(F.desc("cos_sim"), "id_a", "id_b").limit(k)
    if kept_frac > warn_kept_frac or kept_work > work_budget:
        # exact mode in the weak/high-work regime: run anyway, but say
        # so out loud — the result stays bit-identical to brute force.
        import warnings

        warnings.warn(
            f"embedding_neardup_topk: angular pruning kept "
            f"{kept_frac:.0%} of cluster blocks / {kept_work:.2g} "
            f"pair-similarities (budget {work_budget:.2g}) — the "
            "exact mining volume is near-quadratic on this corpus. "
            "For threshold-style near-dup at scale use "
            "embedding_lsh_threshold_pairs; the exact top-k result "
            "returned here is unaffected.",
            stacklevel=2,
        )
    # Exact arm: mine each SURVIVING cluster-pair block with the shared
    # per-group GEMM machinery (round 8; round 9 bounds every task via
    # the sub-block split in _mine_blocks), then exact-expression
    # rerank: final values identical to the brute-force oracle, shuffle
    # volume = per-group side lists instead of the exploded candidate
    # join.
    cand_ids = _mine_blocks([(ci, cj) for _pid, ci, cj in keep])
    out = _rerank(cand_ids)
    return out.orderBy(F.desc("cos_sim"), "id_a", "id_b").limit(k)


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id,
    cluster_id), cluster_id = smallest member id.

    The real-world output of dedup at scale: LSH/Jaccard emit PAIRS,
    but retention decisions need CLUSTERS (keep one doc per component).
    Algorithm: iterative min-label propagation — each node adopts the
    smallest label among itself and its neighbors until fixpoint
    (≤ diameter iterations; duplicate clusters are shallow in
    practice). Every step is a keyed join + groupBy-min — shuffles on
    the node id only; lineage is cut by localCheckpoint every few
    hops. Singleton docs (no pair) are not emitted — callers union
    them back with cluster_id = doc_id if needed.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    converged = False
    for it in range(max_iter):
        # candidate labels: own + each neighbor's current label
        neighbor_labels = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # fixpoint test on checkpoint iterations AND on the last pass —
        # min-label propagation needs up to component-diameter rounds,
        # so exhausting max_iter on a deep chain must not return wrong
        # cluster_ids silently
        last = it == max_iter - 1
        if last or (checkpoint_every and (it + 1) % checkpoint_every == 0):
            new_labels = new_labels.localCheckpoint()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
        else:
            labels = new_labels
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in max_iter={max_iter} "
            "label-propagation rounds (a near-dup component deeper than "
            "max_iter hops exists); raise max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Test-set decontamination (GPT-3 App. C / Dodge et al. 2021 C4 audit):
# flag training docs that share word n-grams with a benchmark/eval set.
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs sharing ≥ ``min_overlap`` distinct word ``n``-grams with ANY
    benchmark document → (doc_id, overlap_ngrams).

    Scale shape: the benchmark's distinct n-gram hash set is tiny
    relative to the corpus (eval sets are thousands of docs, corpora
    billions) — broadcast it and equi-join on the 8-byte shingle hash.
    Cost is one pass over corpus shingles; never
    O(docs × benchmark)."""
    doc_sh = shingles(docs, n, id_col, text_col)
    bench_sh = (
        shingles(benchmark, n, id_col, text_col)
        .select(F.col("sh").alias("bsh"))
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), doc_sh.sh == F.col("bsh"))
        # doc_sh is distinct per (doc, shingle) and bench_sh per shingle
        # → one row per overlapping distinct n-gram
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap_ngrams"))
        .filter(F.col("overlap_ngrams") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# Substring-span duplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better") — approximated at word n-gram
# granularity.  The exact method finds duplicated ≥50-token substrings
# with a suffix array; a suffix array over 100 TB is not a Spark-shaped
# object, but the same signal — "what fraction of this document's token
# spans also appear verbatim elsewhere in the corpus?" — falls out of a
# positional n-gram pass: two hash-keyed aggregations and one equi-join,
# all shuffling 8-byte gram hashes, never strings and never O(N²).
# ---------------------------------------------------------------------------

def positional_ngrams(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every word ``n``-gram occurrence (NOT deduplicated) per doc →
    (doc_id, sh BIGINT).  Docs shorter than ``n`` tokens contribute one
    whole-text gram so every document stays in downstream stats."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
                ),
            ).otherwise(F.array(F.array_join(F.col("t"), " "))),
        ).alias("gram"),
    )
    return grams.select("doc_id", _hash64(F.col("gram")).alias("sh"))


def substring_span_stats(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span fraction →
    (doc_id, n_grams, dup_grams, dup_frac).

    A gram occurrence is *duplicated* when the same n-gram appears in
    ≥2 distinct documents corpus-wide.  ``dup_frac`` is the fraction of
    this doc's gram positions that are duplicated — the thresholding
    signal for span-level dedup / repetition-heavy doc removal.

    Scale shape: gram occurrences first collapse to per-(doc, gram)
    counts — one map-side-combinable shuffle that also makes the gram
    explosion single-pass — then document frequency is a count over
    that already-distinct pair table, and the join back is a keyed
    equi-join on the 8-byte hash. The df table can optionally be
    pre-filtered to df≥2 and broadcast when the duplicated-gram
    universe is small."""
    occ = (
        positional_ngrams(docs, n, id_col, text_col)
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    # occ is unique per (doc, gram), so COUNT(*) == COUNT(DISTINCT doc)
    df_tab = occ.groupBy("sh").agg(F.count(F.lit(1)).alias("gram_docs"))
    per = (
        occ.join(df_tab, "sh")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_grams"),
            F.sum(
                F.when(F.col("gram_docs") >= 2, F.col("n_occ")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_grams"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "dup_grams",
        F.round(F.col("dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
    )


def duckdb_substring_span_cte(
    table: str, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """CTE ``span_stats(doc_id, n_grams, dup_grams, dup_frac)`` —
    identical positional-gram statistics in DuckDB."""
    gram_expr = (
        "CASE WHEN len(t) >= %d\n"
        "                THEN unnest(list_transform(range(1, len(t) - %d + 1),\n"
        "                       i -> array_to_string(list_slice(t, i, i + %d), ' ')))\n"
        "                ELSE array_to_string(t, ' ')\n"
        "           END" % (n, n - 1, n - 1)
    )
    return f"""
_ptoks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9_]+'), t -> t <> '') AS t
  FROM {table}
),
_pgrams AS (
  SELECT doc_id,
         {_duckdb_hash64(gram_expr)} AS sh
  FROM _ptoks
),
_pdf AS (
  SELECT sh, count(DISTINCT doc_id) AS gram_docs FROM _pgrams GROUP BY sh
),
span_stats AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN d.gram_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
         round(sum(CASE WHEN d.gram_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
  FROM _pgrams g JOIN _pdf d ON g.sh = d.sh
  GROUP BY g.doc_id
)"""


# ---------------------------------------------------------------------------
# LSH-threshold embedding dedup (SemDeDup-shaped): all pairs with
# cosine >= tau, candidates from sign-random-projection bands. The
# companion to embedding_neardup_topk for the 100 TB regime where the
# question is "which pairs exceed a high similarity bar", not "global
# top-k": banding is one equi-join shuffle, verification touches
# candidates only, and the whole pipeline (including the banding) is
# SQL-expressible, so the oracle checks it end to end.
# ---------------------------------------------------------------------------


# buckets at or below this row count verify through the band-key
# self-join (B² ≤ 128·N·bands rows corpus-wide — bounded); bigger
# buckets verify inside bounded GEMM groups. Sized so the join arm's
# worst case stays ~1% of what an unsplit join materializes on a
# sign-skewed 1M corpus while the GEMM arm stays a few thousand groups.
_GEMM_BUCKET_MIN = 128


def embedding_lsh_threshold_pairs(
    emb: DataFrame,
    planes: DataFrame,
    min_cos: float = 0.9,
    rows_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_id_col: str = "plane_id",
    plane_vec_col: str = "plane_vec",
    round_digits: int = 6,
    max_bucket_rows: int = 8192,
    bands_per_pass: int | None = None,
    shuffle_joins: bool = False,
    _stats_out: dict | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) for candidate pairs with cosine ≥
    ``min_cos``; candidates share at least one full sign band against
    the ``planes`` table (hyperplanes are DATA — e.g. a deterministic
    sample of the corpus — so the same banding is reproducible in any
    engine; contiguous ``plane_id`` 0..P-1, P divisible by
    ``rows_per_band``).

    Like MinHash-LSH, the banding is part of the operator's CONTRACT:
    a pair missed by every band is not returned (probability falls
    geometrically with bands for pairs above the bar), and the oracle
    twin replicates the identical banding, so both engines agree
    bit-for-bit.

    Scale shape (round 9): P·N tiny sign rows → groupBy(doc, band) →
    **hybrid verify** → exact-expression rerank of the survivors only.
    The verify used to be one band-key self-join whose output is
    Σ_buckets B² candidate ROWS before any similarity test — on
    sign-skewed corpora (a low-dimensional manifold puts a large
    fraction of the corpus into a handful of sign patterns) that
    materialized ~4×10⁹ pairs at 1M rows and went quadratic in shuffle
    volume. Now buckets ≤ ``_GEMM_BUCKET_MIN`` rows keep the self-join
    (their B² is bounded and SQL avoids per-group Arrow overhead over
    the huge small-bucket tail), while bigger buckets — 99%+ of the
    candidate volume under skew — ship each vector ONCE into an
    Arrow-batched ``applyInPandas`` GEMM group where only pairs at
    ≥ ``min_cos − slack`` ever become rows. Buckets above
    ``max_bucket_rows`` additionally sub-split into deterministic
    ``pmod(xxhash64(doc_id, band), n_sub)`` sub-blocks mined as
    sub-block PAIRS — the same task-memory bound as the exact miner's
    ``max_gemm_rows`` — so no task holds more than ~2·``max_bucket_rows``
    vectors regardless of bucket skew. The returned pair set is
    IDENTICAL to the pure-join plan's (each bucket is verified by
    exactly one arm; slack covers GEMM-vs-expression float drift plus
    the rounding quantum; final values come from the shared rounded
    cosine expression), which the DuckDB oracle pins.

    Disk posture at 10M+ (round 11, measured kill): verifying ALL
    bands in one job holds bands × N vector-carrying rows across the
    bucket shuffle, its sort, and the small-bucket self-join at once —
    ~50-60 GB of live spill for a 2.5 GB corpus at 10M×64×6 bands.
    ``bands_per_pass`` stages the verify into sequential band-subset
    passes, each eagerly checkpointed (candidate ids only — tiny) so
    the pass's shuffle files are GC-reclaimable before the next pass:
    peak disk divides by the pass count while the RETURNED PAIR SET is
    identical (band filters commute with both verify arms; the
    cross-band distinct runs over the union). ``shuffle_joins=True``
    pins the vector-side joins (bucket fill + final rerank) to
    shuffled-hash — the same size-estimate bug as the exact arm's
    rerank (a localCheckpointed synth corpus advertises 8 bytes/row,
    so the planner broadcast-builds the vector table through the
    driver). Both default OFF: small-corpus plans stay byte-identical
    to the recorded oracle-green shapes."""
    from pyspark.sql.types import StructField, StructType

    from fastpyvectordb_spark.functions.distances import (
        EPS as _EPS,
        cosine_similarity,
        dot,
    )

    p = F.broadcast(
        planes.select(
            F.col(plane_id_col).alias("_pid"),
            F.col(plane_vec_col).alias("_pvec"),
        )
    )
    signs = emb.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_v")
    ).crossJoin(p).select(
        "doc_id",
        (F.col("_pid") / rows_per_band).cast("int").alias("band"),
        F.pmod(F.col("_pid"), F.lit(rows_per_band)).cast("int").alias("bit"),
        # sign on the ROUNDED dot: the raw sums can differ by 1 ulp
        # between engines (summation association), and an unrounded
        # >= 0 would flip a band bit — the same round-before-compare
        # discipline the whole suite uses
        (F.round(dot(F.col("_v"), F.col("_pvec")), 4) >= 0).alias("pos"),
    )
    keys = signs.groupBy("doc_id", "band").agg(
        F.sum(
            # SQL shiftleft: the PySpark wrapper only takes an int
            # literal for numBits, the bit position here is a column
            F.when(F.col("pos"), F.expr("shiftleft(1, bit)")).otherwise(
                F.lit(0)
            )
        ).alias("bkey")
    ).localCheckpoint()
    if _stats_out is not None:  # scale telemetry (bucket skew audit)
        top = (
            keys.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"))
            .collect()[0]
        )
        _stats_out["max_bucket_rows_seen"] = int(top["mx"] or 0)
        _stats_out["max_bucket_rows_cap"] = max_bucket_rows

    # hybrid verify: small buckets keep the band-key self-join (B² is
    # tiny there and SQL avoids per-group Arrow overhead across the
    # huge number of small buckets); buckets above _GEMM_BUCKET_MIN go
    # through the GEMM miner (B² through a join is where sign skew
    # explodes — at 1M on a manifold corpus the >128-row buckets hold
    # 99.4% of the 4×10⁹ candidate pairs but only ~9k groups). Each
    # (band, bkey) bucket is verified by exactly ONE arm, so the
    # unioned candidate set equals the pure-join plan's.
    # bucket size via a count() window over the SAME (band, bkey)
    # partitioning — one shuffle, no second aggregate-and-join (the
    # aggregate+re-join formulation planned an avoidable SortMergeJoin)
    from pyspark.sql import Window as _W

    def _verify_cands(keys_df: DataFrame) -> DataFrame:
        """(xa, xb) candidates for the buckets in ``keys_df`` — the
        hybrid small-join / GEMM-group verify over one band subset."""
        keyed = keys_df.withColumn(
            "_cnt",
            F.count(F.lit(1)).over(_W.partitionBy("band", "bkey")),
        )
        small = keyed.filter(F.col("_cnt") <= _GEMM_BUCKET_MIN)
        a = small.alias("a")
        # shuffle-hash, not sort-merge: band keys are low-cardinality
        # and the small-bucket arm is sized so per-key blocks stay tiny
        b = small.alias("b").hint("shuffle_hash")
        join_cands = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("xa"), F.col("b.doc_id").alias("xb")
            )
        )
        big_keyed = keyed.filter(F.col("_cnt") > _GEMM_BUCKET_MIN)
        if shuffle_joins:
            big_keyed = big_keyed.hint("shuffle_hash")
        rows = (
            big_keyed
            .join(
                emb.select(
                    F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_v")
                ),
                "doc_id",
            )
            .withColumn(
                "_nsub",
                F.ceil(F.col("_cnt") / F.lit(max_bucket_rows)).cast("int"),
            )
            .withColumn(
                "_sub",
                F.pmod(
                    F.xxhash64(F.col("doc_id"), F.col("band")),
                    F.col("_nsub"),
                ).cast("int"),
            )
            # each row fans to its sub-block PAIR groups: with every
            # other sub t of the same bucket — (least, greatest) names
            # the group; the row is side 0 when its own sub is the
            # lesser (or the triangle t == _sub), side 1 otherwise.
            # n_sub == 1 (the normal case) fans to exactly one
            # triangle group.
            .withColumn(
                "_t", F.explode(F.sequence(F.lit(0), F.col("_nsub") - 1))
            )
            .select(
                "doc_id",
                "band",
                "bkey",
                "_v",
                F.least("_sub", "_t").alias("_ga"),
                F.greatest("_sub", "_t").alias("_gb"),
                F.when(F.col("_sub") <= F.col("_t"), F.lit(0))
                .otherwise(F.lit(1))
                .alias("_side"),
            )
        )
        return (
            rows.groupBy("band", "bkey", "_ga", "_gb")
            .applyInPandas(_mine_thr, schema=cand_schema)
            .unionByName(join_cands)
        )

    id_type = emb.schema[id_col].dataType
    id_np = (
        "int64" if id_type.typeName() in ("long", "integer") else "object"
    )
    cand_schema = StructType(
        [StructField("xa", id_type), StructField("xb", id_type)]
    )
    # any pair whose ROUNDED exact-expression cosine can reach min_cos
    # survives the GEMM cut: |GEMM − expression| ≤ ~1e-13 (same
    # formula, summation order only) and rounding moves ≤ half a
    # quantum — the exact miner's slack argument
    thr = min_cos - (2.0 * (10.0 ** (-round_digits)) + 1e-9)

    def _mine_thr(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"xa": [], "xb": []}).astype(
            {"xa": id_np, "xb": id_np}
        )
        a = pdf[pdf["_side"] == 0]
        if not len(a):
            return empty
        ids_a = a["doc_id"].to_numpy()
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a["_v"]])
        na = np.linalg.norm(A, axis=1) + _EPS
        b = pdf[pdf["_side"] == 1]
        # `same` comes from the GROUP KEY (_ga == _gb names the
        # triangle group), never from side-1 emptiness: a cross pair
        # group whose side-1 sub hashed empty must return empty, not
        # re-mine the side-0 triangle that the (ga, ga) group already
        # produces
        same = key[2] == key[3]
        if same:
            if len(ids_a) < 2:
                return empty
            ids_b, B, nb = ids_a, A, na
        elif not len(b):
            return empty
        else:
            ids_b = b["doc_id"].to_numpy()
            B = np.stack([np.asarray(v, dtype=np.float64) for v in b["_v"]])
            nb = np.linalg.norm(B, axis=1) + _EPS
        out_a, out_b = [], []
        # bound the sim-matrix at ~32M doubles per chunk (the exact
        # miner's chunking); thresholding is chunk-independent
        step = max(1, 32_000_000 // max(len(ids_b), 1))
        for s in range(0, len(ids_a), step):
            e = min(s + step, len(ids_a))
            S = (A[s:e] @ B.T) / np.outer(na[s:e], nb)
            if same:
                keep_m = (
                    np.arange(len(ids_b))[None, :]
                    > np.arange(s, e)[:, None]
                ) & (S >= thr)
            else:
                keep_m = S >= thr
            ri, cj_ = np.nonzero(keep_m)
            if len(ri):
                out_a.append(ids_a[s:e][ri])
                out_b.append(ids_b[cj_])
        if not out_a:
            return empty
        xa = np.concatenate(out_a)
        xb = np.concatenate(out_b)
        lo = np.minimum(xa, xb)
        hi = np.maximum(xa, xb)
        return pd.DataFrame({"xa": lo, "xb": hi})

    if bands_per_pass is not None:
        all_bands = sorted(
            r["band"] for r in keys.select("band").distinct().collect()
        )
    else:
        all_bands = []
    if bands_per_pass is not None and bands_per_pass < len(all_bands):
        # sequential band-subset passes: each pass's candidates (id
        # pairs only — tiny) are EAGERLY checkpointed so the pass's
        # vector-carrying bucket shuffle and sort files lose their
        # last reference and the context cleaner reclaims the disk
        # before the next pass starts — peak spill divides by the
        # pass count, pair set unchanged
        parts = []
        for lo in range(0, len(all_bands), bands_per_pass):
            sub = all_bands[lo:lo + bands_per_pass]
            parts.append(
                _verify_cands(
                    keys.filter(F.col("band").isin(sub))
                ).localCheckpoint()
            )
        raw = parts[0]
        for extra in parts[1:]:
            raw = raw.unionByName(extra)
    else:
        raw = _verify_cands(keys)
    cands = (
        # a pair can collide in several bands — candidates, not results
        raw.distinct()
        .select(F.col("xa").alias("id_a"), F.col("xb").alias("id_b"))
    )
    if shuffle_joins:
        cands = cands.hint("shuffle_hash")
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    joined = cands.join(va, "id_a")
    if shuffle_joins:
        joined = joined.hint("shuffle_hash")
    return (
        joined
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("_va"), F.col("_vb")), round_digits
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cos)
    )


# ---------------------------------------------------------------------------
# Line-level exact dedup with document reconstruction (C4 / RefinedWeb
# pipeline stage): duplicate *segments* are removed corpus-wide keeping
# the FIRST occurrence (by (doc_id, position)), and every document is
# reconstructed from its surviving segments. The driver corpus has no
# newlines, so "lines" are fixed word windows — the operator takes the
# segmentation width; the retention/reconstruction machinery is the
# real subject.
# ---------------------------------------------------------------------------


def line_dedup_reconstruct(
    docs: DataFrame,
    words_per_line: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (doc_id, n_total, n_kept, text_out): per-document segment
    counts and the text rebuilt from globally-first-seen segments.

    Scale shape: segments shuffle ONCE by their 60-bit hash (the
    first-occurrence window), then once by doc for reconstruction —
    both keyed; the segment STRING rides only to the reconstruct step,
    never through a self-join. Exact duplicates of whole documents
    reconstruct to empty (every segment already seen at a lower
    doc_id), which is the C4 behavior that makes whole-corpus copies
    vanish without a document-level pass."""
    from pyspark.sql import Window

    w = words_per_line
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    # zero-token docs (empty / punctuation-only) are filtered ABOVE the
    # explode: with n_segs=0, F.sequence(0, -1) would auto-reverse into
    # the two phantom segments [0, -1] instead of an empty array; the
    # base left-join below still emits them with n_total=0 / n_kept=0,
    # matching C4 semantics and the DuckDB oracle's range(0, 0)
    n_segs = F.floor((F.size("t") + (w - 1)) / w).cast("int")
    segs = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(F.col("t"), i * w + 1, w), " ").alias(
                        "seg"
                    ),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_total"))
    first = segs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(_hash64(F.col("seg"))).orderBy("doc_id", "pos")
        ),
    ).filter(F.col("rn") == 1)
    rebuilt = first.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("text_out"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_total", F.lit(0)).alias("n_total"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_out", F.lit("")).alias("text_out"),
        )
    )
