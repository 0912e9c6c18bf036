"""Training-data pipeline queries over documents/embeddings/events:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + LSH ANN), text analysis, multimodal
plumbing, and event sessionization / JSON extraction.

Every deterministic operator carries a full DuckDB oracle (md5-based hashing
keeps both engines bit-identical); inherently approximate or Python-UDF ops
are rows-only with accuracy/recall tests in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from impalatogo_spark.operators import dedup as D
from impalatogo_spark.operators import maintenance as MT
from impalatogo_spark.operators import multimodal as M
from impalatogo_spark.operators import scale as SC
from impalatogo_spark.operators import similarity as S
from impalatogo_spark.operators import sketches as K
from impalatogo_spark.operators import text as X
from impalatogo_spark.queries import register
from impalatogo_spark.session import register_tables, table, tracked_persist


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


# ===========================================================================
# Deduplication
# ===========================================================================

@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS copies
FROM documents GROUP BY md5(text)
""",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (shuffle carries the 32-byte
    hash, not the document)."""
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents")).select(
        "fp", "keep_id", "copies"
    )


@register(
    "dedup_minhash_lsh",
    oracle=D.minhash_lsh_oracle(threshold=0.5),
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash->LSH->verify near-dup pipeline: word-3-gram shingles,
    16 md5 minhashes, 4 bands x 4 rows, exact-Jaccard verification >= 0.5 on
    candidates only. Deterministic (md5) so the DuckDB oracle reproduces it
    exactly. Scale: one groupBy for signatures, bucketed join for candidates
    — never an all-pairs product."""
    # ONE persisted shingle derivation feeds BOTH the signature pass and
    # the verify joins: min() over the distinct shingle set equals min()
    # over the multiset (duplicate-insensitive), so signatures off the
    # persisted distinct frame are bit-identical while the scan + split +
    # explode pipeline runs once instead of twice (r07 optimization pass).
    # At 100 TB use DISK_ONLY or a checkpointed table instead of memory
    # cache.
    docs = _t(spark, sf_dir, "documents")
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    return D.verify_jaccard(cand, sh, threshold=0.5)


@register(
    "dedup_simhash",
    oracle=D.simhash_oracle(),
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (16 conditional sums in one groupBy)."""
    return D.simhash(_t(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH sims AS ({D.simhash_oracle()})
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sims a JOIN sims b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    tags=("dedup",),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming<=3 using the BANDED simhash join (pigeonhole
    over 4 bit-chunks) — the scale path; the oracle uses the quadratic form,
    proving the banding loses nothing."""
    sim = D.simhash(_t(spark, sf_dir, "documents"))
    return D.simhash_pairs_banded(sim, max_hamming=3)


_JACCARD_MAX_DF = 50  # stop-shingle cap: identical on Spark and oracle sides


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh0 AS ({D.word_shingles_oracle()}),
hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > {_JACCARD_MAX_DF}),
sh AS (SELECT sh0.* FROM sh0 ANTI JOIN hot ON sh0.g = hot.g),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id)
SELECT id_a, id_b, round(inter * 1.0 / (na.n + nb.n - inter), 4) AS jaccard
FROM pairs JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.3
""",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.3 via the shingle-join form: pairs sharing
    zero shingles never materialize (the join on `g` is the candidate
    generator — no cross product).

    Shingles with document frequency > _JACCARD_MAX_DF are dropped as
    stopword shingles BEFORE the join, on both sides (operators/dedup.py::
    cap_shingle_df): without the cap, one boilerplate shingle at 100 TB puts
    O(DF^2) pair work on a single shuffle partition. Jaccard is then exact
    over the capped shingle sets."""
    sh = tracked_persist(
        D.cap_shingle_df(
            D.word_shingles(_t(spark, sf_dir, "documents")), _JACCARD_MAX_DF
        )
    )
    sa = sh.select(F.col("id").alias("id_a"), "g")
    sb = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        sa.join(sb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= 0.3)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "dedup_containment",
    oracle=f"""
WITH sh0 AS ({D.word_shingles_oracle()}),
hot AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) > {_JACCARD_MAX_DF}),
sh AS (SELECT sh0.* FROM sh0 ANTI JOIN hot ON sh0.g = hot.g),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id)
SELECT id_a, id_b,
       round(inter * 1.0 / least(na.n, nb.n), 4) AS containment
FROM pairs JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
WHERE inter * 2 >= least(na.n, nb.n)
""",
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup via the overlap coefficient
    |A∩B| / min(|A|,|B|) >= 0.5 — catches a short document contained
    verbatim inside a longer one, which symmetric Jaccard misses (the
    union denominator drowns the small side). Same capped shingle-join
    candidate generator as dedup_ngram_jaccard; the threshold test is the
    integer comparison 2*inter >= min(na, nb) so borderline membership
    never rides a float boundary (the reported score is display-only)."""
    sh = tracked_persist(
        D.cap_shingle_df(
            D.word_shingles(_t(spark, sf_dir, "documents")), _JACCARD_MAX_DF
        )
    )
    sa = sh.select(F.col("id").alias("id_a"), "g")
    sb = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        sa.join(sb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    m = F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(F.col("inter") * 2 >= m)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / m, 4).alias("containment"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (
  {S.sign_bands_auto_oracle("embeddings")}
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
)
SELECT id_a, id_b,
       round(list_dot_product(a.emb, b2.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b2.emb, b2.emb))),
             4) AS cos_sim
FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b
WHERE round(list_dot_product(a.emb, b2.emb)
            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b2.emb, b2.emb))),
            4) >= 0.45
""",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45) via the SCALE path:
    sign-band blocking (pigeonhole on the embedding's own sign pattern) as
    the candidate generator, then exact rounded cosine verify — the plan is
    a (band, key) hash equijoin, never the O(n^2) id_a < id_b cross form.
    The oracle mirrors the banding exactly (sign tests have no float
    arithmetic, so the candidate set is bit-identical across engines); the
    all-pairs exact form survives as cosine_pairs(), the subset-asserting
    oracle twin in tests/test_similarity.py. Band width auto-steps with
    the corpus row count (r07: at a fixed width random-collision
    candidates grow ~n^2 * 2^-bits — the sf1 SUPER class; the step table
    is mirrored in the oracle as a CASE over count(*))."""
    raw = _t(spark, sf_dir, "embeddings")
    e = S.with_double_embedding(raw)
    return S.sign_band_pairs_auto(e, threshold=0.45, n_rows=raw.count())


# ===========================================================================
# Similarity search
# ===========================================================================

@register(
    "ann_topk_bruteforce",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
scored AS (
  SELECT q_id, vec_id,
         round(list_dot_product(q_emb, emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb))),
               4) AS cos_sim
  FROM q JOIN e ON q_id <> vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
SELECT q_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
""",
    tags=("similarity",),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 5): broadcast queries x
    partitioned corpus, per-query top-k via window — the correct baseline at
    any corpus size when |queries| is small."""
    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return S.brute_force_topk(e, q, k=5)


@register(
    "ann_topk_filtered",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
      FROM e WHERE vec_id < 5),
scored AS (
  SELECT q_id, vec_id,
         round(list_dot_product(q_emb, emb)
               / (sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(emb, emb))),
               4) AS cos_sim
  FROM q JOIN e ON q_id <> vec_id AND e.label = q.q_label
),
ranked AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
SELECT q_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
""",
    tags=("similarity", "filtered"),
)
def ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED exact vector search (the FAISS IDSelector /
    vector-store payload-filter shape): each query's top-5 is computed
    ONLY over corpus vectors sharing the query's label — the metadata
    predicate prunes candidates BEFORE any scoring (pre-filtering), so
    scored work shrinks by the filter's selectivity instead of
    post-filtering an oversized unfiltered top-k (which can return < k
    valid hits). Same broadcast-queries + per-query window recipe as
    ann_topk_bruteforce; at 100 TB a label-partitioned corpus layout turns
    the same predicate into partition pruning at the scan."""
    from pyspark.sql import Window as W

    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"))
    joined = e.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("vec_id"))
        & (F.col("label") == F.col("q_label")))
    scored = joined.select(
        "q_id", "vec_id",
        F.round(S.cosine(F.col("q_emb"), F.col("embedding")), 4)
        .alias("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "vec_id", "cos_sim", "rnk"))


@register(
    "embedding_matryoshka_fidelity",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb, emb[1:16] AS q_emb16
      FROM e WHERE vec_id < 5),
scored AS (
  SELECT q_id, vec_id,
         round(list_dot_product(q_emb, emb)
               / (sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(emb, emb))), 4) AS cos_full,
         round(list_dot_product(q_emb16, emb[1:16])
               / (sqrt(list_dot_product(q_emb16, q_emb16))
                  * sqrt(list_dot_product(emb[1:16], emb[1:16]))),
               4) AS cos_trunc
  FROM q JOIN e ON q_id <> vec_id
),
ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_full DESC, vec_id) AS rnk_full,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_trunc DESC, vec_id) AS rnk_trunc
  FROM scored
)
SELECT q_id,
       CAST(count(*) FILTER (WHERE rnk_full <= 5 AND rnk_trunc <= 5)
            AS BIGINT)                                      AS n_overlap_at_5,
       CAST(max(CASE WHEN rnk_full = 1 THEN vec_id END)
            AS BIGINT)                                      AS full_top1,
       CAST(max(CASE WHEN rnk_trunc = 1 THEN vec_id END)
            AS BIGINT)                                      AS trunc_top1,
       CAST(max(CASE WHEN rnk_full = 1 THEN rnk_trunc END)
            AS BIGINT)                                      AS trunc_rank_of_top1
FROM ranked GROUP BY q_id ORDER BY q_id
""",
    tags=("similarity", "embedding"),
)
def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Matryoshka / dimension-truncation fidelity audit (Kusupati et al.
    2022 MRL, public): how well the FIRST 16 of 64 embedding dims preserve
    the full-width nearest-neighbor structure — per query: top-5 overlap
    between full and truncated rankings, both top-1 ids, and where the
    true top-1 lands under truncation. The go/no-go diagnostic before
    shrinking a 100 TB vector corpus 4x by prefix truncation. Exactly the
    brute-force recipe twice over one scored pass (two windows share the
    q_id partition — ONE shuffle); integer outputs, 4dp-rounded cosine
    with vec_id tie-breaks for cross-engine determinism."""
    from pyspark.sql import Window as W

    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.slice(F.col("embedding"), 1, 16).alias("q_emb16"))
    pairs = e.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
    scored = pairs.select(
        "q_id", "vec_id",
        F.round(S.cosine(F.col("q_emb"), F.col("embedding")), 4)
        .alias("cos_full"),
        F.round(S.cosine(F.col("q_emb16"),
                         F.slice(F.col("embedding"), 1, 16)), 4)
        .alias("cos_trunc"))
    wf = W.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wt = W.partitionBy("q_id").orderBy(F.desc("cos_trunc"), F.asc("vec_id"))
    ranked = scored.select(
        "q_id", "vec_id",
        F.row_number().over(wf).alias("rnk_full"),
        F.row_number().over(wt).alias("rnk_trunc"))
    return (ranked.groupBy("q_id").agg(
        F.count(F.when((F.col("rnk_full") <= 5)
                       & (F.col("rnk_trunc") <= 5), 1))
        .alias("n_overlap_at_5"),
        F.max(F.when(F.col("rnk_full") == 1, F.col("vec_id")))
        .alias("full_top1"),
        F.max(F.when(F.col("rnk_trunc") == 1, F.col("vec_id")))
        .alias("trunc_top1"),
        F.max(F.when(F.col("rnk_full") == 1, F.col("rnk_trunc")))
        .cast("long").alias("trunc_rank_of_top1"))
        .orderBy("q_id"))


@register(
    "ann_topk_lsh",
    oracle=None,  # approximate by construction; recall vs brute force asserted in tests/test_similarity.py
    tags=("similarity", "approx"),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5 (8 md5-derived planes, bucket probe).
    Rows-only at the driver; recall >= 0.4 vs brute force is asserted in
    tests/test_similarity.py (single-probe LSH on 64-dim data)."""
    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return S.lsh_ann_topk(e, q, n_dims=64, k=5)


# ===========================================================================
# Text analysis
# ===========================================================================

@register(
    "text_lang_id",
    oracle=X.lang_scores_oracle().replace(
        "SELECT doc_id, lang,", "SELECT doc_id, lang,"
    ),
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic; outputs prediction next to the
    dataset's lang label (the synthetic corpus shares one vocabulary across
    labels, so accuracy is not the test — engine parity is)."""
    docs = _t(spark, sf_dir, "documents")
    return X.lang_scores(docs).select("doc_id", "lang", "pred_lang")


@register(
    "text_quality",
    oracle=X.quality_features_oracle(),
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features + composite score."""
    return X.quality_features(_t(spark, sf_dir, "documents"))


@register(
    "text_token_stats",
    oracle=X.TOKEN_STATS_ORACLE,
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + distinct + BPE-ish chars/4 estimate)."""
    return X.token_stats(_t(spark, sf_dir, "documents"))


@register(
    "text_repetition_quality",
    oracle=X.REPETITION_ORACLE,
    tags=("text", "quality"),
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate-word/-bigram fraction,
    top-word mass, keep flag) — the standard pre-training quality gate the
    reference's engine would express as a scan+agg pipeline. Scale notes in
    operators/text.py::repetition_features."""
    return X.repetition_features(_t(spark, sf_dir, "documents"))


@register(
    "text_contamination",
    oracle=X.contamination_oracle(),
    tags=("text", "dedup"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 3-gram containment of each training doc
    against a broadcast benchmark corpus (deterministic stand-in: doc_id %
    100 == 0), integer-exact 10% threshold. Scale notes in
    operators/text.py::contamination_pairs."""
    return X.contamination_pairs(_t(spark, sf_dir, "documents"))


@register(
    "text_chunking",
    oracle=X.chunk_windows_oracle(),
    tags=("text",),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows (50-token chunks, 40-token
    stride) — the pre-tokenization chunking step. Shuffle-free (scan ->
    split -> explode -> slice, fully pipelined); scale notes in
    operators/text.py::chunk_windows."""
    return X.chunk_windows(_t(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=X.fingerprint_oracle(),
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of space-collapsed text) + 60-bit numeric key."""
    return X.fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "text_winnow_fingerprints",
    oracle=X.winnow_oracle(k=5, w=4),
    tags=("text", "dedup", "fingerprint"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): Rabin-Karp polynomial hashes of every 5-gram, minimum per
    4-gram sliding window, distinct fingerprint set per document — the
    local fingerprinting scheme that guarantees any shared substring of
    length >= w+k-1 shares a fingerprint while keeping O(n/w)
    fingerprints. Exact-integer end to end; the per-doc summary
    (counts + min/max/sum of the fingerprint set) is the registered
    contract. See operators/text.py::winnow_fingerprints for the
    scale shape."""
    return X.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, w=4)


# ===========================================================================
# Multimodal plumbing (Pandas UDF / mapInPandas path)
# ===========================================================================

@register(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       [ (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16.0
         + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1),
         (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16.0
         + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1),
         (strpos('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16.0
         + (strpos('0123456789abcdef', substr(md5(text), 6, 1)) - 1),
         (strpos('0123456789abcdef', substr(md5(text), 7, 1)) - 1) * 16.0
         + (strpos('0123456789abcdef', substr(md5(text), 8, 1)) - 1) ]
       :: DOUBLE[] AS feature_scaled
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas (Arrow-batched).
    Decode is a deterministic fake (md5-derived bytes) so the oracle can
    reproduce it; the binary plumbing (encode -> mapInPandas -> typed array
    output) is the real thing. feature_scaled = raw md5 bytes (x255) to keep
    the oracle in exact integer-valued doubles."""
    payload = M.attach_binary_payload(_t(spark, sf_dir, "documents"))
    feats = M.extract_features(payload)
    return feats.select(
        "doc_id",
        "n_bytes",
        "content_hash",
        F.transform(F.col("feature"), lambda v: F.round(v * 255.0, 1)).alias(
            "feature_scaled"
        ),
    )


# ===========================================================================
# Events: sessionization, JSON extraction, time-window rollups
# ===========================================================================

@register(
    "events_sessionize",
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value,
       CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us
FROM sessions
GROUP BY user_id, session_id
""",
    tags=("events", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    session ids, then per-session rollup — the standard scalable form (two
    window passes over user_id partitions, no iterative logic)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("duration_us"),
    )


@register(
    "events_json_extract",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("events", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column — the Spark-native
    equivalent of the reference's NESTED PATH JSON scan (SURVEY.md §2.1,
    be/src/exec/delimited-text-parser-json.cc): get_json_object flattens the
    document into scalar columns at scan time."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


@register(
    "events_tumbling_window",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    tags=("events", "window"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window rollup (batch form; the streaming twin with
    watermarks lives in impalatogo_spark.streaming and is checked against
    this exact query in tests/test_streaming.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "ann_topk_ivf",
    oracle=None,  # k-means cells are engine-specific; recall bound in tests/test_similarity.py
    tags=("similarity", "approx"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (k-means coarse quantizer, 4-probe): the second scale
    path for similarity search next to LSH (SURVEY §8). Deterministic: the
    cells come from the engine's integer k-means; recall >= 0.9 vs brute
    force asserted in tests/test_similarity.py."""
    from impalatogo_spark.operators.similarity import ivf_ann_topk, ivf_index

    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    assigned, centroids = ivf_index(e, n_cells=8)
    return ivf_ann_topk(assigned, centroids, q, k=5, n_probe=4)


@register(
    "events_user_trend",
    oracle="""
WITH base AS (
  SELECT user_id, epoch_us(ts) / 3.6e9 AS x, value AS y FROM events
),
stats AS (
  SELECT user_id, count(*) AS n, avg(x) AS mx, avg(y) AS my FROM base GROUP BY user_id
)
SELECT b.user_id, s.n,
       round(sum((b.x - s.mx) * (b.y - s.my)) / sum((b.x - s.mx) * (b.x - s.mx)), 6)
           AS slope,
       round(s.my, 6) AS mean_value
FROM base b JOIN stats s ON b.user_id = s.user_id
GROUP BY b.user_id, s.n, s.my
""",
    tags=("events", "pandas-udf"),
)
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user linear trend of event values.
    The pandas covariance computation matches the oracle's closed form
    (centered moments) to 6dp."""
    from impalatogo_spark.operators.multimodal import user_value_trend

    ev = _t(spark, sf_dir, "events")
    out = user_value_trend(ev)
    return out.select(
        "user_id",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("mean_value", 6).alias("mean_value"),
    )


@register(
    "topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
) t WHERE rnk <= 3
""",
    tags=("pipeline", "window"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (longest 3 docs per language) — the workhorse
    selection op of data curation, as a window + filter (one shuffle on the
    group key; TakeOrderedAndProject doesn't apply per-group, so this IS the
    scale-correct form)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "text_normalize",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_hash
FROM documents
""",
    tags=("text",),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, strip non-alphanumerics, collapse
    whitespace — the canonical pre-dedup cleanup pass. Regex restricted to
    the RE2-and-Java-common subset ([^a-z0-9 ], ' +')."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_hash")
    )


@register(
    "sample_stratified",
    oracle=None,  # engine-specific sampling; determinism + per-stratum bounds in tests
    tags=("pipeline", "approx"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): different fractions per language —
    the data-mixing primitive for training-corpus composition. Seeded ->
    deterministic; per-stratum rates asserted in tests/test_functions.py."""
    fractions = {"en": 0.5, "de": 0.3, "es": 0.3, "fr": 0.2, "zh": 0.1}
    return (
        _t(spark, sf_dir, "documents")
        .sampleBy("lang", fractions, seed=42)
        .select("doc_id", "lang")
    )


@register(
    "text_bpe_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
           AS n_regex_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]{1,4}')) AS BIGINT)
           AS n_subword_tokens
FROM documents
""",
    tags=("text",),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization: word/number/punct token count plus a
    greedy <=4-char subword count (the standard chars/4-style BPE proxy made
    explicit). regexp_extract_all exists in both engines; pattern stays in
    the RE2-and-Java-common subset."""
    lower = F.lower(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.regexp_extract_all(lower, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
        ).cast("long").alias("n_regex_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit("[a-z]{1,4}"), F.lit(0))).cast(
            "long"
        ).alias("n_subword_tokens"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id,
       CAST(i AS INT) AS frame_no,
       CAST(length(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT) AS frame_bytes,
       md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_hash
FROM documents,
     LATERAL (SELECT unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS i)
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-to-N frame sampling via mapInPandas: each document's binary payload
    becomes ceil(len/64) frame rows with per-frame hashes. Oracle equivalence
    holds because the corpus is ASCII (byte chunks == char chunks); the
    Spark side genuinely operates on bytes."""
    from impalatogo_spark.operators import multimodal as MM

    payload = MM.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return MM.sample_frames(payload)


@register(
    "multimodal_resize",
    oracle=None,  # set below after import (generated oracle)
    tags=("multimodal", "pandas-udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub via mapInPandas: binary payload -> fixed-shape 4x4
    thumbnail tensor (md5-derived fake; real PIL resize plugs in)."""
    from impalatogo_spark.operators import multimodal as MM

    payload = MM.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return MM.fake_resize_4x4(payload)


# attach the generated oracle (ASCII corpus: md5(payload) == md5(text))
from impalatogo_spark.operators.multimodal import thumbnail_oracle as _thumb_oracle  # noqa: E402
from impalatogo_spark.queries import _REGISTRY as _R  # noqa: E402
from dataclasses import replace as _replace  # noqa: E402

_R["multimodal_resize"] = _replace(_R["multimodal_resize"], oracle=_thumb_oracle())


@register(
    "dedup_clusters_star",
    oracle=D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5)),
    tags=("dedup", "graph"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as dedup_clusters, computed by the
    large-star/small-star algorithm (Kiveris et al.) — the O(log n)-round
    scale path for long-chain / high-degree components. Sharing the
    recursive-CTE oracle with the propagation variant proves the two
    algorithms agree on every (node, component-min) assignment, not just on
    partition counts (the pytest equivalence check's weaker form)."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = tracked_persist(D.verify_jaccard(cand, sh, threshold=0.5))
    return D.connected_components_star(pairs)


@register(
    "dedup_incremental",
    oracle=D.incremental_oracle(threshold=0.5),
    tags=("dedup",),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the odd-doc_id half of `documents` arrives as a
    new batch and is deduplicated against the even-doc_id corpus — exact
    fingerprint anti-join, then cross-set MinHash-LSH near-dup detection.
    Each incoming doc gets status exact_dup / near_dup / kept. Scale notes
    in operators/dedup.py::incremental_dedup."""
    docs = _t(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    return D.incremental_dedup(incoming, corpus, threshold=0.5)


@register(
    "dedup_clusters",
    oracle=D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5)),
    tags=("dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    verified pairs — transitive near-dup groups with a canonical (min-id)
    representative per cluster. Spark side is iterative distributed
    min-label propagation (operators/dedup.py connected_components); the
    DuckDB oracle computes the same fixpoint with a recursive CTE, so this
    iterative/graph operator still gets a full value-checked gate."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = tracked_persist(D.verify_jaccard(cand, sh, threshold=0.5))
    return D.connected_components(pairs)


@register(
    "dedup_clusters_incremental",
    oracle=D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5)),
    tags=("dedup", "graph", "incremental"),
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup cluster maintenance (r05 verdict #7): the
    corpus arrives in THREE ingest rounds (doc_id % 4: {0,1} = the
    initial corpus, 2 = batch one, 3 = batch two). Round 0 clusters the
    initial corpus once; each later batch contributes only its INCIDENT
    verified pairs (batch-internal LSH + batch x cumulative bucket join),
    and the two batches are merged into the persisted (doc_id, cluster_id)
    state by ONE batched call to
    operators/dedup.py::incremental_components_update — connected
    components run on the O(batches) CONTRACTED graph, touched components
    relabel via a broadcast map, untouched components never shuffle.

    The oracle is the FULL RECOMPUTE over the whole corpus (the exact
    clusters_oracle dedup_clusters gates against), so the gate proves
    incremental == recompute after two ingest rounds, value-exact —
    the property that makes O(batch) cluster maintenance safe at 100 TB,
    where re-running global connected components per ingest is the
    bottleneck. Per-doc signatures are content hashes, so every verified
    pair is generated exactly once, at the round its later member
    arrives."""
    docs = _t(spark, sf_dir, "documents")
    # SIGNATURE STORE (r07 optimization pass): buckets and shingles are
    # per-document content hashes, so derive them ONCE over the full
    # corpus (persisted) and FILTER per ingest round — the previous form
    # re-derived the cumulative side from raw text every round (b0
    # shingled+hashed 3x, b1 2x; 26.5 s -> the bucket/shingle pipelines
    # run once). Bit-identical: filter(buckets(docs)) == buckets(batch),
    # which is exactly why a real incremental system persists the
    # signature table instead of re-hashing the grown corpus per ingest.
    # minhash over the DISTINCT shingle set equals minhash over the
    # multiset (min is duplicate-insensitive), so one shingle frame
    # serves both the signature and the verify paths.
    mod = F.col("id") % 4
    sh = tracked_persist(D.word_shingles(docs))
    bkts = tracked_persist(D.lsh_band_buckets(D.minhash_signatures(sh)))
    # Per-ROUND verify passes, deliberately: an earlier r08 attempt
    # collapsed the three Jaccard verifies into one pass over the union of
    # all candidate sets (value-identical) and it measured SLOWER at sf0.1
    # in a same-session 4-variant alternating A/B — min 11.2 s (one-verify
    # + batched update) / 20.5 s (one-verify + sequential updates) vs
    # 8.7-8.8 s for per-round verifies; the union.distinct of the three
    # candidate sets plus verifying every round's pairs against the FULL
    # shingle frame costs more than the two extra (small, filtered) verify
    # joins it saves. Measured, reverted — the §1 "ideal pass count" plan
    # lost to the gotcha, as the guide predicts it often does.
    cand0 = D.lsh_candidate_pairs(bkts.filter(mod <= 1))
    pairs0 = D.verify_jaccard(cand0, sh.filter(mod <= 1),
                              threshold=0.5).select("id_a", "id_b")
    state = D.connected_components(pairs0)
    # BATCHED two-round contraction (r07 verdict #3): connected components
    # over an edge-set union are order-independent (union-find merges are
    # associative/commutative), so applying both batches' incident pairs
    # in ONE contracted update equals the two sequential updates —
    # equivalence pinned by tests/test_similarity.py — at half the
    # per-ingest fixed cost (one contracted CC + one relabel, not two).
    # Same-box A/B: 8.78 s min and a 0.7 s run spread vs the sequential
    # form's 8.74 s min / 15.6 s spread — equal floor, far more stable.
    p1 = tracked_persist(D.batch_incident_pairs(
        None, None, b_cum=bkts.filter(mod <= 1),
        b_batch=bkts.filter(mod == 2), sh_all=sh.filter(mod <= 2)))
    p2 = tracked_persist(D.batch_incident_pairs(
        None, None, b_cum=bkts.filter(mod <= 2),
        b_batch=bkts.filter(mod == 3), sh_all=sh))
    state = D.incremental_components_update(state, p1.union(p2))
    return state


@register(
    "corpus_preference_pairs",
    oracle=f"""
WITH comp AS ({D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5))}),
q AS (
  SELECT doc_id,
         len(list_distinct(string_split(text, ' '))) AS uniq_words
  FROM documents
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.uniq_words,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.uniq_words DESC, c.doc_id ASC) AS rb,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.uniq_words ASC, c.doc_id DESC) AS rw
  FROM comp c JOIN q USING (doc_id)
),
sz AS (SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id)
SELECT r1.cluster_id,
       r1.doc_id AS chosen_id, r1.uniq_words AS chosen_uniq,
       r2.doc_id AS rejected_id, r2.uniq_words AS rejected_uniq
FROM ranked r1
JOIN ranked r2 ON r1.cluster_id = r2.cluster_id
JOIN sz ON sz.cluster_id = r1.cluster_id
WHERE r1.rb = 1 AND r2.rw = 1 AND sz.n >= 2
ORDER BY r1.cluster_id
""",
    tags=("pipeline", "preference", "graph"),
)
def corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining (the DPO/RLHF data shape): within every
    near-dup cluster of >= 2 documents, emit ONE (chosen, rejected) pair —
    the highest- and lowest-quality member under a strictly-unique integer
    key (distinct-word count, doc_id tie-break; round-4 rule: argmax under
    ties is engine-arbitrary, so the by-value is made unique). Near-dup
    clusters are where preference pairs are semantically safe to mine:
    the texts say the same thing, so the quality delta is stylistic, not
    topical. Clusters come from the MinHash-LSH + connected-components
    pipeline (same oracle machinery as dedup_clusters); per-cluster
    windows partition on cluster_id — thousands of small partitions,
    never partition-less. chosen != rejected is guaranteed for n >= 2
    because the two rankings are exact reverses."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(
        D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = tracked_persist(D.verify_jaccard(cand, sh, threshold=0.5))
    comp = tracked_persist(D.connected_components(pairs))
    q = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("uniq_words"))
    ranked = tracked_persist(
        comp.join(q, "doc_id")
        .withColumn("rb", F.row_number().over(
            W.partitionBy("cluster_id")
            .orderBy(F.desc("uniq_words"), F.asc("doc_id"))))
        .withColumn("rw", F.row_number().over(
            W.partitionBy("cluster_id")
            .orderBy(F.asc("uniq_words"), F.desc("doc_id")))))
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    chosen = ranked.filter(F.col("rb") == 1).select(
        "cluster_id", F.col("doc_id").alias("chosen_id"),
        F.col("uniq_words").alias("chosen_uniq"))
    rejected = ranked.filter(F.col("rw") == 1).select(
        "cluster_id", F.col("doc_id").alias("rejected_id"),
        F.col("uniq_words").alias("rejected_uniq"))
    return (
        chosen.join(rejected, "cluster_id")
        .join(sizes.filter(F.col("n") >= 2).select("cluster_id"),
              "cluster_id")
        .orderBy("cluster_id")
    )


@register(
    "corpus_unigram_drift",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
corpus AS (
  SELECT w, count(*) AS c FROM words WHERE doc_id % 4 <= 2 GROUP BY w
),
batch AS (
  SELECT w, count(*) AS c FROM words WHERE doc_id % 4 = 3 GROUP BY w
),
tot AS (
  SELECT (SELECT sum(c) FROM corpus) AS tc, (SELECT sum(c) FROM batch) AS tb
),
ppm AS (
  SELECT coalesce(corpus.w, batch.w) AS word,
         coalesce(corpus.c, 0) * 1000000 // tot.tc AS corpus_ppm,
         coalesce(batch.c, 0) * 1000000 // tot.tb AS batch_ppm
  FROM corpus FULL OUTER JOIN batch ON corpus.w = batch.w, tot
)
SELECT word, CAST(corpus_ppm AS BIGINT) AS corpus_ppm,
       CAST(batch_ppm AS BIGINT) AS batch_ppm,
       CAST(abs(corpus_ppm - batch_ppm) AS BIGINT) AS drift_ppm
FROM ppm
ORDER BY drift_ppm DESC, word
""",
    tags=("pipeline", "validation", "drift"),
)
def corpus_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-batch distribution drift gate: the unigram frequency
    distribution of an incoming batch (doc_id % 4 == 3) vs the existing
    corpus, in integer parts-per-million — the pre-merge QA check that
    catches a scraper regression or language shift BEFORE the batch
    pollutes the corpus (the distributional sibling of
    table_expectations). One groupBy per side over exploded words
    (map-side combined), a vocab-sized full outer join, integer division
    throughout (ppm = count * 1e6 div total — Spark DIV mirrored with
    DuckDB // per the session-4 rule). At 100 TB the vocab table is the
    only thing that ever reaches the driver-facing result."""
    words = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w"))
    corpus = words.filter(F.col("doc_id") % 4 <= 2).groupBy("w").agg(
        F.count(F.lit(1)).alias("c"))
    batch = words.filter(F.col("doc_id") % 4 == 3).groupBy("w").agg(
        F.count(F.lit(1)).alias("c"))
    tc = corpus.agg(F.sum("c").alias("tc"))
    tb = batch.agg(F.sum("c").alias("tb"))
    joined = (
        corpus.select(F.col("w").alias("cw"), F.col("c").alias("cc"))
        .join(batch.select(F.col("w").alias("bw"), F.col("c").alias("bc")),
              F.col("cw") == F.col("bw"), "full_outer")
        .crossJoin(F.broadcast(tc)).crossJoin(F.broadcast(tb))
        .select(
            F.coalesce("cw", "bw").alias("word"),
            F.expr("coalesce(cc, 0) * 1000000 div tc").alias("corpus_ppm"),
            F.expr("coalesce(bc, 0) * 1000000 div tb").alias("batch_ppm"),
        )
    )
    return joined.select(
        "word", "corpus_ppm", "batch_ppm",
        F.abs(F.col("corpus_ppm") - F.col("batch_ppm")).alias("drift_ppm"),
    ).orderBy(F.desc("drift_ppm"), "word")


@register(
    "dedup_edit_distance",
    oracle=D.edit_distance_oracle(k=8),
    tags=("dedup", "scale"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance self-join at levenshtein <= 8 (Ed-Join, Xiao
    et al. 2008): candidates ONLY from collisions among each document's
    k*q + 1 rarest positional q-grams (lossless by the q-gram lemma — see
    operators/dedup.py::edit_distance_pairs), plus a |len| <= k band;
    verification is Spark's BANDED 3-arg levenshtein (O(k*n) diagonal DP,
    -1 above the bound), never the full O(n*m) matrix. The oracle is the
    NAIVE length-banded all-pairs ground truth, so a MATCH proves the
    prefix filter lossless — the character-level sibling of
    dedup_jaccard_prefix_filter, and the edit-distance join shape that
    survives 100 TB (all-pairs DP is quadratic in documents AND in
    length)."""
    return D.edit_distance_pairs(
        _t(spark, sf_dir, "documents"), k=8, q=4).orderBy("id_a", "id_b")


@register(
    "dedup_substring_spans",
    oracle=D.substring_spans_oracle(k=8, min_count=2),
    tags=("dedup", "text"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (word-level suffix-array
    approximation, Lee et al.): positions whose 8-word gram repeats
    corpus-wide, merged into maximal per-document spans. Shuffles md5
    fingerprints only; scale notes in operators/dedup.py::substring_spans."""
    return D.substring_spans(_t(spark, sf_dir, "documents"), k=8, min_count=2)


@register(
    "dedup_survivors",
    oracle=D.survivors_oracle(D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5))),
    tags=("dedup", "graph"),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup survivor selection: MinHash-LSH verified pairs ->
    connected components -> one kept doc per cluster (max n_chars, min id
    tie-break as a packed-struct max — no per-cluster sort window). The
    'which rows do I actually drop' step a curation pipeline ends with."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = tracked_persist(D.verify_jaccard(cand, sh, threshold=0.5))
    return D.near_dup_survivors(docs, D.connected_components(pairs))


@register(
    "dedup_paragraph",
    oracle=D.paragraph_dedup_oracle(),
    tags=("dedup", "text"),
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup with document reassembly (C4-style): keep the
    globally-first occurrence of every 10-word segment, rebuild docs from
    surviving segments. Join/window-free two-shuffle shape — scale notes in
    operators/dedup.py::paragraph_dedup."""
    return D.paragraph_dedup(_t(spark, sf_dir, "documents"))


@register(
    "text_pii_redact",
    oracle=X.pii_redact_oracle(),
    tags=("text",),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers -> typed placeholders)
    with per-doc match counts; deterministic doc_id-derived contact block
    stands in for real PII (the corpus has none). Shuffle-free regex chain —
    scale notes in operators/text.py::pii_redact."""
    return X.pii_redact(_t(spark, sf_dir, "documents"))


@register(
    "pipeline_curate",
    oracle=X.curate_oracle(),
    tags=("pipeline", "dedup", "text"),
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end corpus curation: per-document verdict from four
    composed gates — language ID, quality score, exact dedup, benchmark
    decontamination — in one scan + one fingerprint window shuffle + the
    broadcast decontam join (operators/text.py::curate). The shape a 100 TB
    pretraining ingest runs nightly."""
    return X.curate(_t(spark, sf_dir, "documents"))


@register(
    "corpus_shard_stats",
    oracle=X.shard_stats_oracle(),
    tags=("pipeline", "scale"),
)
def corpus_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived shard assignment (md5-prefix % 16) with
    per-shard doc/token totals — the balanced corpus-writer primitive
    (operators/text.py::shard_stats). Re-run-stable: no Spark-internal hash
    in the contract."""
    return X.shard_stats(_t(spark, sf_dir, "documents"))


@register(
    "embedding_centroids",
    oracle=S.label_centroids_oracle(),
    tags=("similarity", "pipeline"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in skinny (label, dim, centroid) form —
    vector aggregation whose shuffle carries O(labels x dims) partial sums,
    never vectors (operators/similarity.py::label_centroids)."""
    return S.label_centroids(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_quantize",
    oracle=S.quantize_int8_oracle(),
    tags=("similarity", "pipeline"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization against per-dimension global ranges (the
    float32->uint8 compression pass for an embedding store), emitted as an
    exact per-vector integer signature. floor-based mapping keeps both
    engines bit-identical (operators/similarity.py::quantize_int8)."""
    return S.quantize_int8(_t(spark, sf_dir, "embeddings"))


@register(
    "corpus_pack_sequences",
    oracle=X.pack_sequences_oracle(),
    tags=("pipeline", "scale"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing in deterministic (shard, doc_id)
    order — the curated-corpus -> fixed-length-training-sequences assembly
    step. Packs within content-derived shards so 100 TB packs as n_shards
    independent window streams (operators/text.py::pack_sequences)."""
    return X.pack_sequences(_t(spark, sf_dir, "documents"))


@register(
    "corpus_vocab_topk",
    oracle=X.vocab_topk_oracle(),
    tags=("pipeline", "text"),
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 by term frequency with document frequency —
    the tokenizer-training / stopword-discovery scan. Two-level aggregate
    (map-side combine on (word, doc)) + TakeOrderedAndProject top-k
    (operators/text.py::vocab_topk)."""
    return X.vocab_topk(_t(spark, sf_dir, "documents"))


@register(
    "text_tfidf_topk",
    oracle="""
WITH w AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT id, w, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT id AS doc_id, w AS term, tf, df_docs,
         round(tf * ln(CAST(n AS DOUBLE) / df_docs), 4) AS tfidf
  FROM tf JOIN dfreq USING (w) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df_docs, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
    tags=("text",),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic feature-extraction op.

    Scale shape: term frequencies are one map-side-combined groupBy on
    (doc, term); document frequencies reuse the tf frame (one more combine on
    term — never a rescan); the corpus size joins in as a 1-row broadcast;
    top-k is a per-doc window on the ROUNDED score with a term tie-break so
    rank order is engine-exact."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    # split_words materializes the word ARRAY behind a Generate barrier
    # (one split per row); the explode to word rows is a separate step
    w = split_words(
        docs.select(F.col("doc_id").alias("id"), "text"), keep=("id",), out="wa"
    ).select("id", F.explode("wa").alias("w"))
    tf = w.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_docs"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "w")
        .join(F.broadcast(n))
        .select(
            F.col("id").alias("doc_id"),
            F.col("w").alias("term"),
            "tf",
            "df_docs",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df_docs")), 4
            ).alias("tfidf"),
        )
    )
    wspec = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(wspec))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df_docs", "tfidf", "rnk")
    )


_RARE_DF_CAP = 2  # a word is "rare" if it appears in <= 2 documents


@register(
    "text_rare_word_fraction",
    oracle=f"""
WITH w AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT id, w, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1)
SELECT id AS doc_id,
       CAST(sum(tf) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN df_docs <= {_RARE_DF_CAP} THEN tf ELSE 0 END)
            AS BIGINT) AS rare_tokens,
       round(sum(CASE WHEN df_docs <= {_RARE_DF_CAP} THEN tf ELSE 0 END)
             * 1.0 / sum(tf), 6) AS rare_frac
FROM tf JOIN dfreq USING (w)
GROUP BY 1
""",
    tags=("text", "quality"),
)
def text_rare_word_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-rarity quality signal: the fraction of a document's tokens
    whose corpus document-frequency is <= _RARE_DF_CAP (high fraction =
    unusual vocabulary = OCR noise / spam / code; a standard corpus-quality
    gate next to text_quality's surface features). Integer token counts
    with a single exact division — engine-deterministic."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    # split_words materializes the word ARRAY behind a Generate barrier
    # (one split per row); the explode to word rows is a separate step
    w = split_words(
        docs.select(F.col("doc_id").alias("id"), "text"), keep=("id",), out="wa"
    ).select("id", F.explode("wa").alias("w"))
    tf = w.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_docs"))
    rare_tf = F.when(F.col("df_docs") <= _RARE_DF_CAP, F.col("tf")).otherwise(0)
    return (
        tf.join(dfreq, "w")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.sum("tf").alias("total_tokens"),
            F.sum(rare_tf).alias("rare_tokens"),
            F.round(F.sum(rare_tf) * 1.0 / F.sum("tf"), 6).alias("rare_frac"),
        )
    )


@register(
    "events_funnel",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT)
           AS n_view_click,
       CAST(sum(CASE WHEN t_click >= t_view AND t_buy >= t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per_user
""",
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel: per-user FIRST timestamp of
    each step (one map-side-combined groupBy — never a self-join per step),
    then ordering predicates over exact epoch-us integers. The standard
    product-analytics funnel the reference would need three query passes
    for."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_buy"),
    )
    vc = F.col("t_click") >= F.col("t_view")
    full = vc & (F.col("t_buy") >= F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.sum(F.when(vc, 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(full, 1).otherwise(0)).alias("n_full_funnel"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(floor(epoch_us(ts) / 604800000000::BIGINT)
                                AS BIGINT) AS wk
  FROM events
),
cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY 1)
SELECT c.cohort_wk,
       CAST(a.wk - c.cohort_wk AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM activity a JOIN cohort c USING (user_id)
WHERE a.wk - c.cohort_wk <= 3
GROUP BY 1, 2
""",
    tags=("events", "retention"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity epoch-week,
    counted at week offsets 0-3. Weeks are exact integer epoch-us floors —
    no calendar arithmetic to diverge between engines. Two
    map-side-combined aggregations + one equijoin on user_id (cohort side is
    one row per user — AQE broadcasts it when small)."""
    ev = _t(spark, sf_dir, "events")
    wk = F.floor(F.unix_micros("ts") / F.lit(7 * 86400 * 1_000_000)).cast("long")
    activity = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        activity.join(cohort, "user_id")
        .withColumn("week_offset", (F.col("wk") - F.col("cohort_wk")).cast("long"))
        .filter(F.col("week_offset") <= 3)
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type,
         epoch_us(ts) - lag(epoch_us(ts))
             OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS transitions,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
    tags=("events",),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: count + total
    dwell time for every (prev_type -> next_type) edge. One window shuffle
    on user_id then a map-side-combined groupBy; ordering tie-broken by
    event_id so lag() is deterministic; dwell summed in exact epoch-us
    integers (no float time arithmetic)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy(us, "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count("*").alias("transitions"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
        )
    )


@register(
    "pipeline_curate_multimodal",
    oracle=f"""
WITH q AS (SELECT doc_id, text, n_chars FROM documents WHERE n_chars >= 200),
keepers AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
k1 AS (SELECT q.doc_id, q.n_chars FROM q JOIN keepers USING (doc_id)),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb
  FROM embeddings JOIN k1 ON vec_id = k1.doc_id
),
b AS (
  {{sign_bands}}
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
),
neardup AS (
  SELECT DISTINCT id_b
  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b
  WHERE round(list_dot_product(a.emb, b2.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b2.emb, b2.emb))), 4) >= 0.45
)
SELECT k1.doc_id, k1.n_chars, em.label
FROM k1
JOIN embeddings em ON em.vec_id = k1.doc_id
ANTI JOIN neardup ON k1.doc_id = neardup.id_b
ORDER BY k1.doc_id
""".replace("{sign_bands}", S.sign_bands_auto_oracle("embeddings")),
    tags=("pipeline", "multimodal", "dedup"),
)
def pipeline_curate_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation flagship: documents joined 1:1 with their
    embedding modality, then (1) length quality gate, (2) exact text dedup
    (min doc_id per md5 fingerprint), (3) embedding near-dup removal via the
    banded sign-LSH candidates + exact cosine verify — the higher doc_id of
    every qualifying pair drops (keep-first rule, deterministic and
    oracle-expressible without iterative chaining).

    Scale shape: gates are scan-local filters; dedup shuffles the 32-byte
    hash; the near-dup stage runs only on gate survivors and is the
    (band, key) equijoin — at 100 TB no stage touches more than the
    surviving corpus, and nothing is all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    emb = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = docs.filter(F.col("n_chars") >= 200).select("doc_id", "text", "n_chars")
    keepers = q.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    k1 = q.join(keepers.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "n_chars"
    )
    corpus = emb.join(
        k1.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).select("vec_id", "embedding")
    # band width from the RAW embeddings count (cheap; mirrored by the
    # oracle's count(*) CASE — a survivor count would re-run the gates)
    neardup = (
        S.sign_band_pairs_auto(
            corpus, threshold=0.45, n_rows=_t(spark, sf_dir, "embeddings").count()
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    labels = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return (
        k1.join(neardup, "doc_id", "left_anti")
        .join(labels, "doc_id")
        .select("doc_id", "n_chars", "label")
        .orderBy("doc_id")
    )


@register(
    "corpus_mixture_weights",
    oracle="""
WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
per_lang AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens
  FROM t GROUP BY lang
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per_lang)
SELECT lang, n_docs, tokens,
       round(tokens * 1.0 / total, 6) AS actual_share,
       round((1.0 / (SELECT count(*) FROM per_lang))
             / (tokens * 1.0 / total), 6) AS resample_weight
FROM per_lang CROSS JOIN tot
""",
    tags=("pipeline", "mixture"),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: per-language token shares and the resampling
    weight that moves the corpus to a UNIFORM target mixture
    (weight = target_share / actual_share) — the knob a pretraining
    pipeline turns to rebalance domains. One map-side-combined aggregate;
    shares are ratios of exact integer token counts (engine-deterministic).
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    per_lang = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    tot = per_lang.agg(
        F.sum("tokens").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    return (
        per_lang.join(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") * 1.0 / F.col("total"), 6).alias("actual_share"),
            F.round(
                (1.0 / F.col("n_langs")) / (F.col("tokens") * 1.0 / F.col("total")), 6
            ).alias("resample_weight"),
        )
    )


_BUDGET_TOKENS = 800  # per-source token budget for the sampling query


@register(
    "corpus_budget_sample",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {_BUDGET_TOKENS}
""",
    tags=("pipeline", "sampling"),
)
def corpus_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsampling: per source, keep documents in
    content-hash order until the cumulative token count reaches the budget.
    Hash order makes the selection a deterministic uniform sample that is
    stable across runs/engines/partitionings (no RAND, no Spark-internal
    hash); the cumulative sum is a per-source window — one hash exchange on
    source, state bounded per partition."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@register(
    "text_quality_classifier",
    oracle=X.classifier_scores_oracle(),
    tags=("text", "quality"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (fastText/CCNet-shaped gate):
    md5-derived token weights, integer score sum, exact BIGINT keep
    thresholds. The model-scoring-at-scale plan: weight lookup fused into
    the scan, map-side-combined per-doc sum. Scale notes in
    operators/text.py::classifier_scores."""
    return X.classifier_scores(_t(spark, sf_dir, "documents"))


@register(
    "dedup_bloom_prefilter",
    oracle=D.bloom_prefilter_oracle(),
    tags=("dedup",),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter for batch-vs-corpus exact dedup:
    the batch (odd-doc_id docs PLUS relabeled copies of every 10th even doc
    — injected known duplicates, since the synthetic corpus has no natural
    exact dups) is checked against the even-doc_id corpus's 65536-bit /
    4-hash Bloom set; only bloom-hit candidates pay the exact fingerprint
    join. No false negatives by construction (asserted in
    tests/test_dedup.py, which also forces the false-positive path with a
    tiny m); scale notes in operators/dedup.py::bloom_prefilter_dedup."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            corpus.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"), "text"
            )
        )
    )
    return D.bloom_prefilter_dedup(batch, corpus)


@register(
    "ann_topk_quantized",
    oracle=S.quantized_mips_oracle(k=5, query_max=5),
    tags=("similarity",),
)
def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate MIPS top-5 over the int8-quantized embedding store
    (vec_id < 5 as queries): integer dot products over quantized codes —
    bit-deterministic ranking, 4x less scan I/O than float32. Recall vs the
    exact float inner-product ranking asserted in tests/test_similarity.py;
    scale notes in operators/similarity.py::quantized_mips_topk."""
    return S.quantized_mips_topk(_t(spark, sf_dir, "embeddings"), k=5)


@register(
    "events_variant_extract",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("events", "json", "variant"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    parse_json once into the binary variant encoding, then typed
    try_variant_get paths — the modern engine path for JSON columns
    (parse once, extract many, ~an order of magnitude cheaper than
    re-parsing the string per get_json_object call when several paths are
    read). events_json_extract keeps the classic string-path twin."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "text_quality_percentile_gate",
    oracle="""
WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
           FROM documents),
s AS (SELECT doc_id, lang,
             CAST(sum((
""" + " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + """
             ) % 101 - 50) AS BIGINT) AS score_int
      FROM w GROUP BY doc_id, lang),
r AS (SELECT doc_id, lang, score_int,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY score_int DESC, doc_id) AS pr
      FROM s)
SELECT doc_id, lang, score_int, round(pr, 6) AS pr, pr <= 0.5 AS kept
FROM r ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def text_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality cut: keep the top half of documents
    by classifier score WITHIN each language — the mixture-preserving form
    of quality filtering (a global cut would gut low-resource languages).
    percent_rank is (rank-1)/(n-1) over exact integers with a full
    tie-break, so both engines compute the identical double. One window
    shuffle on lang; score aggregation is map-side combined."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    words = split_words(docs.select("doc_id", "lang", "text"),
                        text_col="text", out="w", keep=("doc_id", "lang"))
    wt = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long") % 101
        - 50
    )
    s = (
        words.select("doc_id", "lang", F.explode("w").alias("tok"))
        .select("doc_id", "lang", wt.alias("wt"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("wt").alias("score_int"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("score_int"), F.asc("doc_id"))
    r = s.withColumn("pr", F.percent_rank().over(w))
    return r.select(
        "doc_id",
        "lang",
        "score_int",
        F.round("pr", 6).alias("pr"),
        (F.col("pr") <= 0.5).alias("kept"),
    ).orderBy("doc_id")


@register(
    "corpus_contrastive_triplets",
    oracle=S.contrastive_triplets_oracle(threshold=0.45),
    tags=("similarity", "pipeline"),
)
def corpus_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplet mining for contrastive
    embedding training: banded near-dup positives + deterministic
    hash-picked negatives under the informative-margin condition
    (neg_sim < pos_sim). Scale notes in
    operators/similarity.py::contrastive_triplets."""
    return S.contrastive_triplets(_t(spark, sf_dir, "embeddings"), threshold=0.45)


_STRAT_RATES = {"en": 10, "de": 30, "es": 30, "fr": 30, "zh": 30}  # percent


@register(
    "sample_stratified_hash",
    oracle="""
WITH h AS (
  SELECT doc_id, lang,
         (""" + " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + """) % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, bucket
FROM h
WHERE bucket < CASE lang WHEN 'en' THEN 10 ELSE 30 END
ORDER BY doc_id
""",
    tags=("sampling",),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: per-language keep rates
    (en 10%, others 30%) decided by md5(doc_id) mod 100 — the reproducible
    twin of sampleBy (sample_stratified, rows-only): the SAME rows are kept
    on every run, engine, cluster size, and partitioning, which is what a
    shareable 100 TB training subset actually requires. Zero shuffle — the
    filter runs inside the scan stage."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(30))
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
        .orderBy("doc_id")
    )


@register(
    "embedding_kmeans",
    oracle=S.kmeans_oracle(k=4, iters=3),
    tags=("similarity", "clustering"),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Lloyd k-means over the embeddings table (k=4, 3
    rounds): every assignment and centroid is reproduced bit-for-bit by the
    unrolled DuckDB CTE oracle — the full-value gate for iterative
    clustering, next to the recall-tested float paths (ann_topk_ivf).
    SemDeDup-style semantic dedup = these clusters + the existing
    intra-cluster cosine prune (dedup_embedding_cosine)."""
    return S.kmeans_quantized(_t(spark, sf_dir, "embeddings"), k=4, iters=3)


@register(
    "text_bigram_lm_score",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS wa FROM documents),
b AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(wa) - 1),
                        i -> wa[i] || ' ' || wa[i + 1]) AS bg
  FROM s WHERE len(wa) >= 2
),
e AS (SELECT doc_id, unnest(bg) AS g FROM b),
cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(cnt.c) AS BIGINT) AS familiarity_sum,
       CAST(sum(CASE WHEN cnt.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_bigrams,
       round(sum(cnt.c) * 1.0 / count(*), 6) AS familiarity
FROM e JOIN cnt USING (g)
GROUP BY 1
""",
    tags=("text", "quality"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language-model familiarity — the KenLM-style
    perplexity gate's deterministic integer twin: a document's bigrams are
    scored by their corpus frequency (familiarity_sum / n_bigrams), and
    bigrams seen nowhere else (count 1) are the OOV signal. Integer sums +
    one final division — engine-exact. Scale: the bigram relation shuffles
    (hash(g)-sized) strings twice (count + join-back) with map-side
    combine; no self-join, so boilerplate bigrams partial-aggregate instead
    of funneling one reducer."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    wa = split_words(docs.select("doc_id", "text"), keep=("doc_id",), out="wa")
    bg = (
        wa.filter(F.size("wa") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(wa) - 1),"
                       " i -> concat(wa[i - 1], ' ', wa[i]))")
            ).alias("g"),
        )
    )
    cnt = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(cnt, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("familiarity_sum"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("oov_bigrams"),
            F.round(F.sum("c") * 1.0 / F.count(F.lit(1)), 6).alias("familiarity"),
        )
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH pairs AS ({D.minhash_lsh_oracle(threshold=0.5)})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(p.jaccard * 10000) AS BIGINT)) AS BIGINT)
           AS jaccard_e4_sum
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
GROUP BY 1, 2
""",
    tags=("dedup", "governance"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: which source pairs share near-dup
    content (LSH-verified Jaccard >= 0.5), with pair counts and mean
    similarity — the data-governance rollup a multi-source 100 TB corpus
    needs before mixing (which crawls/dumps overlap, and how badly).
    Composition: the existing MinHash->LSH->verify pipeline (banded, never
    all-pairs) + two broadcast-friendly joins back to the skinny
    (doc_id, source) projection + one tiny groupBy. Similarity mass is an
    integer e4 sum (jaccard is already 4dp-rounded, so *10000 re-rounds to
    an exact BIGINT — no avg() half-boundary between engines)."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = D.verify_jaccard(cand, sh, threshold=0.5)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 10000).cast("long"))
            .alias("jaccard_e4_sum"),
        )
    )


@register(
    "corpus_bpe_pair_counts",
    oracle="""
WITH wtok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
       FROM wtok WHERE w <> '' GROUP BY 1),
idx AS (SELECT w, freq, unnest(range(length(w) - 1)) AS i
        FROM wf WHERE length(w) >= 2)
SELECT substr(w, CAST(i AS INT) + 1, 1) AS lhs,
       substr(w, CAST(i AS INT) + 2, 1) AS rhs,
       CAST(sum(freq) AS BIGINT) AS pair_count
FROM idx
GROUP BY 1, 2
""",
    tags=("text", "bpe"),
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 of BPE training as an oracle-exact query: frequency-weighted
    adjacent CHARACTER pair counts over the word-type table. The iterative
    trainer (corpus_bpe_merges) repeats exactly this reduction per round;
    gating round 0 against DuckDB pins the distributed pair-count shape the
    whole trainer stands on."""
    wf = X.bpe_word_freqs(_t(spark, sf_dir, "documents"))
    syms = wf.select("freq", F.split("w", "").alias("syms"))
    return X.bpe_pair_counts(syms)


@register(
    "corpus_bpe_merges",
    tags=("text", "bpe"),
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (8 rounds) over the corpus — the vocabulary
    -construction step of a training-data pipeline. Iterative argmax +
    greedy merge application is not expressible in one DuckDB statement
    (list_reduce carries no struct state in 1.0), so this entry is
    rows-only for the driver; tests/test_bpe.py proves EXACT equivalence
    (merge table and all intermediate pair counts) against a plain-Python
    reference implementation at sf0.001."""
    rows = X.bpe_merges(_t(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, pair_count bigint"
    )


@register(
    "events_burst_detection",
    oracle="""
WITH hourly AS (
  SELECT user_id,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT user_id,
         CAST(sum(n_events) AS BIGINT) AS user_total,
         CAST(count(*) AS BIGINT) AS n_active_hours
  FROM hourly GROUP BY 1
)
SELECT h.user_id, h.hour, h.n_events, t.user_total, t.n_active_hours
FROM hourly h JOIN tot t USING (user_id)
WHERE 2 * h.n_events * t.n_active_hours > 3 * t.user_total
""",
    tags=("events", "anomaly"),
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-burst detection: flag hours where a user's event
    count exceeds 1.5x their mean active-hour rate. The threshold is the
    integer cross-multiplication 2*n_events*n_active_hours > 3*user_total
    — no division, no floats, engine-exact. Shape: two map-side-combined
    aggregations + one join on user_id; the per-user totals relation is
    users-sized (tiny next to events), so AQE broadcasts it."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id",
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = hourly.groupBy("user_id").agg(
        F.sum("n_events").alias("user_total"),
        F.count(F.lit(1)).alias("n_active_hours"),
    )
    return hourly.join(tot, "user_id").filter(
        2 * F.col("n_events") * F.col("n_active_hours") > 3 * F.col("user_total")
    ).select("user_id", "hour", "n_events", "user_total", "n_active_hours")


@register(
    "multimodal_phash_dedup",
    oracle=M.phash_dedup_auto_oracle(max_hamming=3),
    tags=("multimodal", "dedup"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection over the binary payload
    column: decode -> thumbnail (Arrow-batched mapInPandas; the decode
    is the repo's deterministic fake, the plumbing is real) -> integer-
    exact aHash -> banded candidate join -> exact Hamming verify (<= 3).
    The image-modality twin of dedup_simhash_pairs: banded, never
    all-pairs, and the whole chain (including the Python decode stage) is
    reproduced bit-for-bit by the DuckDB oracle. Hash width auto-steps
    with corpus size (r07): a fixed 16-bit space saturates — the sf1
    audit measured a 14.6M-pair quadratically-growing answer at 50k docs
    — so corpora above AUTO_PHASH_SMALL use the 64-bit 8x8 path (two
    32-bit halves, 16-bit bands); the oracle mirrors the branch with a
    count(*) gate."""
    raw = _t(spark, sf_dir, "documents")
    return M.phash_pairs_auto(
        M.attach_binary_payload(raw), n_docs=raw.count(), max_hamming=3
    )


@register(
    "dedup_semantic",
    oracle=S.semantic_dedup_oracle(k=4, iters=3, threshold=0.4),
    tags=("dedup", "similarity", "clustering"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: integer-exact k-means
    clusters, then exact cosine ONLY within each cluster (>= 0.4) — the
    published cluster-then-prune recipe that replaces global all-pairs
    with bounded per-cluster work. Every stage (including the iterative
    clustering) is reproduced bit-for-bit by the DuckDB oracle — see
    operators/similarity.py::semantic_dedup_pairs."""
    return S.semantic_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), k=4, iters=3, threshold=0.4
    )


@register(
    "ann_topk_ivf_exact",
    oracle=S.ivf_exact_oracle(k_cells=8, iters=3, n_queries=5,
                              n_probe=2, topk=5),
    tags=("similarity", "ann"),
)
def ann_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose EVERY mechanism — cell membership, probe ranking,
    candidate pruning, scoring, top-k — has an exact DuckDB twin: integer
    k-means cells (8), integer query->centroid probe ranking (2 probes),
    exact BIGINT dot-product scoring. The float IVF (ann_topk_ivf) keeps
    its recall gate; this entry proves the index mechanics themselves are
    correct, not just statistically useful."""
    return S.ivf_exact_topk(_t(spark, sf_dir, "embeddings"), k_cells=8,
                            iters=3, n_queries=5, n_probe=2, topk=5)


@register(
    "ann_topk_ivf_indexed",
    oracle=S.ivf_indexed_oracle(k_cells=8, iters=3, n_queries=5,
                                n_probe=2, topk=5),
    tags=("similarity", "ann", "index"),
)
def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF lifecycle end-to-end: train the integer
    k-means quantizer on the base corpus (vec_id % 5 <> 3) and write the
    snapshot (centroids + assignments parquet), assign the held-out batch
    against the read-back centroids as a delta (NO re-clustering — the
    100 TB steady state, where the index is built once per corpus snapshot
    and every new batch only reads centroids), then answer top-k probes
    over base + delta from the snapshot alone. Oracle reproduces every
    stage bit-for-bit; index reuse across query batches without
    re-clustering is pinned in tests/test_similarity.py."""
    import os
    import shutil
    import tempfile
    import time

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    # per-invocation unique dir: two sessions running this query
    # concurrently at the same SF (multi-protocol server, or a test run
    # next to a shell) must not race on one shared snapshot path. The
    # snapshot must outlive this function (the returned DataFrame reads it
    # lazily), so instead of deleting our own dir we sweep stale siblings
    # from earlier invocations (mtime > 1h — any plan over them is long
    # collected).
    prefix = f"i2s_ivf_{sf_tag}_"
    tmp = tempfile.gettempdir()
    for d in os.listdir(tmp):
        p = os.path.join(tmp, d)
        try:
            if (d.startswith(prefix) and os.path.isdir(p)
                    and time.time() - os.path.getmtime(p) > 3600):
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    index_dir = tempfile.mkdtemp(prefix=prefix)
    snap = S.build_ivf_index(base, index_dir, k_cells=8, iters=3)
    S.ivf_index_append_batch(batch, snap, batch_id="b1")
    return S.ivf_indexed_topk(emb, snap, n_queries=5, n_probe=2, topk=5)


@register(
    "ann_topk_ivf_pq_adc",
    oracle=S.ivf_pq_adc_oracle(k_cells=8, cell_iters=3, m=4, pq_k=4,
                               pq_iters=2, n_queries=5, n_probe=2, topk=5),
    tags=("similarity", "ann", "pq"),
)
def ann_topk_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance computation — the top of the ANN
    ladder (brute -> LSH -> IVF -> IVF-PQ): coarse integer cells prune
    candidates, PQ codes (m=4 subspaces) compress vectors, and scoring is
    m lookup-table joins per candidate instead of any vector arithmetic
    (the ADC property: at 100 TB the search is memory-bound on 4 small
    codes per vector, not 64 floats). Every stage — cells, codebooks,
    codes, probe ranking, per-query LUTs, final ranking — is integer-exact
    and reproduced by the DuckDB oracle."""
    return S.ivf_pq_adc_topk(_t(spark, sf_dir, "embeddings"), k_cells=8,
                             cell_iters=3, m=4, pq_k=4, pq_iters=2,
                             n_queries=5, n_probe=2, topk=5)


@register(
    "events_decayed_engagement",
    oracle="""
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
per AS (
  SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(1 AS DOUBLE)
             / CAST(CAST(1 AS BIGINT)
                    << least(ref.d - CAST(e.ts AS DATE), 40) AS DOUBLE))
             AS decayed_score
  FROM events e, ref
  GROUP BY e.user_id
)
SELECT user_id, n_events, decayed_score
FROM per ORDER BY decayed_score DESC, user_id
LIMIT 20
""",
    tags=("events", "decay"),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (half-life = 1 day,
    capped at 40 days): score = sum over events of 2^-age_days — the
    recency-weighted activity rollup a freshness-aware sampler feeds on.
    Bit-deterministic floats BY CONSTRUCTION: every term is an exact
    power of two from an integer shift (no libm pow), and per-user sums
    of 2^-40 multiples stay far below 2^53, so addition order cannot
    round — the ORDER BY ... LIMIT is engine-stable without any rounding
    contract. One map-side-combined groupBy after a broadcast of the
    1-row corpus max date."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("d"))
    per = (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "sum(CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT),"
                " least(datediff(d, to_date(ts)), 40)) AS DOUBLE))"
            ).alias("decayed_score"),
        )
    )
    return per.orderBy(F.desc("decayed_score"), "user_id").limit(20)


@register(
    "events_path_analysis",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT 10
""",
    tags=("events", "paths"),
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 10 most common 3-step event-type
    sequences across users (lead() windows over the per-user timeline,
    (ts, event_id) ordering so timestamp ties cannot reorder the path).
    ONE window shuffle on user_id + one map-side-combined count; the LIMIT
    carries the full deterministic tie-break."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(10)
    )


@register(
    "corpus_bpe_encode",
    tags=("text", "bpe"),
)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-cost estimation: train the 8-merge BPE table, then apply
    it corpus-wide (8 chained codegen folds, zero pre-agg shuffles) to
    report per-doc BPE token counts and chars-per-token — how a data-mixing
    pipeline prices corpora before sampling. Iterative train + apply is
    non-SQL-expressible, so rows-only at the driver; tests/test_bpe.py
    checks exact equality of every per-doc count against the plain-Python
    reference tokenizer."""
    docs = _t(spark, sf_dir, "documents")
    merges = X.bpe_merges(docs, n_merges=8)
    return X.bpe_encode(docs, merges).orderBy("doc_id")


@register(
    "dedup_method_agreement",
    oracle=f"""
WITH m AS ({D.minhash_lsh_oracle(threshold=0.5)}),
sims AS ({D.simhash_oracle()}),
s AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sims a JOIN sims b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
j AS (
  SELECT coalesce(m.id_a, s.id_a) AS id_a,
         coalesce(m.id_b, s.id_b) AS id_b,
         m.id_a IS NOT NULL AS in_minhash,
         s.id_a IS NOT NULL AS in_simhash
  FROM m FULL OUTER JOIN s ON m.id_a = s.id_a AND m.id_b = s.id_b
)
SELECT in_minhash, in_simhash, CAST(count(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1, 2
""",
    tags=("dedup", "governance"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement diagnostic: how the MinHash-LSH pair set
    (Jaccard >= 0.5) and the banded SimHash pair set (Hamming <= 3) overlap
    — the calibration readout you check before choosing thresholds for a
    100 TB run (each method's pairs are cheap; the full outer join is
    pair-set-sized, tiny next to the corpus). Both inputs are the existing
    banded scale pipelines; the oracle composes their existing twins."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    m = D.verify_jaccard(cand, sh, threshold=0.5).select("id_a", "id_b")
    s = D.simhash_pairs_banded(D.simhash(docs), max_hamming=3).select(
        F.col("id_a").alias("s_a"), F.col("id_b").alias("s_b")
    )
    j = m.join(
        s, (F.col("id_a") == F.col("s_a")) & (F.col("id_b") == F.col("s_b")),
        "full_outer",
    )
    return (
        j.select(
            F.col("id_a").isNotNull().alias("in_minhash"),
            F.col("s_a").isNotNull().alias("in_simhash"),
        )
        .groupBy("in_minhash", "in_simhash")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "multimodal_vad_segments",
    oracle="""
WITH f AS (
  SELECT doc_id, CAST(i AS INT) AS frame_no,
         md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS h
  FROM documents,
       LATERAL (SELECT unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS i)
),
e AS (
  SELECT doc_id, frame_no,
         (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 16
          + CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS BIGINT))
             AS energy
  FROM f
),
v AS (
  SELECT doc_id, frame_no,
         frame_no - row_number() OVER (PARTITION BY doc_id ORDER BY frame_no)
             AS grp
  FROM e WHERE energy >= 128
),
runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
  FROM v GROUP BY doc_id, grp
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN energy >= 128 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_voiced
  FROM e GROUP BY doc_id
)
SELECT t.doc_id, t.n_frames, t.n_voiced,
       coalesce(max(r.run_len), 0) AS longest_run
FROM tot t LEFT JOIN runs r ON r.doc_id = t.doc_id
GROUP BY t.doc_id, t.n_frames, t.n_voiced
""",
    tags=("multimodal", "segmentation"),
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style frame segmentation over the binary payload: frames (the
    Arrow-batched 1-to-N decode shape), a per-frame energy gate (md5-derived
    deterministic fake energy; a real RMS plugs in unchanged), and
    per-document voiced-run statistics via the gaps-and-islands window
    (frame_no - row_number groups consecutive voiced frames). Counts and
    run lengths are integers; the whole chain, Python decode included, is
    oracle-exact. Shape: mapInPandas frames -> one window shuffle on doc_id
    -> map-side-combined rollup."""
    docs = M.attach_binary_payload(_t(spark, sf_dir, "documents"))
    frames = M.sample_frames(docs)
    e = frames.select(
        "doc_id", "frame_no",
        F.conv(F.substring("frame_hash", 1, 2), 16, 10).cast("long")
        .alias("energy"),
    )
    voiced = e.filter(F.col("energy") >= 128)
    w = W.partitionBy("doc_id").orderBy("frame_no")
    runs = (
        voiced.withColumn("grp", F.col("frame_no") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("longest_run"))
    )
    tot = e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.when(F.col("energy") >= 128, 1).otherwise(0)).alias("n_voiced"),
    )
    return tot.join(runs, "doc_id", "left").select(
        "doc_id", "n_frames", "n_voiced",
        F.coalesce("longest_run", F.lit(0)).alias("longest_run"),
    )


@register(
    "text_language_confusion",
    oracle=f"""
WITH pred AS ({X.lang_scores_oracle()})
SELECT lang AS actual_lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
""",
    tags=("text", "quality", "governance"),
)
def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram classifier's predictions
    against the corpus's labeled lang column — the calibration readout
    before trusting the classifier as a 100 TB filter gate. One scan +
    one tiny map-side-combined groupBy over the existing lang_scores
    expressions."""
    scored = X.lang_scores(_t(spark, sf_dir, "documents"))
    return (
        scored.groupBy(
            F.col("lang").alias("actual_lang"), F.col("pred_lang")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "events_rfm_segments",
    oracle="""
WITH mx AS (SELECT max(ts) AS mx FROM events),
per_user AS (
  SELECT user_id,
         CAST((epoch_us((SELECT mx FROM mx)) - epoch_us(max(ts)))
              // 3600000000 AS BIGINT) AS hours_since_last,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS monetary_cents
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id, hours_since_last, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY hours_since_last DESC, user_id) AS r_score,
         ntile(4) OVER (ORDER BY frequency, user_id) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents, user_id) AS m_score
  FROM per_user
)
SELECT user_id, hours_since_last, frequency, monetary_cents,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
FROM scored
""",
    tags=("events", "analytics"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary quartiles):
    the classic behavioral-cohort rollup. Monetary sums are integer cents
    (the repo's money rule); recency is whole hours against the corpus max
    timestamp; every ntile ordering carries a user_id tie-break so quartile
    boundaries are engine-identical. The three quartile assignments ride
    on operators/scale.py::global_row_number (range-partitioned two-level
    rank) + ntile_from_rank arithmetic — a partition-less `ntile() OVER
    (ORDER BY ...)` would move the whole users-sized relation through ONE
    reducer, which is exactly the WindowExec trap this engine documents;
    here every stage keeps full parallelism and only the 32-row partition
    count table is serial."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.expr("(unix_micros(mx) - unix_micros(last_ts))"
                   " div 3600000000").alias("hours_since_last"),
            "frequency", "monetary_cents",
        )
    )
    from impalatogo_spark.operators.scale import (
        global_row_number,
        ntile_from_rank,
    )

    tot = per_user.agg(F.count(F.lit(1)).alias("n_tot"))
    ranked = global_row_number(
        per_user, [F.desc("hours_since_last"), "user_id"], out="__r_rn"
    )
    ranked = global_row_number(ranked, ["frequency", "user_id"], out="__f_rn")
    ranked = global_row_number(
        ranked, ["monetary_cents", "user_id"], out="__m_rn"
    )
    n_tot = F.col("n_tot")
    scored = ranked.crossJoin(F.broadcast(tot)).select(
        "user_id", "hours_since_last", "frequency", "monetary_cents",
        ntile_from_rank(F.col("__r_rn"), n_tot, 4).alias("r_score"),
        ntile_from_rank(F.col("__f_rn"), n_tot, 4).alias("f_score"),
        ntile_from_rank(F.col("__m_rn"), n_tot, 4).alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH sh AS ({D.word_shingles_oracle()}),
firsts AS (SELECT g, min(id) AS first_doc FROM sh GROUP BY g),
per_doc AS (
  SELECT sh.id AS doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = sh.id THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_grams
  FROM sh JOIN firsts f ON f.g = sh.g
  GROUP BY 1
)
SELECT doc_id, n_grams, novel_grams,
       round(novel_grams * 1.0 / n_grams, 6) AS novelty
FROM per_doc
""",
    tags=("text", "dedup", "quality"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain scoring for curriculum/dedup ordering: the fraction
    of a document's distinct 3-gram shingles that appear FIRST in this
    document (global min doc_id owns the gram) — documents full of grams
    already seen earlier contribute little new text. Integer counts + one
    final division. Shape: one map-side-combined min() per gram + a
    join-back keyed on the gram — same two-shuffle skew-immune pattern as
    paragraph dedup (hot grams partial-aggregate; the join fans out, never
    funnels)."""
    sh = tracked_persist(D.word_shingles(_t(spark, sf_dir, "documents")))
    firsts = sh.groupBy("g").agg(F.min("id").alias("first_doc"))
    return (
        sh.join(firsts, "g")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0))
            .alias("novel_grams"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("novel_grams") * 1.0 / F.col("n_grams"), 6),
        )
    )


@register(
    "pipeline_curate_report",
    oracle=f"""
WITH verdicts AS ({X.curate_oracle()})
SELECT CASE WHEN v.pred_lang <> 'en' THEN 'lang'
            WHEN v.quality_score < 1.0 THEN 'quality'
            WHEN v.is_exact_dup = 1 THEN 'exact_dup'
            WHEN v.contaminated = 1 THEN 'contaminated'
            ELSE 'kept' END AS outcome,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM verdicts v JOIN documents d ON d.doc_id = v.doc_id
GROUP BY 1
""",
    tags=("pipeline", "governance"),
)
def pipeline_curate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: every document attributed to its FIRST
    failing gate (lang -> quality -> exact-dup -> decontamination -> kept)
    with document and character mass per outcome — the yield/loss readout
    a nightly 100 TB curation run publishes. Costs one tiny groupBy on top
    of the existing curate() plan (the n_chars join is column-pruned to
    two columns)."""
    docs = _t(spark, sf_dir, "documents")
    v = X.curate(docs)
    outcome = (
        F.when(F.col("pred_lang") != "en", "lang")
        .when(F.col("quality_score") < 1.0, "quality")
        .when(F.col("is_exact_dup") == 1, "exact_dup")
        .when(F.col("contaminated") == 1, "contaminated")
        .otherwise("kept")
    )
    return (
        v.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy(outcome.alias("outcome"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "dedup_minhash_calibration",
    oracle=f"""
WITH sh AS ({D.word_shingles_oracle()}),
hashed AS (SELECT id, ({" + ".join(
        f"CAST(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (7 - i)}" for i in range(8))}) AS h
           FROM (SELECT id, md5(g) AS hx FROM sh)),
sig AS (SELECT id, {", ".join(
        f"min(({a} * h + {b}) % {D.P_MERSENNE}) AS mh{j}"
        for j, (a, b) in enumerate(zip(D._MH_A, D._MH_B)))} FROM hashed GROUP BY id),
buckets AS ({" UNION ALL ".join(
        "SELECT id, " + str(b) + " AS band, md5("
        + " || '|' || ".join(f"mh{b * (D.N_HASHES // D.BANDS) + r}"
                             for r in range(D.N_HASHES // D.BANDS))
        + ") AS key FROM sig" for b in range(D.BANDS))}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c JOIN sh sa ON sa.id = c.id_a
              JOIN sh sb ON sb.id = c.id_b AND sb.g = sa.g
  GROUP BY 1, 2
),
pairs AS (
  SELECT (10 * inter) // (na.n + nb.n - inter) AS bucket
  FROM inter JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
)
SELECT CAST(bucket AS BIGINT) AS jaccard_decile,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
""",
    tags=("dedup", "governance"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the MinHash pipeline: ALL LSH
    candidate pairs bucketed by exact-Jaccard decile (integer bucket =
    (10*inter) div union — no float boundary), so an operator can read off
    how many pairs each threshold would accept before committing a 100 TB
    run. Reuses the banded candidate generator; one extra integer groupBy
    over the pair set."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("id").alias("id_a"), "g")
    sb = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            F.expr("(10 * inter) div (na + nb - inter)").alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "corpus_interleave_order",
    oracle="""
WITH h AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
),
pos AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS pos
  FROM h
)
SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
       CAST(row_number() OVER (ORDER BY pos, source, doc_id) AS BIGINT)
           AS global_order
FROM pos
""",
    tags=("sampling", "ordering"),
)
def corpus_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data ORDER: per-source positions assigned by
    content-hash order (a reproducible shuffle), then sources interleaved
    round-robin into one global curriculum position. The data-loader
    primitive a multi-source 100 TB run needs: the order is identical
    across engines, re-runs, partitionings, and cluster sizes — no
    Spark-internal hash or RNG in the contract. Two window passes (one
    keyed by source, then a two-level range-partitioned rank for the
    global position — never a single-reducer window)."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    w_src = W.partitionBy("source").orderBy("hk", "doc_id")
    pos = h.select(
        "doc_id", "source", F.row_number().over(w_src).alias("pos")
    )
    from impalatogo_spark.operators.scale import global_row_number

    # two-level scan instead of a partition-less row_number window: the
    # global curriculum order is exact but never funnels the corpus
    # through one reducer
    ordered = global_row_number(
        pos, ["pos", "source", "doc_id"], out="global_order"
    )
    return ordered.select(
        "doc_id", "source", F.col("pos").cast("long").alias("pos"),
        F.col("global_order").cast("long").alias("global_order"),
    )


@register(
    "events_concurrent_sessions_peak",
    oracle="""
WITH s AS (
  SELECT user_id,
         min(ts) AS s_start,
         max(ts) + INTERVAL 30 MINUTE AS s_end
  FROM events GROUP BY user_id
),
pts AS (
  SELECT s_start AS t, 1 AS delta FROM s
  UNION ALL
  SELECT s_end AS t, -1 AS delta FROM s
),
sweep AS (
  SELECT t, CAST(sum(sum(delta)) OVER (ORDER BY t) AS BIGINT) AS concurrent
  FROM pts GROUP BY t
)
SELECT max(concurrent) AS peak_concurrent,
       CAST(count(*) AS BIGINT) AS n_change_points
FROM sweep
""",
    tags=("events", "analytics"),
)
def events_concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the +1/-1 boundary sweep (the interval-overlap
    counting idiom): each user's activity span emits a start(+1)/end(-1)
    point, points aggregate per timestamp (map-side combine), and a running
    sum over the ordered change points yields concurrency; the answer is
    its max. ONE skinny shuffle of 2 rows per user + a two-level
    range-partitioned prefix sum over change points (users-sized, not
    events-sized, and never funneled through one reducer)."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
    )
    pts = s.select(F.col("s_start").alias("t"), F.lit(1).alias("delta")).unionAll(
        s.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"))
    )
    per_t = pts.groupBy("t").agg(F.sum("delta").alias("d"))
    # two-level prefix sum (operators/scale.py) — the boundary sweep stays
    # exact without draining every change point through one reducer
    from impalatogo_spark.operators.scale import global_running_sum

    sweep = global_running_sum(per_t, ["t"], "d", out="concurrent")
    return sweep.agg(
        F.max("concurrent").alias("peak_concurrent"),
        F.count(F.lit(1)).alias("n_change_points"),
    )


@register(
    "text_fim_transform",
    oracle=X.fim_transform_oracle(),
    tags=("pipeline", "text"),
)
def text_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (PSM) training transform: hash-deterministic
    integer cut points split each document into prefix/middle/suffix,
    re-emitted in prefix-suffix-middle order (pinned by md5) for infilling
    pretraining. Zero-shuffle pure-codegen map pass
    (operators/text.py::fim_transform)."""
    return X.fim_transform(_t(spark, sf_dir, "documents"))


@register(
    "text_bm25_topk",
    oracle=X.bm25_topk_oracle(),
    tags=("pipeline", "text"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval over the corpus for a fixed query-term set —
    the query-targeted data-selection scoring pass. Integer ten-thousandths
    contributions make ranking and scores engine-exact; df/corpus-stats
    broadcast; top-k is TakeOrderedAndProject
    (operators/text.py::bm25_topk)."""
    return X.bm25_topk(_t(spark, sf_dir, "documents"))


@register(
    "text_boilerplate_removal",
    oracle=D.boilerplate_removal_oracle(),
    tags=("pipeline", "dedup", "text"),
)
def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: drop EVERY copy of any 10-word
    segment that appears in >= 3 distinct documents (license headers, nav
    chrome), then reassemble. Distinct from dedup_paragraph (keep-first):
    boilerplate is dropped in all copies. Two map-side-combined shuffles +
    one broadcast anti-join (operators/dedup.py::boilerplate_removal)."""
    return D.boilerplate_removal(_t(spark, sf_dir, "documents"))


@register(
    "corpus_topic_balance",
    oracle=S.kmeans_oracle(k=4, iters=3, final_select="""
, jt AS (
  SELECT a.cluster, d.source, d.n_chars
  FROM a3 a JOIN documents d ON d.doc_id = a.vec_id
),
cs AS (
  SELECT cluster, source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS ch
  FROM jt GROUP BY cluster, source
),
dom AS (
  SELECT cluster, source, n,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n DESC, source DESC) AS rn
  FROM cs
)
SELECT cs.cluster,
       CAST(sum(cs.n) AS BIGINT) AS n_docs,
       CAST(sum(cs.ch) AS BIGINT) AS total_chars,
       max(CASE WHEN dom.rn = 1 THEN dom.source END) AS top_source,
       CAST(max(CASE WHEN dom.rn = 1 THEN dom.n END) AS BIGINT) AS top_source_docs
FROM cs JOIN dom ON dom.cluster = cs.cluster AND dom.source = cs.source
GROUP BY cs.cluster
"""),
    tags=("pipeline", "clustering", "governance"),
)
def corpus_topic_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balance readout: per-semantic-cluster document count, char
    mass, and dominant source — the composition check before reweighting a
    mixture (are clusters dominated by one source?). Cluster membership is
    the integer-exact k-means (bit-reproducible), so the whole rollup is
    oracle-exact. Scale shape: the k-means assignment scan + ONE skinny
    (cluster, source) aggregate; the dominant-source pick is a window over
    k*|sources| rows, not documents."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    asg = S.kmeans_quantized(emb, k=4, iters=3).select("vec_id", "cluster")
    cs = (
        asg.join(docs, asg.vec_id == docs.doc_id)
        .groupBy("cluster", "source")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("n_chars").alias("ch"))
    )
    w = W.partitionBy("cluster").orderBy(F.col("n").desc(),
                                         F.col("source").desc())
    return (
        cs.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum("ch").alias("total_chars"),
            F.max(F.when(F.col("rn") == 1, F.col("source"))).alias("top_source"),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("top_source_docs"),
        )
    )


@register(
    "dedup_cluster_size_hist",
    oracle=f"""
WITH cc AS ({D.clusters_oracle(D.minhash_lsh_oracle(threshold=0.5))}),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM cc GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
""",
    tags=("dedup", "graph", "governance"),
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters of each size
    exist and how many documents they hold — the readout that says whether
    duplication is a long tail of pairs or a few giant boilerplate blobs
    (drives whether keep-one-per-cluster or a size cap is the right
    policy). Two map-side-combined aggregates on top of connected
    components; covers docs that appear in at least one verified pair
    (singletons are the corpus remainder, derivable by count difference —
    identical convention on both engine and oracle sides)."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = tracked_persist(D.verify_jaccard(cand, sh, threshold=0.5))
    cc = D.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


# ===========================================================================
# Round 2 (cont.): tokenizer economics, anomaly gates, importance resampling,
# graph centrality
# ===========================================================================

@register(
    "text_tokenizer_fertility",
    oracle="""
WITH per AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[a-z]{1,4}')) AS BIGINT)
             AS n_subwords
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(n_subwords) AS BIGINT) AS sum_subwords,
       CASE WHEN sum(n_words) = 0 THEN 0
            ELSE CAST((1000 * sum(n_subwords)
                       - (1000 * sum(n_subwords)) % sum(n_words))
                      / sum(n_words) AS BIGINT) END AS fertility_milli,
       CASE WHEN sum(n_subwords) = 0 THEN 0
            ELSE CAST((1000 * sum(n_chars)
                       - (1000 * sum(n_chars)) % sum(n_subwords))
                      / sum(n_subwords) AS BIGINT) END AS chars_per_subword_milli
FROM per GROUP BY lang ORDER BY lang
""",
    tags=("text", "tokenizer"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-economics readout per language: subwords-per-word fertility
    and chars-per-subword compression, the stats that decide vocabulary /
    sampling budgets per language before training (high-fertility languages
    burn sequence length). Uses the repo's BPE-ish regex tokenizer; ratios
    are floor-scaled integer milli-units so the DuckDB oracle is bit-exact
    (no float division on either side).

    Scale shape: one scan, tokenization in codegen, a 5-group map-side
    combined aggregate — shuffle volume is O(langs), not O(tokens)."""
    lower = F.lower(F.col("text"))
    per = _t(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all(
            lower, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)
        )).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(lower, F.lit("[a-z]{1,4}"), F.lit(0)))
        .cast("long").alias("n_subwords"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_words").alias("sum_words"),
        F.sum("n_subwords").alias("sum_subwords"),
    )
    return agg.select(
        "lang", "n_docs", "sum_chars", "sum_words", "sum_subwords",
        F.when(F.col("sum_words") == 0, F.lit(0).cast("long")).otherwise(
            F.expr("(1000 * sum_subwords) div sum_words")
        ).alias("fertility_milli"),
        F.when(F.col("sum_subwords") == 0, F.lit(0).cast("long")).otherwise(
            F.expr("(1000 * sum_chars) div sum_subwords")
        ).alias("chars_per_subword_milli"),
    ).orderBy("lang")


@register(
    "events_anomaly_exact",
    oracle="""
WITH c AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS s,
         CAST(sum(cents * cents) AS HUGEINT) AS s2
  FROM c GROUP BY event_type
)
SELECT c.event_type, c.event_id, c.cents AS value_cents,
       CAST(st.n AS BIGINT) AS n_type
FROM c JOIN st ON c.event_type = st.event_type
WHERE (st.n * c.cents - st.s) * (st.n * c.cents - st.s)
      > 9 * (st.n * st.s2 - st.s * st.s)
ORDER BY c.event_type, c.event_id
""",
    tags=("events", "quality"),
)
def events_anomaly_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier detection per event_type in EXACT integer arithmetic:
    the float test (v - mean)^2 > 9*var multiplied through by n^2 becomes
    (n*v - s)^2 > 9*(n*s2 - s^2) over integer cents — no float mean/stddev
    to wobble between engines, so the flagged set is bit-deterministic.
    Intermediates go through DECIMAL(38,0) (HUGEINT on the oracle side):
    n*s2 alone overflows BIGINT at ~1e5 rows of 3-digit values, and at
    100 TB the widening is the correctness requirement, not a nicety.

    Scale shape: per-type stats are a tiny map-side-combined aggregate that
    broadcasts back onto the event scan; the fact table never shuffles."""
    ev = _t(spark, sf_dir, "events")
    c = ev.select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d38 = "decimal(38,0)"
    st = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("cents").cast(d38).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast(d38).alias("s2"),
    )
    j = c.join(F.broadcast(st), "event_type")
    dev = F.col("n") * F.col("cents").cast(d38) - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return (
        j.filter(dev * dev > F.lit(9).cast(d38) * var_n2)
        .select(
            "event_type", "event_id",
            F.col("cents").alias("value_cents"),
            F.col("n").cast("long").alias("n_type"),
        )
        .orderBy("event_type", "event_id")
    )


def _hex4_poly_sql(expr: str) -> str:
    """DuckDB integer value of the first 4 hex chars of md5(expr) — the
    strpos polynomial standing in for Spark's conv() (see CLAUDE.md)."""
    return " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (3 - i)}"
        for i in range(4)
    )


@register(
    "corpus_importance_weights",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS wa FROM documents
),
bg AS (
  SELECT w.doc_id, w.lang,
         ({_hex4_poly_sql("wa[gs.i + 1] || ' ' || wa[gs.i + 2]")}) % 64 AS h
  FROM w, LATERAL (SELECT unnest(range(0, greatest(len(wa) - 1, 0))) AS i) gs
),
raw AS (SELECT h, CAST(count(*) AS BIGINT) AS r FROM bg GROUP BY h),
tgt AS (SELECT h, CAST(count(*) AS BIGINT) AS t FROM bg WHERE lang = 'en'
        GROUP BY h),
wt AS (
  SELECT raw.h,
         CAST((1000 * (COALESCE(tgt.t, 0) + 1)
               - (1000 * (COALESCE(tgt.t, 0) + 1)) % (raw.r + 1))
              / (raw.r + 1) AS BIGINT) AS wgt
  FROM raw LEFT JOIN tgt ON raw.h = tgt.h
),
doc AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(wt.wgt) AS BIGINT) AS score_int
  FROM bg JOIN wt ON bg.h = wt.h GROUP BY bg.doc_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS d,
               CAST(sum(score_int) AS BIGINT) AS s FROM doc)
SELECT doc.doc_id, doc.n_bigrams, doc.score_int,
       doc.score_int * tot.d >= tot.s AS keep
FROM doc, tot ORDER BY doc_id
""",
    tags=("text", "sampling"),
)
def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance resampling (Xie et al. 2023, public): hashed
    word-bigram features (64 buckets), per-feature importance weight =
    add-one-smoothed target/raw frequency ratio, per-document score = sum
    of its features' weights, keep = above-corpus-mean score. The target
    distribution here is the lang='en' slice; a real deployment swaps in
    any target corpus and the plan is unchanged. Everything is floor-scaled
    integer arithmetic (milli-ratios, cross-multiplied mean test) so the
    DuckDB oracle reproduces the keep set bit-for-bit.

    Scale shape: one corpus scan builds the hashed features behind the
    split_words Generate barrier; both frequency tables are 64-row
    map-side-combined aggregates that BROADCAST back onto the feature
    stream; the per-doc sum is the only O(corpus) shuffle and it carries
    (doc_id, partial-sum). The 1-row corpus total is a broadcast cross
    join, not a driver collect."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    words = split_words(docs.select("doc_id", "lang", "text"), out="wa")
    bg = words.filter(F.size("wa") >= 2).select(
        "doc_id", "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(wa) - 2),"
                " i -> concat(wa[i], ' ', wa[i + 1]))"
            )
        ).alias("bgram"),
    ).select(
        "doc_id", "lang",
        (F.conv(F.substring(F.md5("bgram"), 1, 4), 16, 10).cast("long") % 64)
        .alias("h"),
    )
    bg = tracked_persist(bg)
    raw = bg.groupBy("h").agg(F.count(F.lit(1)).alias("r"))
    tgt = bg.filter(F.col("lang") == "en").groupBy("h").agg(
        F.count(F.lit(1)).alias("t"))
    wt = raw.join(tgt, "h", "left").select(
        "h",
        F.expr("(1000 * (COALESCE(t, 0) + 1)) div (r + 1)").alias("wgt"),
    )
    doc = bg.join(F.broadcast(wt), "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("wgt").alias("score_int"),
    )
    tot = doc.agg(F.count(F.lit(1)).alias("d"), F.sum("score_int").alias("s"))
    return (
        doc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "n_bigrams", "score_int",
            (F.col("score_int") * F.col("d") >= F.col("s")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _pagerank_oracle(iters: int = 3) -> str:
    parts = ["""
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
e AS (
  SELECT prev_type AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS w
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
o AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY src),
n AS (SELECT DISTINCT event_type AS node FROM events),
p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n)"""]
    for k in range(1, iters + 1):
        parts.append(f"""
i{k} AS (
  SELECT e.dst AS node,
         CAST(sum(CAST((p.pr * e.w - (p.pr * e.w) % o.out_w) / o.out_w
                       AS BIGINT)) AS BIGINT) AS insum
  FROM e JOIN o ON e.src = o.src JOIN p{k - 1} p ON p.node = e.src
  GROUP BY e.dst
),
p{k} AS (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(i.insum, 0)
                        - (85 * COALESCE(i.insum, 0)) % 100) / 100
              AS BIGINT) AS pr
  FROM n LEFT JOIN i{k} i ON n.node = i.node
)""")
    return ("WITH " + ",".join(parts)
            + f"\nSELECT node, pr AS pagerank_micro FROM p{iters} ORDER BY node")


@register(
    "events_pagerank",
    oracle=_pagerank_oracle(iters=3),
    tags=("events", "graph"),
)
def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph in EXACT integer
    arithmetic (micro-units, damping 0.85 as the rational 85/100, floor
    division via the subtract-positive-mod identity both engines share) —
    the iterative graph-centrality twin of connected components. Dangling
    mass is dropped identically on both sides (documented divergence from
    textbook PageRank; ranking order is unaffected for this use).

    Scale shape: edges pre-joined once with their source out-degree and
    persisted; each of the 3 unrolled rounds is one hash join (edges x
    skinny rank table, both partitionable by src at cluster scale) plus a
    map-side-combined sum by dst. No driver-side collect — the iteration
    count is fixed, so the whole thing is a single declarative plan the
    oracle unrolls as chained CTEs."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w_win = W.partitionBy("user_id").orderBy(us, "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w_win).alias("prev_type"))
    e = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    o = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    eo = tracked_persist(e.join(o, "src"))
    nodes = tracked_persist(
        ev.select(F.col("event_type").alias("node")).distinct())
    pr = nodes.select("node", F.lit(1_000_000).cast("long").alias("pr"))
    for _ in range(3):
        contrib = eo.join(pr, eo["src"] == pr["node"]).select(
            F.col("dst").alias("node_in"),
            F.expr("(pr * w) div out_w").alias("c"),
        )
        insum = contrib.groupBy("node_in").agg(F.sum("c").alias("insum"))
        pr = nodes.join(insum, nodes["node"] == insum["node_in"], "left").select(
            "node",
            F.expr("150000 + (85 * coalesce(insum, 0L)) div 100").alias("pr"),
        )
    return pr.select("node", F.col("pr").alias("pagerank_micro")).orderBy("node")


@register(
    "embedding_pq_codes",
    oracle=S.pq_codes_oracle(m=4, n_dims=64, k=4, iters=2),
    tags=("similarity", "compression"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: 64-dim embeddings compressed to 4
    subspace codes (independent integer k-means codebooks) + exact integer
    reconstruction error — the memory-footprint step before a PQ/IVF-ADC
    ANN index. Oracle-exact (see operators/similarity.py::pq_codes)."""
    # NOTE: the raw float32 array goes in unchanged — quantization must
    # multiply in single precision on BOTH engines (DuckDB FLOAT * INT is
    # FLOAT); upcasting to double here would shift ~0.4% of floor() results
    # by one ulp relative to the oracle.
    return S.pq_codes(_t(spark, sf_dir, "embeddings"), m=4, n_dims=64,
                      k=4, iters=2)


@register(
    "multimodal_clip_gate",
    oracle=M.clip_alignment_oracle(n_dims=8),
    tags=("multimodal", "quality", "pandas-udf"),
)
def multimodal_clip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style image-text alignment filtering (LAION-shape): integer dot
    product of an Arrow-batched fake image encoder against a codegen text
    tower, keep = above-corpus-mean alignment. Oracle-exact because the
    fake decode is md5-deterministic; the Python/Arrow plumbing is the
    production shape (see operators/multimodal.py::clip_alignment_gate)."""
    return M.clip_alignment_gate(_t(spark, sf_dir, "documents"))


@register(
    "corpus_split_assign",
    oracle=f"""
WITH a AS (
  SELECT doc_id, length(text) AS n_chars,
         ({_hex4_poly_sql("'s:' || CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM a GROUP BY split ORDER BY split
""",
    tags=("sampling", "governance"),
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (90/5/5) by salted content-free
    hash of doc_id — the assignment is a pure function of the id, so
    re-running the pipeline (or adding columns) never migrates a document
    across splits (the leakage-safety property). Emits the per-split
    composition readout. One scan, 3-group map-side-combined aggregate."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))),
            1, 4), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id",
                 F.length("text").cast("long").alias("n_chars"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


@register(
    "split_leakage_report",
    oracle=f"""
WITH pairs AS ({D.minhash_lsh_oracle(threshold=0.5)}),
splits AS (
  SELECT doc_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               ({_hex4_poly_sql("'s:' || CAST(doc_id AS VARCHAR)")}) % 100
                   AS b
        FROM documents)
)
SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
FROM pairs p
JOIN splits sa ON sa.doc_id = p.id_a
JOIN splits sb ON sb.doc_id = p.id_b
WHERE sa.split <> sb.split
ORDER BY p.id_a, p.id_b
""",
    tags=("dedup", "governance", "sampling"),
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage audit: every MinHash-LSH near-dup
    pair (Jaccard >= 0.5) whose two documents landed in DIFFERENT
    train/valid/test splits — the eval-contamination check a pipeline runs
    BEFORE training (a test doc with a train near-twin inflates eval).
    Composes the banded dedup pipeline with corpus_split_assign's salted
    id-hash split; both stages reuse their existing oracle twins. Scale
    shape: the pair set is the banded LSH output (never all-pairs); the
    split map is a content-free hash projection joined on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(
        D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = D.verify_jaccard(cand, sh, threshold=0.5)
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))),
            1, 4), 16, 10).cast("long") % 100
    )
    splits = docs.select(
        "doc_id",
        F.when(bucket < 90, "train").when(bucket < 95, "valid")
        .otherwise("test").alias("split"),
    )
    return (
        pairs
        .join(splits.select(F.col("doc_id").alias("id_a"),
                            F.col("split").alias("split_a")), "id_a")
        .join(splits.select(F.col("doc_id").alias("id_b"),
                            F.col("split").alias("split_b")), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "embedding_random_projection",
    oracle=S.random_projection_oracle(out_dims=16, n_dims=64),
    tags=("similarity", "compression"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64d -> 16d with a deterministic ±1 sign matrix
    — oracle-exact integer arithmetic end to end (see
    operators/similarity.py::random_projection)."""
    return S.random_projection(_t(spark, sf_dir, "embeddings"),
                               out_dims=16, n_dims=64)


@register(
    "events_anomaly_mad",
    oracle="""
WITH c AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
med AS (
  SELECT event_type,
         CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
  FROM c GROUP BY event_type
),
d AS (
  SELECT c.event_id, c.event_type, c.cents,
         abs(2 * c.cents - med.med2) AS dev2x
  FROM c JOIN med ON c.event_type = med.event_type
),
mad AS (
  SELECT event_type,
         CAST(round(2 * quantile_cont(dev2x, 0.5)) AS BIGINT) AS mad4
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.event_id, d.cents AS value_cents,
       CAST(d.dev2x AS BIGINT) AS dev2x
FROM d JOIN mad ON d.event_type = mad.event_type
WHERE 2 * d.dev2x > 3 * mad.mad4
ORDER BY d.event_type, d.event_id
""",
    tags=("events", "quality"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier gate — the heavy-tail-safe twin of
    events_anomaly_exact: flag |v - median| > 3 * MAD per event_type.
    Exactness trick: an interpolated median of integers is always a
    half-integer, so carrying DOUBLED medians (med2 = 2*median,
    mad4 = 4*MAD) keeps every comparison in exact integer arithmetic —
    the test is 2*|2c - med2| > 3*mad4, no float boundary anywhere.

    Scale shape: two tiny per-type aggregates (exact percentile state is
    per-group sort — bounded by the biggest type's row count; swap in
    approx_percentile at 100 TB if a single type exceeds executor memory,
    documented trade) broadcast back onto the fact scan; the fact table
    never shuffles."""
    ev = _t(spark, sf_dir, "events")
    c = tracked_persist(ev.select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ))
    med = c.groupBy("event_type").agg(
        F.round(2 * F.percentile("cents", 0.5)).cast("long").alias("med2"))
    d = c.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "cents",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2x"),
    )
    mad = d.groupBy("event_type").agg(
        F.round(2 * F.percentile("dev2x", 0.5)).cast("long").alias("mad4"))
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(2 * F.col("dev2x") > 3 * F.col("mad4"))
        .select("event_type", "event_id",
                F.col("cents").alias("value_cents"), "dev2x")
        .orderBy("event_type", "event_id")
    )


@register(
    "corpus_source_concentration",
    oracle="""
WITH s AS (SELECT lang, source, count(*) AS ns FROM documents GROUP BY 1, 2),
g AS (SELECT lang,
             CAST(sum(ns) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(sum(ns * ns) AS BIGINT) AS sum_sq
      FROM s GROUP BY 1),
top AS (SELECT lang, source AS top_source, ns AS top_ns
        FROM (SELECT lang, source, ns,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY ns DESC, source DESC) AS rn
              FROM s)
        WHERE rn = 1)
SELECT g.lang, n_docs, n_sources,
       CAST(1000000 * sum_sq // (n_docs * n_docs) AS BIGINT) AS hhi_ppm,
       top_source,
       CAST(1000000 * top_ns // n_docs AS BIGINT) AS top_share_ppm
FROM g JOIN top ON g.lang = top.lang
ORDER BY g.lang
""",
    tags=("pipeline", "governance"),
)
def corpus_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source-concentration readout: Herfindahl-Hirschman index
    (sum of squared source shares, floor-scaled to ppm) plus the dominant
    source and its share — the governance signal for 'is this language
    effectively single-source?' before mixture reweighting (pairs with
    corpus_mixture_weights / corpus_topic_balance). Two map-side-combined
    aggregates over (lang, source) counts — the shuffle carries one row per
    distinct pair, never documents; the dominant source is a packed-struct
    max, no per-group sort. All integer arithmetic (ppm floor divisions)."""
    s = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    g = s.groupBy("lang").agg(
        F.sum("ns").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("ns") * F.col("ns")).alias("sum_sq"),
        F.max(F.struct(F.col("ns"), F.col("source"))).alias("top"),
    )
    return (
        g.select(
            "lang",
            "n_docs",
            "n_sources",
            F.expr("1000000 * sum_sq div (n_docs * n_docs)").alias("hhi_ppm"),
            F.col("top.source").alias("top_source"),
            F.expr("1000000 * top.ns div n_docs").alias("top_share_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_exact_normalized",
    oracle="""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS copies
FROM n GROUP BY fp
""",
    tags=("dedup", "text"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup — the tier between byte-exact dedup and
    MinHash: documents identical after lowercase / punctuation-strip /
    whitespace-collapse share one fingerprint (catches trivial reformat
    copies near-dup methods spend LSH budget on). Same scale shape as
    dedup_exact: the shuffle carries 32-byte md5 fingerprints, never text;
    normalization is a zero-shuffle regex chain in the scan stage."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies"))
    )


@register(
    "corpus_perplexity_buckets",
    oracle="""
WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS wa FROM documents),
b AS (
  SELECT doc_id, lang,
         list_transform(generate_series(1, len(wa) - 1),
                        i -> wa[i] || ' ' || wa[i + 1]) AS bg
  FROM s WHERE len(wa) >= 2
),
e AS (SELECT doc_id, lang, unnest(bg) AS g FROM b),
cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
score AS (
  SELECT e.doc_id, e.lang,
         CAST(sum(cnt.c) * 1000 // count(*) AS BIGINT) AS fam_milli
  FROM e JOIN cnt USING (g) GROUP BY 1, 2
),
bucketed AS (
  SELECT lang, fam_milli,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY fam_milli DESC, doc_id) AS bucket
  FROM score
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(fam_milli) AS BIGINT) AS fam_milli_min,
       CAST(max(fam_milli) AS BIGINT) AS fam_milli_max
FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("pipeline", "quality"),
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail buckets: per-language terciles of the
    bigram-LM familiarity score (the deterministic integer twin of KenLM
    perplexity — text_bigram_lm_score), most-familiar first. Downstream
    recipes keep 'head', sample 'middle', drop 'tail'. Score is an exact
    integer milli-ratio so the tercile ordering is engine-identical
    (doc_id tie-break); per-language ntile is one window shuffle over
    (lang, score) rows — documents' text never reaches the window."""
    from impalatogo_spark.operators import split_words

    docs = _t(spark, sf_dir, "documents")
    wa = split_words(
        docs.select("doc_id", "lang", "text"), keep=("doc_id", "lang"), out="wa"
    )
    bg = (
        wa.filter(F.size("wa") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("transform(sequence(1, size(wa) - 1),"
                       " i -> concat(wa[i - 1], ' ', wa[i]))")
            ).alias("g"),
        )
    )
    cnt = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    score = (
        bg.join(cnt, "g")
        .groupBy("doc_id", "lang")
        .agg(F.expr("sum(c) * 1000 div count(1)").alias("fam_milli"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("fam_milli"), "doc_id")
    return (
        score.withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("fam_milli").alias("fam_milli_min"),
            F.max("fam_milli").alias("fam_milli_max"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "events_ab_lift_exact",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN (strpos('0123456789abcdef',
                           substring(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_purch,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                       FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
             AS purch_cents
  FROM events GROUP BY 1, 2
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_purch) AS BIGINT) AS n_purch,
         CAST(sum(purch_cents) AS BIGINT) AS purch_cents
  FROM u GROUP BY 1
)
SELECT a.n_users AS users_a, b.n_users AS users_b,
       a.n_purch AS purch_a, b.n_purch AS purch_b,
       a.purch_cents AS cents_a, b.purch_cents AS cents_b,
       CAST(a.n_purch * 1000 // a.n_users AS BIGINT) AS rate_a_milli,
       CAST(b.n_purch * 1000 // b.n_users AS BIGINT) AS rate_b_milli,
       CAST(1000000 * a.n_purch * b.n_users
            // nullif(b.n_purch * a.n_users, 0) AS BIGINT) AS lift_ratio_ppm
FROM (SELECT * FROM arms WHERE arm = 'A') a,
     (SELECT * FROM arms WHERE arm = 'B') b
""",
    tags=("events", "experiment"),
)
def events_ab_lift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a deterministic hash split: users are
    assigned to arms by md5(user_id) last-nibble parity (pure function of
    the id — the same leakage-safe split rule as corpus_split_assign), and
    the purchases-per-user lift ratio is computed by integer cross
    multiplication in ppm — no float rates anywhere. Per-user aggregation
    is one map-side-combined shuffle; the two arm rows join as a trivial
    broadcast. The experimentation-analytics shape (exposure -> metric ->
    lift) the reference's workloads express with handwritten CASE sums."""
    ev = _t(spark, sf_dir, "events")
    arm = F.when(
        (
            F.expr(
                "instr('0123456789abcdef',"
                " substring(md5(CAST(user_id AS STRING)), 32, 1)) - 1"
            )
            % 2
        )
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    is_p = F.col("event_type") == "purchase"
    u = (
        ev.select(
            "user_id",
            arm.alias("arm"),
            F.when(is_p, 1).otherwise(0).alias("p"),
            F.when(is_p, F.round(F.col("value") * 100).cast("long"))
            .otherwise(0)
            .alias("cents"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("p").alias("n_purch"), F.sum("cents").alias("purch_cents"))
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_purch").alias("n_purch"),
        F.sum("purch_cents").alias("purch_cents"),
    )
    a = arms.filter(F.col("arm") == "A").alias("a")
    b = arms.filter(F.col("arm") == "B").alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n_users").alias("users_a"),
        F.col("b.n_users").alias("users_b"),
        F.col("a.n_purch").alias("purch_a"),
        F.col("b.n_purch").alias("purch_b"),
        F.col("a.purch_cents").alias("cents_a"),
        F.col("b.purch_cents").alias("cents_b"),
        F.expr("a.n_purch * 1000 div a.n_users").alias("rate_a_milli"),
        F.expr("b.n_purch * 1000 div b.n_users").alias("rate_b_milli"),
        # nullif guard on BOTH sides: Spark div by 0 yields NULL silently
        # while DuckDB's // raises — a zero-purchase arm B would otherwise
        # diverge (NULL vs hard oracle failure) on sparse data.
        F.expr(
            "1000000 * a.n_purch * b.n_users"
            " div nullif(b.n_purch * a.n_users, 0)"
        ).alias("lift_ratio_ppm"),
    )


@register(
    "sample_weighted_hash",
    oracle=f"""
WITH a AS (
  SELECT doc_id, n_chars,
         ({_hex4_poly_sql("'w:' || CAST(doc_id AS VARCHAR)")}) AS h
  FROM documents
),
p AS (
  SELECT doc_id, n_chars,
         CAST((h + 1) * 1000000 // n_chars AS BIGINT) AS priority
  FROM a WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, priority
FROM p ORDER BY priority, doc_id LIMIT 100
""",
    tags=("sampling", "governance"),
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-weighted sample: priority = (salted-hash + 1)
    scaled down by document length, keep the 100 lowest — longer documents
    draw proportionally lower priorities, so selection probability rises
    ~linearly with length (the integer cousin of A-Res weighted reservoir
    sampling; exact A-Res needs u^(1/w) floats, which would cross the
    compare boundary). Like corpus_split_assign the draw is a pure
    function of doc_id: re-running the pipeline reselects the identical
    sample (reproducible-corpus property). Plan: one scan, codegen md5 +
    integer ops, TakeOrderedAndProject top-100 — no shuffle of the corpus,
    no RNG state. Full (priority, doc_id) tie-break under LIMIT."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))), 1, 4),
        16, 10,
    ).cast("long")
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            h.alias("h"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.expr("CAST((h + 1) * 1000000 DIV n_chars AS BIGINT)").alias(
                "priority"
            ),
        )
        .orderBy("priority", "doc_id")
        .limit(100)
    )


@register(
    "text_hashing_trick",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
b AS (
  SELECT w, CAST(count(*) AS BIGINT) AS tf,
         ({_hex4_poly_sql("w")}) % 64 AS bucket
  FROM w GROUP BY w
)
SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       min(w) AS sample_word
FROM b GROUP BY bucket
""",
    tags=("text", "ml"),
)
def text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009): corpus
    vocabulary folded into 64 hash buckets — per bucket, total token mass,
    how many distinct words collided there, and a deterministic sample
    word. The readout that sizes a hashed bag-of-words featurizer
    (collision factor = n_distinct_words / 1). Scale shape: the token
    stream pre-aggregates to (word, tf) with a map-side combine BEFORE
    hashing, so the bucket shuffle carries vocabulary-sized rows, never
    the token stream; the hash is the engine's shared md5-prefix integer
    (exactly mirrored by the oracle's strpos polynomial)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long") % 64
    )
    return (
        vocab.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.min("w").alias("sample_word"),
        )
    )


@register(
    "corpus_pmi_collocations",
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS wa FROM documents),
tok AS (SELECT unnest(wa) AS w FROM s),
c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(wa) - 1),
                               i -> wa[i] || ' ' || wa[i + 1])) AS g
  FROM s WHERE len(wa) >= 2
),
c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c_xy FROM bg GROUP BY 1
       HAVING count(*) >= 5)
SELECT c2.g AS bigram, c2.c_xy, a.c AS c_x, b.c AS c_y,
       CAST(c2.c_xy * n.n * 1000 // (a.c * b.c) AS BIGINT) AS pmi_ratio_milli
FROM c2
JOIN c1 a ON a.w = string_split(c2.g, ' ')[1]
JOIN c1 b ON b.w = string_split(c2.g, ' ')[2]
CROSS JOIN n
ORDER BY pmi_ratio_milli DESC, bigram LIMIT 20
""",
    tags=("text", "nlp"),
)
def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation discovery by pointwise mutual information: the 20
    bigrams (min support 5) whose co-occurrence most exceeds independence.
    PMI's log is monotone, so ranking by the integer ratio
    c_xy * N / (c_x * c_y) (milli-scaled, BIGINT) gives the exact PMI
    order with zero float arithmetic. Token and bigram counts are both
    map-side-combined aggregates; the unigram join-back is keyed by word
    (vocabulary-sized); top-20 is TakeOrderedAndProject with a full
    tie-break. At 100 TB the milli-ratio product needs decimal(38) once
    N * c_xy passes 2^63 — the DIV structure is unchanged."""
    from impalatogo_spark.operators import split_words

    # split_words materializes the word array behind a Generate barrier —
    # a plain `split(text).alias("wa")` projection gets CollapseProject-
    # inlined into the bigram transform() lambda below and re-evaluates
    # per array element (O(len^2) per document).
    docs = split_words(
        _t(spark, sf_dir, "documents").select("text"), keep=(), out="wa"
    )
    tok = docs.select(F.explode("wa").alias("w"))
    c1 = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    bg = (
        docs.where(F.size("wa") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(wa, 1, size(wa) - 1), (x, i) ->"
                    " concat(x, ' ', wa[i + 1]))"
                )
            ).alias("g")
        )
    )
    c2 = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= 5)
        .withColumn("w1", F.split("g", " ")[0])
        .withColumn("w2", F.split("g", " ")[1])
    )
    return (
        c2.join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), "w1")
        .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("g").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            F.expr("CAST(c_xy * n * 1000 DIV (c_x * c_y) AS BIGINT)").alias(
                "pmi_ratio_milli"
            ),
        )
        .orderBy(F.desc("pmi_ratio_milli"), "bigram")
        .limit(20)
    )


@register(
    "events_weighted_moving_avg",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
mx AS (SELECT max(day) AS max_day FROM daily),
rep AS (
  SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                     CAST(day + INTERVAL 6 DAY AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS win_end,
         day, c
  FROM daily
)
SELECT strftime(r.win_end, '%Y-%m-%d') AS window_end,
       CAST(count(*) AS BIGINT) AS n_days_present,
       CAST(sum((7 - (r.win_end - r.day)) * r.c) * 1000
            // sum(7 - (r.win_end - r.day)) AS BIGINT) AS wma_milli
FROM rep r, mx WHERE r.win_end <= mx.max_day
GROUP BY r.win_end
""",
    tags=("timeseries", "window"),
)
def events_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted 7-day moving average of daily event volume (WMA —
    recent days weighted 7..1): exact integer arithmetic via the bounded
    window-replication pattern (each observed day lands in at most 7
    windows carrying its distance-derived weight; absent days contribute
    neither mass nor weight — the observed-days WMA semantics, mirrored
    identically in the oracle). The input collapses to the days-sized
    series in the first map-side combine; output is milli-scaled integer
    division."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    rep = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "win_end"
        ),
        "day",
        "c",
    )
    wgt = F.lit(7) - F.datediff(F.col("win_end"), F.col("day"))
    return (
        rep.crossJoin(F.broadcast(mx))
        .filter(F.col("win_end") <= F.col("max_day"))
        .groupBy(F.date_format("win_end", "yyyy-MM-dd").alias("window_end"))
        .agg(
            F.count(F.lit(1)).alias("n_days_present"),
            F.expr(
                "CAST(sum((7 - datediff(win_end, day)) * c) * 1000"
                " DIV sum(7 - datediff(win_end, day)) AS BIGINT)"
            ).alias("wma_milli"),
        )
    )


@register(
    "events_key_skew_report",
    oracle="""
WITH k AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS i FROM k),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         CAST(sum(i * cnt) AS BIGINT) AS weighted
  FROM r
),
h AS (SELECT min(user_id) AS hottest_key
      FROM k, s WHERE k.cnt = s.max_cnt)
SELECT s.n_keys, s.total, s.max_cnt, h.hottest_key,
       CAST(CAST(s.max_cnt AS HUGEINT) * 1000000 // s.total AS BIGINT)
           AS max_share_ppm,
       CAST(CAST(2 * s.weighted - (s.n_keys + 1) * s.total AS HUGEINT)
            * 1000000 // (CAST(s.n_keys AS HUGEINT) * s.total) AS BIGINT)
           AS gini_ppm
FROM s, h
""",
    tags=("profiling", "scale"),
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic — the report you run BEFORE picking
    a strategy from operators/scale.py (salted_join / AQE skew split):
    per-key cardinality, the hottest key and its traffic share, and the
    Gini coefficient of the key distribution (0 = uniform, ->1 = one key
    owns the shuffle), all in exact integer ppm via global_row_number
    ranks. One map-side-combined count + the two-level rank scan."""
    from impalatogo_spark.operators.scale import global_row_number
    from impalatogo_spark.session import tracked_persist

    k = tracked_persist(
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # both the summary aggregate and the hottest-key probe re-read the
    # rank pipeline; persist it once (session-tracked)
    r = tracked_persist(global_row_number(k, ["cnt", "user_id"], out="i"))
    s = r.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("i") * F.col("cnt")).alias("weighted"),
    )
    h = (
        k.crossJoin(F.broadcast(s.select("max_cnt")))
        .where(F.col("cnt") == F.col("max_cnt"))
        .agg(F.min("user_id").alias("hottest_key"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")
    return (
        s.crossJoin(F.broadcast(h))
        .select(
            "n_keys",
            "total",
            "max_cnt",
            "hottest_key",
            F.floor(d38(F.col("max_cnt")) * 1000000 / d38(F.col("total")))
            .cast("long")
            .alias("max_share_ppm"),
            F.floor(
                d38(2 * F.col("weighted") - (F.col("n_keys") + 1) * F.col("total"))
                * 1000000
                / d38(F.col("n_keys") * F.col("total"))
            ).cast("long").alias("gini_ppm"),
        )
    )


# ===========================================================================
# Round-3 additions: soft dedup, semantic decontamination, hybrid retrieval
# ===========================================================================

@register(
    "dedup_soft_weights",
    oracle="""
WITH w AS (
  SELECT source, n_chars,
         count(*) OVER (PARTITION BY md5(text)) AS copies
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(1000000 // copies) AS BIGINT) AS eff_docs_ppm,
       CAST(sum(n_chars * (1000000 // copies)) AS BIGINT) AS eff_chars_ppm
FROM w GROUP BY source
""",
    tags=("dedup", "pipeline", "governance"),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, each document is
    down-weighted by 1/copies of its exact content hash (the soft-dedup /
    duplicate-aware-sampling move: repeated documents contribute one
    document's worth of training mass in total, split across copies).
    Readout per source: raw docs vs effective (weight-summed) docs and
    chars, weights as exact integer ppm (1000000 DIV copies — both engines
    truncate identically on positives). Scale shape: ONE shuffle keyed on
    the 32-byte hash (the window partition), then a map-side-combined
    per-source aggregate — same cost as dedup_exact."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "source",
        "n_chars",
        F.count(F.lit(1))
        .over(W.partitionBy(F.md5("text")))
        .alias("copies"),
    )
    return w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("1000000 DIV copies")).alias("eff_docs_ppm"),
        F.sum(F.expr("n_chars * (1000000 DIV copies)")).alias("eff_chars_ppm"),
    )


@register(
    "decontaminate_semantic",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
           FROM embeddings),
bench AS (SELECT vec_id AS bench_id, emb,
                 sqrt(list_dot_product(emb, emb)) AS nrm FROM e WHERE label = 0),
corpus AS (SELECT vec_id, emb,
                  sqrt(list_dot_product(emb, emb)) AS nrm FROM e WHERE label <> 0),
scored AS (
  SELECT c.vec_id, b.bench_id,
         round(list_dot_product(c.emb, b.emb) / (c.nrm * b.nrm), 4) AS cos_sim
  FROM corpus c CROSS JOIN bench b
),
flagged AS (
  SELECT vec_id, bench_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, bench_id) AS rn
  FROM scored WHERE cos_sim >= 0.45
)
SELECT vec_id, bench_id, cos_sim FROM flagged WHERE rn = 1
""",
    tags=("pipeline", "similarity", "decontamination"),
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) train/test decontamination: flag corpus
    vectors whose cosine to ANY benchmark vector (label 0 = the held-out
    eval suite) reaches 0.45, reporting each flagged vector's best
    benchmark match — the paraphrase-leakage companion to the n-gram
    text_contamination gate. Scale shape mirrors it: a benchmark suite is
    SMALL by nature (thousands of rows even at 100 TB corpora), so it is
    BROADCAST and every corpus vector scores against it in one map-side
    pass — zero corpus shuffle, recall 1.0 (sign-band blocking is the
    wrong tool here: leakage thresholds sit far below the near-dup cosine
    range where band recall holds). The per-vector best match is a window
    over flagged rows only."""
    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    bench = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("be"),
        S._norm(F.col("embedding")).alias("bnrm"),
    )
    corpus = e.filter(F.col("label") != 0).select(
        "vec_id",
        F.col("embedding").alias("ce"),
        S._norm(F.col("embedding")).alias("cnrm"),
    )
    # cos_sim materializes behind a Generate barrier (explode(array(..)),
    # the split_words idiom): a plain projected column gets pushed INTO the
    # join condition by predicate pushdown and the 64-dim dot product then
    # evaluates TWICE per pair (once to filter, once to output) — verified
    # in the optimized plan. The barrier keeps it at one fold per pair;
    # nothing is lost because a broadcast cross join forms every pair
    # either way.
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        F.explode(
            F.array(
                F.round(
                    S._dot(F.col("ce"), F.col("be"))
                    / (F.col("cnrm") * F.col("bnrm")),
                    4,
                )
            )
        ).alias("cos_sim"),
    )
    flagged = scored.filter(F.col("cos_sim") >= 0.45)
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("bench_id"))
    )
    return (
        flagged.withColumn("rn", rn).filter(F.col("rn") == 1)
        .select("vec_id", "bench_id", "cos_sim")
    )


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
WITH bm AS (
  SELECT doc_id, rnk FROM ({X.bm25_topk_oracle(k=50)}) ),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb AS q_emb, sqrt(list_dot_product(emb, emb)) AS q_nrm
      FROM e WHERE vec_id = 0),
vscored AS (
  SELECT vec_id,
         round(list_dot_product(q_emb, emb)
               / (q_nrm * sqrt(list_dot_product(emb, emb))), 4) AS cs
  FROM e CROSS JOIN q
),
vr AS (
  SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS rnk
  FROM vscored
),
vtop AS (SELECT vec_id, rnk FROM vr WHERE rnk <= 50),
fused AS (
  SELECT COALESCE(bm.doc_id, vtop.vec_id) AS doc_id,
         bm.rnk AS rnk_bm25, vtop.rnk AS rnk_vec,
         CAST(COALESCE(1000000000 // (60 + bm.rnk), 0)
              + COALESCE(1000000000 // (60 + vtop.rnk), 0) AS BIGINT) AS rrf_ppb
  FROM bm FULL OUTER JOIN vtop ON bm.doc_id = vtop.vec_id
)
SELECT doc_id, rrf_ppb,
       CAST(rnk_bm25 AS BIGINT) AS rnk_bm25, CAST(rnk_vec AS BIGINT) AS rnk_vec
FROM fused ORDER BY rrf_ppb DESC, doc_id LIMIT 10
""",
    tags=("pipeline", "similarity", "retrieval"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: the sparse branch
    (BM25 top-50 for the fixed term set) and the dense branch (exact
    cosine top-50 against query vector vec_id=0) fuse by
    sum(1e9 DIV (60 + rank)) — the classic RRF k=60, as exact integers so
    both engines rank identically; absent-from-one-branch contributes 0
    via the FULL OUTER join. Scale shape: each branch is already the
    scale-correct form (BM25: broadcast df/stats + TakeOrderedAndProject;
    dense: broadcast 1-row query + TopN); the fusion joins two 50-row
    frames — driver-trivial at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    bm = X.bm25_topk(docs, k=50).select(
        F.col("doc_id").alias("b_id"), F.col("rnk").alias("rnk_bm25")
    )
    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        S._norm(F.col("embedding")).alias("q_nrm"),
    )
    vscored = e.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            S._dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * S._norm(F.col("embedding"))),
            4,
        ).alias("cs"),
    )
    vtop = vscored.orderBy(F.desc("cs"), F.asc("vec_id")).limit(50)
    # rank over the 50-row TopN result; non-foldable constant partition key
    # keeps WindowExec's single-partition warning out (see bm25_topk)
    vr = vtop.withColumn(
        "rnk_vec",
        F.row_number().over(
            W.partitionBy(F.col("vec_id") % F.lit(1)).orderBy(
                F.desc("cs"), F.asc("vec_id")
            )
        ),
    ).select(F.col("vec_id").alias("v_id"), "rnk_vec")
    fused = (
        bm.join(vr, bm.b_id == vr.v_id, "full_outer")
        .select(
            F.coalesce("b_id", "v_id").alias("doc_id"),
            (
                F.coalesce(F.expr("1000000000 DIV (60 + rnk_bm25)"), F.lit(0))
                + F.coalesce(F.expr("1000000000 DIV (60 + rnk_vec)"), F.lit(0))
            ).cast("long").alias("rrf_ppb"),
            F.col("rnk_bm25").cast("long").alias("rnk_bm25"),
            F.col("rnk_vec").cast("long").alias("rnk_vec"),
        )
    )
    return fused.orderBy(F.desc("rrf_ppb"), F.asc("doc_id")).limit(10)


@register(
    "select_kcenter_diversity",
    oracle=S.kcenter_oracle(k=5),
    tags=("pipeline", "similarity", "selection"),
)
def select_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware data selection via greedy k-center (farthest-point
    traversal): pick 5 maximally-spread exemplar vectors, then report each
    exemplar's coverage (nearest-center population) — the geometric
    dual of SemDeDup (which prunes the DENSEST neighborhoods, while this
    keeps the coverage extremes; both are standard curation passes over
    the same embedding space). Exact integer arithmetic end-to-end, so the
    DuckDB oracle reproduces every greedy pick and the coverage counts
    bit-for-bit (operators/similarity.py::kcenter_select; oracle unrolls
    the 5 rounds into chained CTEs). Scale: k joinless literal-center
    scans + TakeOrderedAndProject(1) each, one k-row coverage aggregate."""
    return S.kcenter_select(_t(spark, sf_dir, "embeddings"), k=5)


@register(
    "text_span_corruption",
    oracle=X.span_corruption_oracle(),
    tags=("pipeline", "text"),
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption (denoising) training transform: two
    hash-deterministic spans per document replaced by sentinel tokens,
    targets = the removed spans — the masked twin of text_fim_transform.
    Zero-shuffle codegen map pass; corrupted/target sequences pinned by
    md5 (operators/text.py::span_corruption)."""
    return X.span_corruption(_t(spark, sf_dir, "documents"))


@register(
    "embedding_outlier_filter",
    oracle="""
WITH q AS (
  -- ::DOUBLE[] first: DuckDB keeps FLOAT width through arithmetic while
  -- the Spark side quantizes DOUBLE values; the float product crosses an
  -- integer boundary differently for a handful of dims
  SELECT e.vec_id, e.label, CAST(gs.i AS INT) AS dim,
         CAST(floor(e.emb[gs.i + 1] * 1000000) AS BIGINT) AS val
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) e,
       (SELECT unnest(range(64)) AS i) gs
),
cent AS (
  SELECT label, dim,
         CAST((sum(val) - ((sum(val) % count(DISTINCT vec_id)
                            + count(DISTINCT vec_id))
                           % count(DISTINCT vec_id)))
              / count(DISTINCT vec_id) AS BIGINT) AS cval
  FROM q GROUP BY label, dim
),
d AS (
  SELECT q.vec_id, q.label,
         CAST(sum((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS dist2
  FROM q JOIN cent c ON c.label = q.label AND c.dim = q.dim
  GROUP BY q.vec_id, q.label
),
r AS (
  SELECT vec_id, label, dist2,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist2 DESC, vec_id) AS rnk,
         count(*) OVER (PARTITION BY label) AS n
  FROM d
)
SELECT label, vec_id, dist2, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= n // 10
""",
    tags=("pipeline", "similarity", "quality"),
)
def embedding_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier gate: per label, flag the 10% of vectors farthest
    from their label centroid (mislabeled / noisy-embedding pruning — the
    distance-to-centroid filter curation pipelines run before training
    retrieval or classifier heads). Exact integer arithmetic end-to-end:
    dims quantized to BIGINT, centroid = subtract-positive-mod floor
    division (the kmeans update rule), threshold = exact rank selection
    (top n DIV 10 by dist2, vec_id tie-break) — no float percentile.
    Scale shape: centroids are a skinny (label, dim) map-side-combined
    aggregate; distances are one scan with the centroid table joined back
    BROADCAST (label x dim rows, bounded); ranking windows partition by
    label."""
    e = S.with_double_embedding(_t(spark, sf_dir, "embeddings"))
    q = e.select(
        "vec_id", "label",
        F.expr("transform(embedding, v -> CAST(floor(v * 1000000) AS BIGINT))")
        .alias("qa"),
    )
    ql = q.select("vec_id", "label", F.posexplode("qa").alias("dim", "val"))
    cent = (
        ql.groupBy("label", "dim")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        .select("label", "dim", F.expr("(s - pmod(s, c)) div c").alias("cval"))
    )
    d = (
        ql.join(F.broadcast(cent), ["label", "dim"])
        .select("vec_id", "label",
                ((F.col("val") - F.col("cval"))
                 * (F.col("val") - F.col("cval"))).alias("sq"))
        .groupBy("vec_id", "label")
        .agg(F.sum("sq").alias("dist2"))
    )
    wr = W.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id"))
    r = d.select(
        "label", "vec_id", "dist2",
        F.row_number().over(wr).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("label")).alias("n"),
    )
    return r.filter(F.col("rnk") <= F.expr("n DIV 10")).select(
        "label", "vec_id", "dist2", "rnk"
    )


# ===========================================================================
# Mergeable sketches (operators/sketches.py) — per-shard state, associative
# merge; the distinct-counting shape that scales past exact DISTINCT.
# ===========================================================================

_HLL_EST_SQL = K.hll_estimate_case_sql()


@register(
    "sketch_hll_mergeable",
    oracle=f"""
WITH hashed AS (
  SELECT event_type AS shard, {K.hash48_sql('user_id')} AS h FROM events
),
regs AS (
  SELECT shard, h % {K.HLL_M} AS bucket,
         max(least(1 + bit_count(((h // {K.HLL_M}) & -(h // {K.HLL_M})) - 1),
                   {K.HASH_BITS - 5 + 1})) AS m_rho
  FROM hashed GROUP BY shard, h % {K.HLL_M}
),
allregs AS (
  SELECT shard, bucket, m_rho FROM regs
  UNION ALL
  SELECT 'ALL' AS shard, bucket, max(m_rho) AS m_rho FROM regs GROUP BY bucket
),
aggd AS (
  SELECT shard, sum(1.0 / (1::BIGINT << m_rho)) AS s_inv, count(*) AS cnt
  FROM allregs GROUP BY shard
),
est AS (
  SELECT shard, {_HLL_EST_SQL} AS hll_est FROM aggd
),
exact AS (
  SELECT event_type AS shard, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'ALL' AS shard, count(DISTINCT user_id) FROM events
)
SELECT est.shard AS shard, hll_est, exact_distinct
FROM est JOIN exact ON est.shard = exact.shard
ORDER BY shard
""",
    tags=("sketch", "scale"),
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard HyperLogLog registers merged into a global estimate.

    Each event_type shard builds its 32-register HLL independently (ONE
    map-side-combined groupBy — shuffle is O(shards x 32) rows regardless of
    input size), and the 'ALL' row is produced by MERGING the per-shard
    registers (associative max per bucket), never by rescanning the data:
    the pattern that replaces exact COUNT(DISTINCT) re-aggregation at 100 TB.
    md5-based hashing keeps registers — and thus estimates — bit-identical
    to the DuckDB oracle; exact_distinct is carried for honest error
    inspection. Reference parity: the mergeable-state form of the
    reference's ndv()/distinctpc sketch family
    (be/src/exprs/aggregate-functions.cc)."""
    ev = _t(spark, sf_dir, "events")
    regs = tracked_persist(K.hll_registers(ev, "user_id", "event_type"))
    merged_regs = (
        regs.groupBy("bucket")
        .agg(F.max("m_rho").alias("m_rho"))
        .select(F.lit("ALL").alias("shard"), "bucket", "m_rho")
    )
    est = K.hll_estimate(regs.unionByName(merged_regs), ["shard"])
    exact = (
        ev.groupBy(F.col("event_type").alias("shard"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .unionByName(
            ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
            .select(F.lit("ALL").alias("shard"), "exact_distinct")
        )
    )
    return est.join(exact, "shard").orderBy("shard")


@register(
    "sketch_kmv_intersection",
    oracle=f"""
WITH sa AS ({K.kmv_sketch_sql("user_id", "events WHERE event_type = 'click'")}),
sb AS ({K.kmv_sketch_sql("user_id", "events WHERE event_type = 'purchase'")}),
u AS (
  SELECT h, k FROM (SELECT h, k FROM sa UNION SELECT h, k FROM sb)
  ORDER BY h, k LIMIT {K.KMV_K}
),
ustats AS (SELECT count(*) AS cnt_u, max(h) AS hk FROM u),
m AS (
  SELECT count(*) AS matches FROM
  (SELECT h FROM u INTERSECT SELECT h FROM sa INTERSECT SELECT h FROM sb)
),
exact AS (
  SELECT count(*) AS exact_union,
         sum(CASE WHEN ha AND hb THEN 1 ELSE 0 END) AS exact_inter
  FROM (SELECT user_id, bool_or(event_type = 'click') AS ha,
               bool_or(event_type = 'purchase') AS hb
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id)
)
SELECT {K.KMV_K} AS sketch_k, cnt_u AS union_sketch_size,
  round(CASE WHEN cnt_u < {K.KMV_K} THEN CAST(cnt_u AS DOUBLE)
             ELSE {K.KMV_K - 1}e0 * {K.HASH_SPACE} / hk END, 2) AS union_est,
  round(CASE WHEN cnt_u < {K.KMV_K} THEN CAST(matches AS DOUBLE)
             ELSE CAST(matches AS DOUBLE)
                  * ({K.KMV_K - 1}e0 * {K.HASH_SPACE} / hk)
                  / {K.KMV_K} END, 2) AS inter_est,
  CAST(exact_union AS BIGINT) AS exact_union,
  CAST(exact_inter AS BIGINT) AS exact_inter
FROM ustats, m, exact
""",
    tags=("sketch", "scale"),
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) set-operation estimates (Beyer et al., SIGMOD 2007):
    union and intersection cardinality of click-users vs purchase-users from
    two 64-hash sketches, never from the raw sets.

    Union sketch = k smallest of the two sketches' hash union (a TopN, not a
    sort); |union| est = (k-1) * 2^48 / h_(k); intersection est = match-rate
    of the triple intersection scaled by the union estimate. Sketches
    smaller than k ARE their sets, so both estimators switch to exact mode
    (the sf0.001 path). exact_union/exact_inter carried for error
    inspection. All arithmetic integer until one mirrored float division."""
    ev = _t(spark, sf_dir, "events")
    sa = tracked_persist(
        K.kmv_sketch(ev.filter(F.col("event_type") == "click"), "user_id")
    )
    sb = tracked_persist(
        K.kmv_sketch(ev.filter(F.col("event_type") == "purchase"), "user_id")
    )
    u = tracked_persist(
        sa.select("h", "k").union(sb.select("h", "k")).distinct()
        .orderBy("h", "k").limit(K.KMV_K)
    )
    ustats = u.agg(
        F.count(F.lit(1)).alias("cnt_u"), F.max("h").alias("hk")
    )
    m = (
        u.select("h").intersect(sa.select("h")).intersect(sb.select("h"))
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    exact = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("ha"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("hb"),
        )
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.expr("CASE WHEN ha = 1 AND hb = 1 THEN 1 ELSE 0 END"))
            .alias("exact_inter"),
        )
    )
    k = K.KMV_K
    return (
        ustats.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).alias("sketch_k"),
            F.col("cnt_u").alias("union_sketch_size"),
            F.expr(
                f"round(CASE WHEN cnt_u < {k} THEN CAST(cnt_u AS DOUBLE) "
                f"ELSE {k - 1}e0 * {K.HASH_SPACE} / hk END, 2)"
            ).alias("union_est"),
            F.expr(
                f"round(CASE WHEN cnt_u < {k} THEN CAST(matches AS DOUBLE) "
                f"ELSE CAST(matches AS DOUBLE) "
                f"* ({k - 1}e0 * {K.HASH_SPACE} / hk) / {k} END, 2)"
            ).alias("inter_est"),
            F.col("exact_union").cast("long").alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
        )
    )


_Z_BITS = 12
_Z_FILES = 32
_Z_XLO, _Z_XHI = 10, 40


@register(
    "layout_zorder_pruning",
    oracle=f"""
WITH t AS (
  SELECT event_id, user_id % 4096 AS x,
         CAST(floor(epoch(ts)) AS BIGINT) AS tt
  FROM events
),
b AS (SELECT min(tt) AS t0, max(tt) AS t1,
             min(x) AS x0, max(x) AS x1, count(*) AS n FROM t),
z AS (
  SELECT event_id, x, tt,
         {MT.morton_code_sql('(x - x0) * 4096 // (x1 - x0 + 1)',
                             '(tt - t0) * 4096 // (t1 - t0 + 1)', _Z_BITS)} AS zv
  FROM t, b
),
box AS (
  SELECT {_Z_XLO} AS xlo, {_Z_XHI} AS xhi,
         t0 + (t1 - t0) // 3 AS tlo, t0 + 2 * (t1 - t0) // 3 AS thi
  FROM b
),
nat AS (SELECT x, tt, ntile({_Z_FILES}) OVER (ORDER BY tt, event_id) AS f FROM z),
zord AS (SELECT x, tt, ntile({_Z_FILES}) OVER (ORDER BY zv, event_id) AS f FROM z),
natf AS (SELECT f, min(x) AS mnx, max(x) AS mxx, min(tt) AS mnt, max(tt) AS mxt
         FROM nat GROUP BY f),
zf AS (SELECT f, min(x) AS mnx, max(x) AS mxx, min(tt) AS mnt, max(tt) AS mxt
       FROM zord GROUP BY f),
scans AS (
  SELECT 'natural' AS layout, count(*) AS files_total,
         CAST(sum(CASE WHEN mnx <= xhi AND mxx >= xlo
                        AND mnt <= thi AND mxt >= tlo THEN 1 ELSE 0 END)
              AS BIGINT) AS files_scanned
  FROM natf, box
  UNION ALL
  SELECT 'zorder' AS layout, count(*) AS files_total,
         CAST(sum(CASE WHEN mnx <= xhi AND mxx >= xlo
                        AND mnt <= thi AND mxt >= tlo THEN 1 ELSE 0 END)
              AS BIGINT) AS files_scanned
  FROM zf, box
),
m AS (
  SELECT count(*) AS rows_matched FROM z, box
  WHERE x BETWEEN xlo AND xhi AND tt BETWEEN tlo AND thi
)
SELECT layout, files_total, files_scanned, rows_matched
FROM scans, m ORDER BY layout
""",
    tags=("layout", "scale"),
)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified Z-order layout win: lay events out into {_Z_FILES} files
    two ways — natural (time-append) order vs Morton-interleaved
    (user_id, time) — and count how many files a min/max-footer-pruning
    reader must touch for one user-range x time-range box predicate.

    The layout machinery is operators/maintenance.py::morton_code (the
    zorder_write pass); the file split is the sanctioned two-level
    global rank (operators/scale.py::global_row_number + ntile_from_rank),
    never a partition-less window. BOTH dims are range-bucketed to 12 bits
    before interleaving — interleaving raw values lets the wider-range key
    own every varying high bit and gives the narrow key no clustering at
    all (the normalization note on zorder_write; measured here: without it
    the zorder layout scanned exactly as many files as natural). All arithmetic is integer, so the DuckDB oracle
    reproduces the file assignment bit-for-bit. rows_matched is carried to
    show both layouts answer the same query — only the I/O differs.
    Reference parity: the reference leaves layout to LOAD DATA +
    PARQUET_FILE_SIZE (be/src/service/query-options.cc); at 100 TB layout
    IS the scan-cost knob."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 4096).alias("x"),
        F.unix_timestamp("ts").alias("tt"),
    )
    bounds = ev.agg(
        F.min("tt").alias("t0"), F.max("tt").alias("t1"),
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.count(F.lit(1)).alias("n"),
    )
    base = tracked_persist(
        ev.crossJoin(F.broadcast(bounds)).select(
            "event_id", "x", "tt", "n",
            MT.morton_code(
                F.expr("(x - x0) * 4096 div (x1 - x0 + 1)"),
                F.expr("(tt - t0) * 4096 div (t1 - t0 + 1)"),
                _Z_BITS,
            ).alias("zv"),
            F.expr("t0 + (t1 - t0) div 3").alias("tlo"),
            F.expr("t0 + 2 * (t1 - t0) div 3").alias("thi"),
        )
    )

    def layout_scan(name: str, order_cols: list) -> DataFrame:
        r = SC.global_row_number(base, order_cols, out="rn")
        f = r.select(
            SC.ntile_from_rank(F.col("rn"), F.col("n"), _Z_FILES).alias("f"),
            "x", "tt", "tlo", "thi",
        )
        files = f.groupBy("f").agg(
            F.min("x").alias("mnx"), F.max("x").alias("mxx"),
            F.min("tt").alias("mnt"), F.max("tt").alias("mxt"),
            F.min("tlo").alias("tlo"), F.min("thi").alias("thi"),
        )
        hit = (
            (F.col("mnx") <= _Z_XHI) & (F.col("mxx") >= _Z_XLO)
            & (F.col("mnt") <= F.col("thi")) & (F.col("mxt") >= F.col("tlo"))
        )
        return files.agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(hit.cast("int")).cast("long").alias("files_scanned"),
        ).select(F.lit(name).alias("layout"), "files_total", "files_scanned")

    scans = layout_scan("natural", ["tt", "event_id"]).unionByName(
        layout_scan("zorder", ["zv", "event_id"])
    )
    matched = base.filter(
        F.col("x").between(_Z_XLO, _Z_XHI)
        & (F.col("tt") >= F.col("tlo")) & (F.col("tt") <= F.col("thi"))
    ).agg(F.count(F.lit(1)).alias("rows_matched"))
    return scans.crossJoin(F.broadcast(matched)).orderBy("layout")


@register(
    "embedding_covariance_topk",
    oracle=S.gram_oracle_sql() + """
ORDER BY abs(CAST(sum(p) AS BIGINT)) DESC, i, j LIMIT 40
""",
    tags=("embedding", "pca"),
)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment (covariance) matrix of the embedding
    corpus — the first stage of PCA/whitening — via integer-exact Gram
    partials: each Arrow batch contributes Q^T Q (BLAS) as 2,080
    upper-triangle rows, so the shuffle is O(batches x dims^2) and NEVER
    O(rows) — the plan that still works when the corpus is 100 TB (at that
    scale promote the final sum to decimal(38,0)). Quantization
    floor(f64(x) * 2^20) keeps both engines bit-identical (the float-width
    rule: cast to double BEFORE arithmetic on both sides). Top-40 entries
    by |covariance| with (i, j) tie-breaks."""
    return (
        S.covariance_matrix(_t(spark, sf_dir, "embeddings"))
        .orderBy(F.abs(F.col("cov_q")).desc(), "i", "j")
        .limit(40)
    )


@register(
    "embedding_pca_project",
    tags=("embedding", "pca"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PCA pipeline: distributed integer-exact covariance ->
    driver-side eigh over the 2,080 collected scalars (bounded by contract)
    -> broadcast the 8 principal axes back as a tiny DataFrame -> one
    zip_with/aggregate projection per (row, component), pivoted to pc0..pc7
    via conditional aggregates. Rows-only at the driver gate (eigenvectors
    are not SQL-expressible); tests/test_pca.py cross-checks coordinates,
    orthonormality, and explained-variance ordering against numpy on the
    collected corpus."""
    return S.pca_project(_t(spark, sf_dir, "embeddings")).orderBy("vec_id")


# IR-quality gains as shared integer literals: round(1e6 / log2(r+1)) for
# ranks 1..10 plus ideal-DCG prefix sums — computed ONCE driver-side so
# neither engine evaluates log2 (libm last-ulp behavior is not pinned),
# and integer sums are order-independent.
_IR_K = 10


def _ir_gains() -> tuple[dict, dict]:
    import math

    g = {r: round(1e6 / math.log2(r + 1)) for r in range(1, _IR_K + 1)}
    idcg = {k: sum(g[r] for r in range(1, k + 1)) for k in range(1, _IR_K + 1)}
    return g, idcg


def _ir_gain_case(rank_col: str) -> str:
    g, _ = _ir_gains()
    whens = " ".join(f"WHEN {r} THEN {g[r]}" for r in g)
    return f"(CASE {rank_col} {whens} ELSE 0 END)"


def _ir_idcg_case(k_col: str) -> str:
    _, idcg = _ir_gains()
    whens = " ".join(f"WHEN {k} THEN {idcg[k]}" for k in idcg)
    return f"(CASE {k_col} {whens} END)"


_IR_DOT = " + ".join(f"(q.qv[{d}] * c.qv[{d}])" for d in range(1, 65))


@register(
    "retrieval_eval_metrics",
    oracle=f"""
WITH cq AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 65536) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id >= 20
),
qq AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 65536) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 20
),
nrel AS (
  SELECT q.vec_id AS qid, count(*) AS n_rel
  FROM qq q JOIN cq c ON c.label = q.label GROUP BY q.vec_id
),
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY ({_IR_DOT}) DESC, c.vec_id) AS rnk
  FROM qq q, cq c
),
agg AS (
  SELECT s.qid, max(n.n_rel) AS n_rel, sum(s.rel) AS hits,
         min(CASE WHEN s.rel = 1 THEN s.rnk END) AS frank,
         sum(s.rel * {_ir_gain_case('s.rnk')}) AS dcg
  FROM scored s JOIN nrel n ON n.qid = s.qid
  WHERE s.rnk <= {_IR_K}
  GROUP BY s.qid
)
SELECT qid, n_rel,
  round(CAST(hits AS DOUBLE) / least({_IR_K}, n_rel), 4) AS recall10,
  round(CASE WHEN frank IS NULL THEN CAST(0 AS DOUBLE)
             ELSE CAST(1 AS DOUBLE) / frank END, 4) AS mrr,
  round(CAST(dcg AS DOUBLE) / {_ir_idcg_case(f'least({_IR_K}, n_rel)')}, 4)
    AS ndcg
FROM agg ORDER BY qid
""",
    tags=("retrieval", "eval"),
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness: recall@10, MRR, and nDCG@10
    of exact inner-product search, with label agreement as graded
    relevance — the offline gate run before shipping an ANN index or an
    embedding model swap.

    Determinism recipe: scores are INTEGER dot products of floor(f64 * 2^16)
    quantized vectors (exact, order-independent); DCG gains and ideal-DCG
    denominators are integer literal tables computed once driver-side
    (neither engine evaluates log2); each metric ends in ONE mirrored float
    division. Ranking ties break on corpus vec_id. The broadcast 20-query
    side + per-query TopN window is the same shape as brute_force_topk —
    corpus-parallel, no all-pairs blowup beyond the intended q x corpus
    scoring."""
    e = _t(spark, sf_dir, "embeddings")
    quant = (
        "transform(CAST(embedding AS ARRAY<DOUBLE>), "
        "v -> CAST(floor(v * 65536) AS BIGINT))"
    )
    corpus = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clabel"),
        F.explode(F.array(F.expr(quant))).alias("cqv"),
    )
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.explode(F.array(F.expr(quant))).alias("qqv"),
    )
    nrel = (
        queries.join(
            corpus.groupBy("clabel").agg(F.count(F.lit(1)).alias("n_rel")),
            queries.qlabel == F.col("clabel"),
        ).select("qid", "n_rel")
    )
    score = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cqv"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "qid", "cid",
        (F.col("qlabel") == F.col("clabel")).cast("int").alias("rel"),
        score.alias("score"),
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    )
    top = scored.select("qid", "rel", rnk.alias("rnk")).filter(
        F.col("rnk") <= _IR_K
    )
    agg = (
        top.join(F.broadcast(nrel), "qid")
        .groupBy("qid")
        .agg(
            F.max("n_rel").alias("n_rel"),
            F.sum("rel").alias("hits"),
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frank"),
            F.sum(F.col("rel") * F.expr(_ir_gain_case("rnk"))).alias("dcg"),
        )
    )
    return agg.select(
        "qid", "n_rel",
        F.expr(f"round(CAST(hits AS DOUBLE) / least({_IR_K}, n_rel), 4)")
        .alias("recall10"),
        F.expr(
            "round(CASE WHEN frank IS NULL THEN CAST(0 AS DOUBLE) "
            "ELSE CAST(1 AS DOUBLE) / frank END, 4)"
        ).alias("mrr"),
        F.expr(
            f"round(CAST(dcg AS DOUBLE) / "
            f"{_ir_idcg_case(f'least({_IR_K}, n_rel)')}, 4)"
        ).alias("ndcg"),
    ).orderBy("qid")


@register(
    "corpus_similarity_ordering",
    oracle=f"""
WITH sh AS ({D.word_shingles_oracle()}),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
hashed AS (
  SELECT id, ({K._hex_poly_sql('hx', 8)}) AS h
  FROM (SELECT id, md5(g) AS hx FROM sh)
),
sig AS (
  SELECT id, min(({D._MH_A[0]} * h + {D._MH_B[0]}) % {D.P_MERSENNE}) AS mh0
  FROM hashed GROUP BY id
),
keyed AS (SELECT s.id, s.mh0, z.n FROM sig s JOIN sizes z USING (id)),
rnat AS (SELECT id, n, row_number() OVER (ORDER BY id) AS rn FROM keyed),
rmh AS (SELECT id, n, row_number() OVER (ORDER BY mh0, id) AS rn FROM keyed),
pnat AS (SELECT a.id AS aid, b.id AS bid, a.n AS na, b.n AS nb
         FROM rnat a JOIN rnat b ON b.rn = a.rn + 1),
pmh AS (SELECT a.id AS aid, b.id AS bid, a.n AS na, b.n AS nb
        FROM rmh a JOIN rmh b ON b.rn = a.rn + 1),
inat AS (SELECT p.aid, p.bid, count(*) AS inter
         FROM pnat p JOIN sh sa ON sa.id = p.aid
                     JOIN sh sb ON sb.id = p.bid AND sb.g = sa.g
         GROUP BY p.aid, p.bid),
imh AS (SELECT p.aid, p.bid, count(*) AS inter
        FROM pmh p JOIN sh sa ON sa.id = p.aid
                   JOIN sh sb ON sb.id = p.bid AND sb.g = sa.g
        GROUP BY p.aid, p.bid),
m AS (
  SELECT 'natural' AS layout, count(*) AS pairs,
         sum((coalesce(i.inter, 0) * 1000000)
             // (p.na + p.nb - coalesce(i.inter, 0))) AS s
  FROM pnat p LEFT JOIN inat i ON i.aid = p.aid AND i.bid = p.bid
  UNION ALL
  SELECT 'minhash' AS layout, count(*) AS pairs,
         sum((coalesce(i.inter, 0) * 1000000)
             // (p.na + p.nb - coalesce(i.inter, 0))) AS s
  FROM pmh p LEFT JOIN imh i ON i.aid = p.aid AND i.bid = p.bid
)
SELECT layout, pairs, CAST(s // pairs AS BIGINT) AS mean_adj_jaccard_ppm
FROM m ORDER BY layout
""",
    tags=("dedup", "layout", "scale"),
)
def corpus_similarity_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-based corpus reordering audit: rewrite order documents by
    their first MinHash (similar docs become neighbors) and measure the
    mean adjacent-pair Jaccard versus the natural doc_id order. Higher
    adjacent similarity is the storage lever: general-purpose compressors
    see redundant shingles inside one window, so a similarity-ordered
    100 TB corpus packs measurably smaller with zero information loss.

    All-integer contract (mean in ppm via integer division — no float
    anywhere), so the DuckDB oracle is exact. The orderings ride the
    two-level global rank (never a partition-less window); adjacency is a
    rank self-join with explicit aliases (same-lineage rule); per-pair
    intersections join the shingle stream against the O(N) adjacent-pair
    map — never an all-pairs product."""
    docs = _t(spark, sf_dir, "documents")
    sh = tracked_persist(D.word_shingles(docs))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sig = D.minhash_signatures(sh).select("id", "mh0")
    keyed = tracked_persist(sig.join(sizes, "id"))

    def layout_mean(name: str, order_cols: list) -> DataFrame:
        r = SC.global_row_number(keyed, order_cols, out="rn").select(
            "id", "n", "rn"
        )
        a, b = r.alias("a"), r.alias("b")
        pairs = a.join(b, F.col("b.rn") == F.col("a.rn") + 1).select(
            F.col("a.id").alias("aid"), F.col("b.id").alias("bid"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        nxt = pairs.select("aid", "bid")
        inter = (
            sh.join(nxt, sh.id == nxt.aid)
            .select("bid", "g")
            .join(
                sh.select(F.col("id").alias("bid2"), F.col("g").alias("g2")),
                (F.col("bid") == F.col("bid2")) & (F.col("g") == F.col("g2")),
            )
            .groupBy("bid")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        scored = pairs.join(inter, "bid", "left").select(
            F.expr(
                "(coalesce(inter, 0) * 1000000)"
                " div (na + nb - coalesce(inter, 0))"
            ).alias("jppm")
        )
        return scored.agg(
            F.count(F.lit(1)).alias("pairs"), F.sum("jppm").alias("s")
        ).select(
            F.lit(name).alias("layout"), "pairs",
            F.expr("s div pairs").alias("mean_adj_jaccard_ppm"),
        )

    return layout_mean("natural", ["id"]).unionByName(
        layout_mean("minhash", ["mh0", "id"])
    ).orderBy("layout")


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
WITH cells AS ({K.cms_cells_sql('user_id', 'event_type', 'events')}),
merged AS (SELECT j, col, sum(cnt) AS cnt FROM cells GROUP BY j, col),
exact AS (
  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id
  ORDER BY exact_cnt DESC, user_id LIMIT 10
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT user_id, exact_cnt, {j} AS j, "
      f"{K.cms_hash_sql(j, 'user_id')} AS col FROM exact"
      for j in range(K.CMS_D))}
)
SELECT p.user_id, max(p.exact_cnt) AS exact_cnt,
       CAST(min(m.cnt) AS BIGINT) AS cms_est
FROM probes p JOIN merged m ON m.j = p.j AND m.col = p.col
GROUP BY p.user_id
ORDER BY exact_cnt DESC, p.user_id
""",
    tags=("sketch", "scale"),
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates (Cormode & Muthukrishnan 2005)
    for the top-10 heaviest users: per-event_type CMS cells built
    independently (map-side-combined groupBy: at most shards * d * w cells
    on the wire), MERGED by cell-wise sum — completing the mergeable-sketch
    family (HLL = distinct, KMV = set ops, CMS = frequency). The estimate
    min-over-d-rows is >= the exact count by construction (one-sided
    error); exact counts ride along for honest inspection. All integer,
    md5-salted rows, so the DuckDB oracle is bit-exact."""
    ev = _t(spark, sf_dir, "events")
    cells = K.cms_cells(ev, "user_id", "event_type")
    merged = cells.groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))
    exact = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "user_id").limit(10)
    )
    probes = exact.select(
        "user_id", "exact_cnt",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                (K.hash48(F.concat_ws(
                    "|", F.lit(str(j)), F.col("user_id").cast("string")))
                 % K.CMS_W).alias("col"),
            )
            for j in range(K.CMS_D)
        ])).alias("p"),
    ).select("user_id", "exact_cnt", "p.j", "p.col")
    return (
        probes.join(F.broadcast(merged), ["j", "col"])
        .groupBy("user_id")
        .agg(F.max("exact_cnt").alias("exact_cnt"),
             F.min("cnt").alias("cms_est"))
        .orderBy(F.col("exact_cnt").desc(), "user_id")
    )


_HQ_W = 256  # histogram buckets
_HQ_EST = (
    "( (lo + (bkt * (hi - lo + 1)) {D} {W})"
    "  + (((target - cum_before - 1)"
    "      * (((bkt + 1) * (hi - lo + 1)) {D} {W}"
    "         - (bkt * (hi - lo + 1)) {D} {W}))"
    "     {D} cnt_b) )"
)


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         l_returnflag AS shard
  FROM lineitem
),
bnd AS (SELECT min(cents) AS lo, max(cents) AS hi, count(*) AS n FROM c),
cells AS (
  SELECT shard, least({_HQ_W - 1}, (cents - lo) * {_HQ_W} // (hi - lo + 1))
           AS bkt,
         count(*) AS cnt
  FROM c, bnd GROUP BY shard, bkt
),
merged AS (SELECT bkt, sum(cnt) AS cnt_b FROM cells GROUP BY bkt),
cum AS (
  SELECT bkt, cnt_b,
         coalesce(sum(cnt_b) OVER (ORDER BY bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM merged
),
targets AS (
  SELECT q, (q * n + 99) // 100 AS target, lo, hi
  FROM bnd, (SELECT unnest([50, 90, 99]) AS q)
),
est AS (
  SELECT t.q,
         CAST({_HQ_EST.format(D='//', W=_HQ_W)} AS BIGINT) AS est_cents
  FROM targets t JOIN cum c
    ON c.cum_before < t.target AND t.target <= c.cum_before + c.cnt_b
  -- unqualified bkt/cnt_b/cum_before from c; lo/hi/target from t
),
vals AS (SELECT cents, count(*) AS cnt FROM c GROUP BY cents),
pre AS (SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum FROM vals),
ex AS (
  SELECT t.q, min(p.cents) AS exact_cents
  FROM targets t JOIN pre p ON p.cum >= t.target GROUP BY t.q
)
SELECT e.q, e.est_cents, x.exact_cents
FROM est e JOIN ex x ON x.q = e.q ORDER BY e.q
""",
    tags=("sketch", "scale"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile estimates (p50/p90/p99 of extendedprice
    cents): per-returnflag 256-bucket integer histograms built
    independently (shuffle O(shards x 256) cells), merged by bucket-wise
    sum, quantiles read off the merged cumulative with deterministic
    integer interpolation inside the covering bucket. Exact quantiles ride
    along via the scalable distinct-value prefix (global_running_sum —
    never a rows-sized single-reducer window). Completes the mergeable
    family: HLL distinct, KMV set ops, CMS frequency, histogram quantiles.
    All integer arithmetic — the DuckDB oracle is bit-exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_returnflag").alias("shard"),
    )
    bnd = li.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"),
                 F.count(F.lit(1)).alias("n"))
    cells = (
        li.crossJoin(F.broadcast(bnd))
        .groupBy(
            "shard",
            F.expr(f"least({_HQ_W - 1}, "
                   f"(cents - lo) * {_HQ_W} div (hi - lo + 1))").alias("bkt"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = cells.groupBy("bkt").agg(F.sum("cnt").alias("cnt_b"))
    from pyspark.sql import Window as W

    wb = (
        W.partitionBy(F.col("bkt") % 1)  # non-foldable: 256-row window
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = merged.select(
        "bkt", "cnt_b",
        F.coalesce(F.sum("cnt_b").over(wb), F.lit(0)).alias("cum_before"),
    )
    targets = bnd.select(
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("q"),
        "lo", "hi", "n",
    ).select(
        "q", F.expr("(q * n + 99) div 100").alias("target"), "lo", "hi"
    )
    est = (
        targets.crossJoin(F.broadcast(cum))
        .filter(
            (F.col("cum_before") < F.col("target"))
            & (F.col("target") <= F.col("cum_before") + F.col("cnt_b"))
        )
        .select("q", F.expr(_HQ_EST.format(D="div", W=_HQ_W))
                .cast("long").alias("est_cents"))
    )
    vals = li.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    pre = SC.global_running_sum(vals, ["cents"], "cnt", out="cum")
    ex = (
        pre.crossJoin(F.broadcast(targets.select("q", "target")))
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("q")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return est.join(ex, "q").orderBy("q")


def _sign_code_sql(arr: str, lo_dim: int, engine: str) -> str:
    """32-bit sign code over dims [lo_dim, lo_dim+32): bit k set iff
    component > 0 (sign tests carry no float-width ambiguity). Identical
    arithmetic on both engines; only the array indexing differs (Spark SQL
    arrays are 0-based via element_at's 1-based cousin — we use
    element_at(arr, d+1); DuckDB lists are 1-based)."""
    terms = []
    for k in range(32):
        d = lo_dim + k
        idx = (f"element_at({arr}, {d + 1})" if engine == "spark"
               else f"{arr}[{d + 1}]")
        terms.append(f"(CASE WHEN {idx} > 0 THEN {1 << k} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_BRR_SHORTLIST = 32
_BRR_K = 5


@register(
    "ann_topk_binary_rerank",
    oracle=f"""
WITH cb AS (
  SELECT vec_id AS cid,
         {_sign_code_sql('embedding', 0, 'duck')} AS c_lo,
         {_sign_code_sql('embedding', 32, 'duck')} AS c_hi,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 65536) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id >= 10
),
qb AS (
  SELECT vec_id AS qid,
         {_sign_code_sql('embedding', 0, 'duck')} AS q_lo,
         {_sign_code_sql('embedding', 32, 'duck')} AS q_hi,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 65536) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 10
),
ham AS (
  SELECT q.qid, c.cid,
         bit_count(CAST(xor(q.q_lo, c.c_lo) AS BIGINT))
         + bit_count(CAST(xor(q.q_hi, c.c_hi) AS BIGINT)) AS hamming,
         ({_IR_DOT}) AS dot
  FROM qb q, cb c
),
short AS (
  SELECT qid, cid, hamming, dot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY hamming, cid) AS hrnk
  FROM ham
),
rer AS (
  SELECT qid, cid, hamming, dot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot DESC, cid) AS rnk
  FROM short WHERE hrnk <= {_BRR_SHORTLIST}
)
SELECT qid, rnk, cid, hamming, dot FROM rer WHERE rnk <= {_BRR_K}
ORDER BY qid, rnk
""",
    tags=("similarity", "ann"),
)
def ann_topk_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN with exact rerank — the 64x-compression rung of
    the ANN ladder (brute/LSH/IVF/IVF-PQ/int8 + binary): each vector
    compresses to one sign bit per dimension (two 32-bit words), the
    shortlist is Hamming distance (xor + popcount — pure ALU, no floats,
    the form a SIMD scan does over packed codes), and only the
    {_BRR_SHORTLIST}-candidate shortlist touches real vectors for the exact
    integer-dot rerank. At 100 TB the Hamming pass reads 8 bytes/vector
    instead of 256 — memory-bandwidth-bound like the IVF-PQ ADC path, and
    embarrassingly scan-parallel. Sign tests + integer dots keep the DuckDB
    oracle bit-exact."""
    e = _t(spark, sf_dir, "embeddings")
    quant = (
        "transform(CAST(embedding AS ARRAY<DOUBLE>), "
        "v -> CAST(floor(v * 65536) AS BIGINT))"
    )

    def coded(df: DataFrame, id_alias: str, pre: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.expr(_sign_code_sql("embedding", 0, "spark")).alias(f"{pre}_lo"),
            F.expr(_sign_code_sql("embedding", 32, "spark")).alias(f"{pre}_hi"),
            F.explode(F.array(F.expr(quant))).alias(f"{pre}qv"),
        )
    corpus = coded(e.filter(F.col("vec_id") >= 10), "cid", "c")
    queries = coded(e.filter(F.col("vec_id") < 10), "qid", "q")
    dot = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cqv"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    ham = corpus.crossJoin(F.broadcast(queries)).select(
        "qid", "cid",
        (F.bit_count(F.expr("q_lo ^ c_lo").cast("long"))
         + F.bit_count(F.expr("q_hi ^ c_hi").cast("long"))).alias("hamming"),
        dot.alias("dot"),
    )
    from pyspark.sql import Window as W

    short = ham.withColumn(
        "hrnk",
        F.row_number().over(W.partitionBy("qid").orderBy("hamming", "cid")),
    ).filter(F.col("hrnk") <= _BRR_SHORTLIST)
    rer = short.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("dot").desc(), "cid")
        ),
    ).filter(F.col("rnk") <= _BRR_K)
    return rer.select("qid", "rnk", "cid", "hamming", "dot").orderBy(
        "qid", "rnk"
    )


@register(
    "table_expectations",
    oracle="""
WITH e1 AS (
  SELECT 'lineitem_pk_unique' AS expectation,
         count(*) AS checked,
         count(*) - count(DISTINCT l_orderkey * 16 + l_linenumber)
           AS violations
  FROM lineitem
),
e2 AS (
  SELECT 'orders_custkey_fk' AS expectation,
         count(*) AS checked,
         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS violations
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
),
e3 AS (
  SELECT 'quantity_in_range' AS expectation,
         count(*) AS checked,
         sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
           AS violations
  FROM lineitem
),
e4 AS (
  SELECT 'shipdate_not_null' AS expectation,
         count(*) AS checked,
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS violations
  FROM lineitem
),
e5 AS (
  SELECT 'discount_in_unit_range' AS expectation,
         count(*) AS checked,
         sum(CASE WHEN l_discount >= 0 AND l_discount <= 1 THEN 0 ELSE 1 END)
           AS violations
  FROM lineitem
)
SELECT expectation, checked, CAST(violations AS BIGINT) AS violations,
       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL
      SELECT * FROM e3 UNION ALL SELECT * FROM e4 UNION ALL
      SELECT * FROM e5)
ORDER BY expectation
""",
    tags=("pipeline", "validation"),
)
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the warehouse — the
    validation report a 100 TB ingest runs before publishing a snapshot:
    composite-PK uniqueness (lineitem), FK integrity (orders -> customer,
    LEFT JOIN null probe — broadcastable dim), domain range (quantity),
    null checks, and a unit-interval domain check (discount).
    Each expectation is one scan-side aggregate (count/sum over CASE) —
    no row-level materialization of violations, so the report costs one
    pass per table at any scale. All integer; oracle-exact."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")

    e1 = li.agg(
        F.count(F.lit(1)).alias("checked"),
        (F.count(F.lit(1)) - F.countDistinct(
            F.col("l_orderkey") * 16 + F.col("l_linenumber")))
        .alias("violations"),
    ).select(F.lit("lineitem_pk_unique").alias("expectation"),
             "checked", "violations")
    e2 = (
        od.join(F.broadcast(cu.select("c_custkey")),
                od.o_custkey == cu.c_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .alias("violations"),
        )
        .select(F.lit("orders_custkey_fk").alias("expectation"),
                "checked", "violations")
    )
    e3 = li.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when(F.col("l_quantity").between(1, 50), 0).otherwise(1))
        .alias("violations"),
    ).select(F.lit("quantity_in_range").alias("expectation"),
             "checked", "violations")
    e4 = li.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .alias("violations"),
    ).select(F.lit("shipdate_not_null").alias("expectation"),
             "checked", "violations")
    e5 = li.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when((F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
                     0).otherwise(1)).alias("violations"),
    ).select(F.lit("discount_in_unit_range").alias("expectation"),
             "checked", "violations")

    rep = e1.unionByName(e2).unionByName(e3).unionByName(e4).unionByName(e5)
    return rep.select(
        "expectation", "checked",
        F.col("violations").cast("long").alias("violations"),
        F.when(F.col("violations") == 0, 1).otherwise(0)
        .cast("int").alias("pass"),
    ).orderBy("expectation")


@register(
    "sample_referential",
    oracle=f"""
WITH so AS (
  SELECT o_orderkey FROM orders
  WHERE {K.hash48_sql('o_orderkey')} % 10 = 0
),
sl AS (
  SELECT l.l_orderkey FROM lineitem l JOIN so ON so.o_orderkey = l.l_orderkey
),
tot AS (
  SELECT (SELECT count(*) FROM orders) AS orders_total,
         (SELECT count(*) FROM so) AS orders_sampled,
         (SELECT count(*) FROM lineitem) AS lineitem_total,
         (SELECT count(*) FROM sl) AS lineitem_sampled,
         (SELECT count(*) FROM sl l
          WHERE NOT EXISTS (SELECT 1 FROM so WHERE so.o_orderkey = l.l_orderkey))
           AS orphans
)
SELECT orders_total, orders_sampled, lineitem_total, lineitem_sampled,
       orphans,
       round(CAST(orders_sampled AS DOUBLE) / orders_total, 4)
         AS order_rate,
       round(CAST(lineitem_sampled AS DOUBLE) / lineitem_total, 4)
         AS lineitem_rate
FROM tot
""",
    tags=("pipeline", "sampling", "scale"),
)
def sample_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referentially-consistent sampling: hash-select 10% of ORDERS by
    md5(o_orderkey), then take exactly the lineitems of sampled orders —
    the way a coherent dev subset is cut from a 100 TB warehouse (sampling
    each table independently would orphan ~90% of child rows and break
    every join in the subset). Deterministic (hash, not rand), so the
    subset is reproducible across runs and engines; the orphans column
    proves closure (always 0 by construction). Child selection is one
    key join (broadcastable sample-key set at dev-subset rates)."""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    so = tracked_persist(
        od.filter(K.hash48(F.col("o_orderkey")) % 10 == 0)
        .select("o_orderkey")
    )
    sl = tracked_persist(
        li.join(F.broadcast(so), li.l_orderkey == so.o_orderkey)
        .select("l_orderkey")
    )
    orphans = (
        sl.join(so, sl.l_orderkey == so.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    tot = (
        od.agg(F.count(F.lit(1)).alias("orders_total"))
        .crossJoin(F.broadcast(so.agg(
            F.count(F.lit(1)).alias("orders_sampled"))))
        .crossJoin(F.broadcast(li.agg(
            F.count(F.lit(1)).alias("lineitem_total"))))
        .crossJoin(F.broadcast(sl.agg(
            F.count(F.lit(1)).alias("lineitem_sampled"))))
        .crossJoin(F.broadcast(orphans))
    )
    return tot.select(
        "orders_total", "orders_sampled", "lineitem_total",
        "lineitem_sampled", "orphans",
        F.expr("round(CAST(orders_sampled AS DOUBLE) / orders_total, 4)")
        .alias("order_rate"),
        F.expr("round(CAST(lineitem_sampled AS DOUBLE) / lineitem_total, 4)")
        .alias("lineitem_rate"),
    )


@register(
    "agg_incremental_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / count(*) / 100, 4) AS avg_qty
FROM lineitem WHERE l_orderkey % 100 <> 0
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("agg", "ivm", "scale"),
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for a distributive rollup
    (the TPC-H Q1 state): the MV is per-group (count, integer-cent sums)
    partials; an INSERT delta merges with sign +1 and a RETRACTION delta
    with sign -1, all through ONE signed union + groupBy — the rollup is
    never recomputed from the base. Executed here as base (orderkey%10!=0)
    + insert delta (%10==0) - retraction delta (%100==0); the oracle is
    the DIRECT recompute over the equivalent final row set, so the gate
    proves incremental == recompute. At 100 TB this is the difference
    between touching O(delta) and O(corpus) per refresh; derived columns
    (avg) are computed at read time from the maintained partials."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            (F.count(F.lit(1)) * sign).alias("n"),
            (F.sum("qc") * sign).alias("sum_qty_cents"),
            (F.sum("pc") * sign).alias("sum_price_cents"),
        )

    base = partials(li.filter(F.col("l_orderkey") % 10 != 0), 1)
    ins = partials(li.filter(F.col("l_orderkey") % 10 == 0), 1)
    ret = partials(li.filter(F.col("l_orderkey") % 100 == 0), -1)
    state = (
        base.unionByName(ins).unionByName(ret)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("n").alias("n"),
             F.sum("sum_qty_cents").alias("sum_qty_cents"),
             F.sum("sum_price_cents").alias("sum_price_cents"))
        .filter(F.col("n") > 0)
    )
    return state.select(
        "l_returnflag", "l_linestatus", "n",
        "sum_qty_cents", "sum_price_cents",
        F.expr("round(CAST(sum_qty_cents AS DOUBLE) / n / 100, 4)")
        .alias("avg_qty"),
    ).orderBy("l_returnflag", "l_linestatus")


def _fp_parts(table: str, cols: list[str]) -> tuple:
    """Order-insensitive table fingerprint parts shared by both engines:
    per-row 48-bit md5 of the '|'-joined column values (NULL spelled as a
    sentinel), summed in 38-digit decimal (a 64-bit sum overflows at
    ~2^15 rows), reduced mod 2^48."""
    spark_concat = "concat_ws('|', " + ", ".join(
        f"coalesce(CAST({c} AS STRING), '<N>')" for c in cols) + ")"
    duck_concat = " || '|' || ".join(
        f"coalesce(CAST({c} AS VARCHAR), '<N>')" for c in cols)
    return spark_concat, duck_concat


_FP_TABLES = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey"],
    "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_quantity",
                 "l_extendedprice"],
}


@register(
    "table_fingerprints",
    oracle=" UNION ALL ".join(
        f"""SELECT '{t}' AS table_name, count(*) AS n_rows,
        CAST(sum({{h}}) % {K.HASH_SPACE} AS BIGINT) AS fingerprint
        FROM {t}""".format(
            h=K.hash48_sql(f"({_fp_parts(t, cols)[1]})"))
        for t, cols in sorted(_FP_TABLES.items())
    ) + " ORDER BY table_name",
    tags=("pipeline", "validation", "scale"),
)
def table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprints for the warehouse tables —
    the cross-engine integrity check a migration or replication pipeline
    runs: per-row 48-bit md5 over canonicalized columns (NULL sentinel),
    summed commutatively (decimal(38) accumulator — a 64-bit sum
    overflows), reduced mod 2^48. Any engine that holds the same rows
    computes the same fingerprint regardless of partitioning, file order,
    or row order — one scan + one scalar per table at any scale. The
    DuckDB oracle IS the second engine."""
    outs = []
    for t, cols in sorted(_FP_TABLES.items()):
        df = _t(spark, sf_dir, t)
        spark_concat, _ = _fp_parts(t, cols)
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr(
                    f"CAST(sum(CAST({{0}} AS DECIMAL(38,0))) "
                    f"% {K.HASH_SPACE} AS BIGINT)".format(
                        "conv(substring(md5(CAST(" + spark_concat
                        + " AS STRING)), 1, 12), 16, 10)")
                ).alias("fingerprint"),
            ).select(F.lit(t).alias("table_name"), "n_rows", "fingerprint")
        )
    rep = outs[0]
    for o in outs[1:]:
        rep = rep.unionByName(o)
    return rep.orderBy("table_name")


@register(
    "table_storage_report",
    oracle="""
WITH cols AS (
  SELECT 'l_returnflag' AS column_name,
         count(*) AS n_rows,
         count(DISTINCT l_returnflag) AS n_distinct,
         sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS n_null,
         sum(length(CAST(l_returnflag AS VARCHAR))) AS total_chars
  FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', count(*), count(DISTINCT l_linestatus),
         sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END),
         sum(length(CAST(l_linestatus AS VARCHAR)))
  FROM lineitem
  UNION ALL
  SELECT 'l_orderkey', count(*), count(DISTINCT l_orderkey),
         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
         sum(length(CAST(l_orderkey AS VARCHAR)))
  FROM lineitem
  UNION ALL
  SELECT 'l_quantity', count(*), count(DISTINCT l_quantity),
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
         sum(length(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)))
  FROM lineitem
)
SELECT column_name, n_rows,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(n_null AS BIGINT) AS n_null,
       (n_distinct * 10000) // n_rows AS distinct_bp,
       CAST(total_chars AS BIGINT) AS total_chars,
       CASE WHEN n_distinct * 10 <= n_rows THEN 1 ELSE 0 END
         AS dict_candidate
FROM cols ORDER BY column_name
""",
    tags=("pipeline", "validation"),
)
def table_storage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: per-column cardinality, null counts, and
    rendered width over lineitem, with a dictionary-encoding candidate
    flag (NDV <= 10% of rows) — the profile that decides encodings,
    sort keys, and bloom-filter columns before a 100 TB rewrite
    (COMPUTE STATS' planner twin, aimed at the storage layer instead of
    the optimizer). distinct_bp is basis points via integer division; one
    pass per column expression, all integer, oracle-exact. Note
    l_quantity's width is measured over its BIGINT rendering on both
    sides — Spark renders whole DOUBLEs as '26.0' where DuckDB gives
    '26.0' too, but trailing-format parity is not part of the contract."""
    li = _t(spark, sf_dir, "lineitem")

    def col_report(c: str, length_expr: str) -> DataFrame:
        return li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("n_null"),
            F.sum(F.expr(length_expr)).alias("total_chars"),
        ).select(F.lit(c).alias("column_name"), "n_rows", "n_distinct",
                 "n_null", "total_chars")

    parts = [
        col_report("l_returnflag", "length(CAST(l_returnflag AS STRING))"),
        col_report("l_linestatus", "length(CAST(l_linestatus AS STRING))"),
        col_report("l_orderkey", "length(CAST(l_orderkey AS STRING))"),
        col_report("l_quantity",
                   "length(CAST(CAST(l_quantity AS BIGINT) AS STRING))"),
    ]
    rep = parts[0]
    for p in parts[1:]:
        rep = rep.unionByName(p)
    return rep.select(
        "column_name", "n_rows",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_null").cast("long").alias("n_null"),
        F.expr("(n_distinct * 10000) div n_rows").alias("distinct_bp"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.expr("CASE WHEN n_distinct * 10 <= n_rows THEN 1 ELSE 0 END")
        .cast("int").alias("dict_candidate"),
    ).orderBy("column_name")


@register(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
WITH tok AS (
  SELECT id, g AS w FROM ({D.word_shingles_oracle()})
),
sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON b.w = a.w AND b.id > a.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       (i * 1000000) // (na.n + nb.n - i) AS jacc_ppm
FROM inter JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
WHERE 5 * i >= 4 * (na.n + nb.n - i)
ORDER BY id_a, id_b
""",
    tags=("dedup", "scale"),
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity self-join (the PPJoin family:
    Chaudhuri et al. 2006, Xiao et al. 2008) at Jaccard >= 0.8 over
    3-gram shingle sets: order every document's tokens by GLOBAL rarity (df asc, token),
    index only each document's first |x| - ceil(0.8|x|) + 1 tokens
    (ceil(0.8n) = (4n+4) div 5), and
    generate candidates ONLY from prefix-token collisions — two documents
    with disjoint prefixes provably cannot reach the threshold, so the
    filter is LOSSLESS. The oracle is the NAIVE all-pairs ground truth
    (not a mirror of the filter): the gate proves losslessness, the exact
    property that makes this THE ssjoin plan at 100 TB, where indexing
    full shingle sets melts the equijoin on boilerplate shingles. Verification uses
    the integer predicate 5*i >= 4*union — no float anywhere."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    # per-doc shingle SETS as arrays: 1 row/doc to persist, and candidate
    # verification is size(array_intersect(..)) on two ~50-element arrays
    # instead of two joins against the 50x-bigger exploded stream
    arrs = tracked_persist(D.shingle_arrays(docs))
    tok = arrs.select("id", "n", F.explode("arr").alias("w"))
    df_tok = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(df_tok, "w")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("id").orderBy("df", "w")),
        )
        .filter(F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1)
        .select("id", "w")
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"),
              (F.col("a.w") == F.col("b.w"))
              & (F.col("b.id") > F.col("a.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    aa = arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a"),
                     F.col("n").alias("na"))
    ab = arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b"),
                     F.col("n").alias("nb"))
    return (
        cand.join(aa, "id_a").join(ab, "id_b")
        .withColumn("i", F.size(F.array_intersect("arr_a", "arr_b")))
        .filter(5 * F.col("i") >= 4 * (F.col("na") + F.col("nb") - F.col("i")))
        .select(
            "id_a", "id_b",
            F.expr("(i * 1000000) div (na + nb - i)").alias("jacc_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "privacy_k_anonymity",
    oracle="""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
           AS bal_bucket
  FROM customer
),
grp AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS sz
  FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket
),
tot AS (SELECT count(*) AS n_rows FROM q),
ks AS (SELECT unnest([2, 5, 10]) AS k)
SELECT k,
       (SELECT count(*) FROM grp) AS qi_groups,
       CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST((sum(CASE WHEN sz < k THEN sz ELSE 0 END) * 10000)
            // (SELECT n_rows FROM tot) AS BIGINT) AS at_risk_bp
FROM ks, grp
GROUP BY k ORDER BY k
""",
    tags=("pipeline", "privacy", "validation"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market segment,
    account-balance bucket): for k in {2, 5, 10}, how many QI equivalence
    classes are smaller than k and what fraction of ROWS sits in them —
    the re-identification risk report a dataset passes before external
    release. One groupBy builds the class sizes; every k reads the same
    tiny class table (shuffle O(classes), not O(rows)). The balance
    bucket shifts cents positive before integer division (floor-vs-trunc
    on negatives is an engine divergence). All integer; at-risk share in
    basis points via integer division."""
    cu = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)"
               " div 100000").alias("bal_bucket"),
    )
    grp = tracked_persist(
        cu.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    tot = cu.agg(F.count(F.lit(1)).alias("n_rows"))
    ngrp = grp.agg(F.count(F.lit(1)).alias("qi_groups"))
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k")
    )
    per_k = (
        ks.crossJoin(grp)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("long").alias("groups_below_k"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("long").alias("rows_below_k"),
        )
    )
    return (
        per_k.crossJoin(F.broadcast(ngrp)).crossJoin(F.broadcast(tot))
        .select(
            "k", "qi_groups", "groups_below_k", "rows_below_k",
            F.expr("(rows_below_k * 10000) div n_rows").alias("at_risk_bp"),
        )
        .orderBy("k")
    )


@register(
    "events_ab_cuped",
    oracle="""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
           AS pre_c,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
           AS post_c
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT count(*) AS n, CAST(sum(pre_c) AS BIGINT) AS sx,
         CAST(sum(post_c) AS BIGINT) AS sy,
         CAST(sum(pre_c * pre_c) AS BIGINT) AS sxx,
         CAST(sum(pre_c * post_c) AS BIGINT) AS sxy
  FROM per_user
),
v AS (
  SELECT variant, count(*) AS n_users,
         CAST(sum(pre_c) AS BIGINT) AS v_pre,
         CAST(sum(post_c) AS BIGINT) AS v_post
  FROM per_user GROUP BY variant
)
SELECT variant, n_users,
  round(CAST(v_post AS DOUBLE) / n_users / 100, 4) AS mean_post,
  round((CAST(v_post AS DOUBLE) / n_users
         - (CAST(n * sxy - sx * sy AS DOUBLE)
            / (n * sxx - sx * sx))
           * (CAST(v_pre AS DOUBLE) / n_users
              - CAST(sx AS DOUBLE) / n)) / 100, 4) AS mean_adj,
  round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
    AS theta
FROM v, pooled ORDER BY variant
""",
    tags=("events", "experiment"),
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): adjust
    each variant's post-period mean by theta * (pre-period deviation),
    theta = cov(pre, post)/var(pre) from the pooled pre-experiment data —
    the standard trick that cancels between-user variance a raw diff of
    means carries. Determinism recipe: per-user pre/post sums are integer
    cents, the pooled moments are exact integer aggregates (n*sxy - sx*sy
    etc.), and every float step is ONE textually-mirrored expression over
    those integers. One groupBy over users + two scalar aggregates."""
    ev = _t(spark, sf_dir, "events")
    cut = "TIMESTAMP '2024-01-16 00:00:00'"
    per_user = ev.groupBy("user_id").agg(
        F.expr(f"sum(CASE WHEN ts < {cut} "
               "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)")
        .alias("pre_c"),
        F.expr(f"sum(CASE WHEN ts >= {cut} "
               "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)")
        .alias("post_c"),
    ).select(F.expr("user_id % 2").alias("variant"), "pre_c", "post_c")
    per_user = tracked_persist(per_user)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").cast("long").alias("sx"),
        F.sum("post_c").cast("long").alias("sy"),
        F.sum(F.col("pre_c") * F.col("pre_c")).cast("long").alias("sxx"),
        F.sum(F.col("pre_c") * F.col("post_c")).cast("long").alias("sxy"),
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre_c").cast("long").alias("v_pre"),
        F.sum("post_c").cast("long").alias("v_post"),
    )
    return (
        v.crossJoin(F.broadcast(pooled))
        .select(
            "variant", "n_users",
            F.expr("round(CAST(v_post AS DOUBLE) / n_users / 100, 4)")
            .alias("mean_post"),
            F.expr(
                "round((CAST(v_post AS DOUBLE) / n_users"
                " - (CAST(n * sxy - sx * sy AS DOUBLE)"
                "    / (n * sxx - sx * sx))"
                "   * (CAST(v_pre AS DOUBLE) / n_users"
                "      - CAST(sx AS DOUBLE) / n)) / 100, 4)"
            ).alias("mean_adj"),
            F.expr(
                "round(CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (n * sxx - sx * sx), 6)"
            ).alias("theta"),
        )
        .orderBy("variant")
    )


_PACK_SEQ = 512


@register(
    "corpus_packing_efficiency",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         least(len(string_split(text, ' ')), {_PACK_SEQ}) AS n_tok
  FROM documents
),
naive AS (
  SELECT 'naive_1doc' AS strategy,
         count(*) AS sequences,
         CAST(sum({_PACK_SEQ} - n_tok) AS BIGINT) AS padding_tokens
  FROM toks
),
bucketed AS (
  SELECT 'bucketed_4' AS strategy,
         count(*) AS sequences,
         CAST(sum(CASE WHEN n_tok <= 128 THEN 128 - n_tok
                       WHEN n_tok <= 256 THEN 256 - n_tok
                       WHEN n_tok <= 384 THEN 384 - n_tok
                       ELSE {_PACK_SEQ} - n_tok END) AS BIGINT)
           AS padding_tokens
  FROM toks
),
concatp AS (
  SELECT 'concat_split' AS strategy,
         (sum(n_tok) + {_PACK_SEQ - 1}) // {_PACK_SEQ} AS sequences,
         ((sum(n_tok) + {_PACK_SEQ - 1}) // {_PACK_SEQ}) * {_PACK_SEQ}
           - sum(n_tok) AS padding_tokens
  FROM toks
)
SELECT strategy, CAST(sequences AS BIGINT) AS sequences,
       CAST(padding_tokens AS BIGINT) AS padding_tokens,
       CAST((padding_tokens * 10000)
            // (sequences * {_PACK_SEQ}) AS BIGINT) AS waste_bp
FROM (SELECT * FROM naive UNION ALL SELECT * FROM bucketed
      UNION ALL SELECT * FROM concatp)
ORDER BY strategy
""",
    tags=("corpus", "packing"),
)
def corpus_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency audit at seq_len=512: padding waste
    under (a) one-doc-per-sequence, (b) 4 length buckets (the
    bucketed-batching compromise), (c) concat-and-split packing (waste
    only in the final sequence) — the numbers that decide how a training
    run turns documents into fixed-length batches, where strategy (a) at
    100 TB literally doubles the token bill. Token counts are whitespace
    words capped at seq_len; all integer, waste in basis points via
    integer division. One scan, three scalar aggregates."""
    docs = _t(spark, sf_dir, "documents")
    from impalatogo_spark.operators import split_words

    toks = tracked_persist(
        split_words(docs.select("doc_id", "text"))
        .select(F.least(F.size("__w"), F.lit(_PACK_SEQ)).alias("n_tok"))
    )
    naive = toks.agg(
        F.count(F.lit(1)).alias("sequences"),
        F.sum(F.lit(_PACK_SEQ) - F.col("n_tok")).cast("long")
        .alias("padding_tokens"),
    ).select(F.lit("naive_1doc").alias("strategy"),
             "sequences", "padding_tokens")
    bucketed = toks.agg(
        F.count(F.lit(1)).alias("sequences"),
        F.sum(
            F.when(F.col("n_tok") <= 128, 128 - F.col("n_tok"))
            .when(F.col("n_tok") <= 256, 256 - F.col("n_tok"))
            .when(F.col("n_tok") <= 384, 384 - F.col("n_tok"))
            .otherwise(F.lit(_PACK_SEQ) - F.col("n_tok"))
        ).cast("long").alias("padding_tokens"),
    ).select(F.lit("bucketed_4").alias("strategy"),
             "sequences", "padding_tokens")
    concatp = toks.agg(F.sum("n_tok").alias("s")).select(
        F.lit("concat_split").alias("strategy"),
        F.expr(f"(s + {_PACK_SEQ - 1}) div {_PACK_SEQ}").alias("sequences"),
        F.expr(f"((s + {_PACK_SEQ - 1}) div {_PACK_SEQ}) * {_PACK_SEQ} - s")
        .alias("padding_tokens"),
    )
    rep = naive.unionByName(bucketed).unionByName(concatp)
    return rep.select(
        "strategy", F.col("sequences").cast("long").alias("sequences"),
        F.col("padding_tokens").cast("long").alias("padding_tokens"),
        F.expr(f"(padding_tokens * 10000) div (sequences * {_PACK_SEQ})")
        .alias("waste_bp"),
    ).orderBy("strategy")


_AC_T = 32      # spectrogram frames per doc
_AC_FAN = 3     # targets per anchor (fan-out)
_AC_QOFF = 5    # query snippet offset into the source track
_AC_QLEN = 20   # query snippet frames


@register(
    "multimodal_audio_constellation",
    oracle=f"""
WITH peaks AS (
  SELECT doc_id, CAST(t.range AS BIGINT) AS t,
         {K.hash48_sql("substr(text, CAST(t.range AS INTEGER) * 8 + 1, 8)")}
           % 64 AS f
  FROM documents, range({_AC_T}) t
  WHERE CAST(t.range AS BIGINT) < length(text) // 8
),
fp AS (
  SELECT a.doc_id, a.t AS t_anchor,
         a.f * 256 + b.f * 4 + (b.t - a.t) AS h
  FROM peaks a JOIN peaks b
    ON b.doc_id = a.doc_id AND b.t > a.t AND b.t <= a.t + {_AC_FAN}
),
src AS (
  SELECT min(doc_id) AS qdoc FROM documents WHERE n_chars >= 300
),
qfp AS (
  SELECT f.t_anchor - {_AC_QOFF} AS qt, f.h
  FROM fp f, src
  WHERE f.doc_id = src.qdoc
    AND f.t_anchor >= {_AC_QOFF} AND f.t_anchor < {_AC_QOFF + _AC_QLEN}
),
votes AS (
  SELECT c.doc_id, c.t_anchor - q.qt AS off, count(*) AS votes
  FROM fp c JOIN qfp q ON q.h = c.h
  GROUP BY c.doc_id, c.t_anchor - q.qt
)
SELECT doc_id, off, votes FROM votes
ORDER BY votes DESC, doc_id, off LIMIT 5
""",
    tags=("multimodal", "similarity"),
)
def multimodal_audio_constellation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint matching, the constellation/offset-voting shape
    (Wang 2003, the Shazam paper): each track's spectrogram peaks become
    anchor-target pair hashes (f1, f2, dt), a query SNIPPET (a {_AC_QLEN}-
    frame cut at offset {_AC_QOFF}) joins the corpus fingerprint index on
    the pair hash, and the (track, time-offset) vote histogram peaks at
    the true source — robust to the snippet's unknown position, which a
    plain vector match is not. The 'spectrogram' is the repo's documented
    multimodal stub (deterministic md5 peaks per 8-char frame; swap for a
    real FFT executor-side); the index/join/voting plumbing is the real
    thing and is pure integer, so the DuckDB oracle is exact. Fingerprint
    join is hash-equi (shuffle O(fingerprints)), never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    peaks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_AC_T - 1))).alias("t"),
        "text",
    ).filter(
        F.col("t") < F.expr("length(text) div 8")
    ).select(
        "doc_id", F.col("t").cast("long").alias("t"),
        (K.hash48(F.expr("substr(text, CAST(t AS INT) * 8 + 1, 8)")) % 64)
        .alias("f"),
    )
    peaks = tracked_persist(peaks)
    a, b = peaks.alias("a"), peaks.alias("b")
    fp = tracked_persist(
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.t") > F.col("a.t"))
            & (F.col("b.t") <= F.col("a.t") + _AC_FAN),
        ).select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.t").alias("t_anchor"),
            (F.col("a.f") * 256 + F.col("b.f") * 4
             + (F.col("b.t") - F.col("a.t"))).alias("h"),
        )
    )
    src = docs.filter(F.col("n_chars") >= 300).agg(
        F.min("doc_id").alias("qdoc")
    )
    qfp = (
        fp.crossJoin(F.broadcast(src))
        .filter(
            (F.col("doc_id") == F.col("qdoc"))
            & (F.col("t_anchor") >= _AC_QOFF)
            & (F.col("t_anchor") < _AC_QOFF + _AC_QLEN)
        )
        .select((F.col("t_anchor") - _AC_QOFF).alias("qt"),
                F.col("h").alias("qh"))
    )
    votes = (
        fp.join(F.broadcast(qfp), fp.h == qfp.qh)
        .groupBy("doc_id", (F.col("t_anchor") - F.col("qt")).alias("off"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return votes.orderBy(F.col("votes").desc(), "doc_id", "off").limit(5)


_SHAP_CHANNELS = ["click", "error", "signup", "view"]  # bit order


def _shapley_pairs_values() -> str:
    """The 4-channel Shapley subset enumeration as a VALUES literal both
    engines parse identically: (channel, s_without, s_with, w) where w is
    the exact factorial weight |S|!(3-|S|)! (denominator 4! = 24 applied
    once at the end). 4 channels x 8 subsets-without = 32 rows."""
    import math

    rows = []
    for i, ch in enumerate(_SHAP_CHANNELS):
        for s in range(16):
            if s & (1 << i):
                continue
            size = bin(s).count("1")
            w = math.factorial(size) * math.factorial(3 - size)
            rows.append(f"('{ch}', {s}, {s | (1 << i)}, {w})")
    return ", ".join(rows)


@register(
    "events_attribution_shapley",
    oracle=f"""
WITH flags AS (
  SELECT user_id,
         CASE WHEN bool_or(event_type = 'click') THEN 1 ELSE 0 END
         + CASE WHEN bool_or(event_type = 'error') THEN 2 ELSE 0 END
         + CASE WHEN bool_or(event_type = 'signup') THEN 4 ELSE 0 END
         + CASE WHEN bool_or(event_type = 'view') THEN 8 ELSE 0 END AS sid,
         CASE WHEN bool_or(event_type = 'purchase') THEN 1 ELSE 0 END
           AS conv
  FROM events GROUP BY user_id
),
vq AS (
  SELECT sid, (sum(conv) * 1000000) // count(*) AS v
  FROM flags GROUP BY sid
),
pairs(channel, s_without, s_with, w) AS (
  VALUES {_shapley_pairs_values()}
),
shap AS (
  SELECT p.channel,
         CAST(sum(p.w * (coalesce(vw.v, 0) - coalesce(vo.v, 0))) AS BIGINT)
           AS shapley_scaled
  FROM pairs p
  LEFT JOIN vq vo ON vo.sid = p.s_without
  LEFT JOIN vq vw ON vw.sid = p.s_with
  GROUP BY p.channel
)
SELECT channel, shapley_scaled,
       round(CAST(shapley_scaled AS DOUBLE) / 24 / 10000, 4) AS shapley_pp
FROM shap ORDER BY channel
""",
    tags=("events", "attribution"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (the data-driven
    attribution model, Shapley 1953 applied a la Dalessandro 2012): each
    user's exposure set over {{click, error, signup, view}} is a 4-bit id,
    v(S) is the conversion rate (any purchase) of users with EXACTLY that
    exposure set, and each channel's credit is the factorial-weighted sum
    of marginal contributions over all 8 subsets that exclude it. With 4
    channels the enumeration is 32 literal rows — Shapley is exponential
    in CHANNELS, not in data; the data side is ONE groupBy(user) + ONE
    16-row rate table at any corpus size. Determinism: rates quantized to
    integer ppm (integer division), factorial weights exact integers,
    denominator 4! applied once in a mirrored division. Missing exposure
    sets contribute v = 0 on both sides (coalesce)."""
    ev = _t(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        (F.max((F.col("event_type") == "click").cast("int")) * 1
         + F.max((F.col("event_type") == "error").cast("int")) * 2
         + F.max((F.col("event_type") == "signup").cast("int")) * 4
         + F.max((F.col("event_type") == "view").cast("int")) * 8)
        .alias("sid"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    vq = flags.groupBy("sid").agg(
        F.expr("(sum(conv) * 1000000) div count(*)").alias("v")
    )
    pairs = spark.sql(
        "SELECT * FROM VALUES " + _shapley_pairs_values()
        + " AS t(channel, s_without, s_with, w)"
    )
    vo = vq.select(F.col("sid").alias("s_without"), F.col("v").alias("vo"))
    vw = vq.select(F.col("sid").alias("s_with"), F.col("v").alias("vw"))
    shap = (
        pairs.join(F.broadcast(vo), "s_without", "left")
        .join(F.broadcast(vw), "s_with", "left")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.coalesce(F.col("vw"), F.lit(0))
                                - F.coalesce(F.col("vo"), F.lit(0))))
            .cast("long").alias("shapley_scaled")
        )
    )
    return shap.select(
        "channel", "shapley_scaled",
        F.expr("round(CAST(shapley_scaled AS DOUBLE) / 24 / 10000, 4)")
        .alias("shapley_pp"),
    ).orderBy("channel")


@register(
    "corpus_vocab_coverage_curve",
    oracle="""
WITH tok AS (
  SELECT t AS w FROM
  (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
),
types AS (
  SELECT w, count(*) AS cnt FROM tok GROUP BY w
),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM types
),
tot AS (SELECT sum(cnt) AS n_occ, count(*) AS n_types FROM types),
ks AS (SELECT unnest([100, 1000, 10000]) AS k)
SELECT k,
       CAST((SELECT n_types FROM tot) AS BIGINT) AS vocab_types,
       CAST(sum(CASE WHEN rnk <= k THEN cnt ELSE 0 END) AS BIGINT)
         AS covered_occurrences,
       CAST((sum(CASE WHEN rnk <= k THEN cnt ELSE 0 END) * 10000)
            // (SELECT n_occ FROM tot) AS BIGINT) AS coverage_bp
FROM ks, ranked
GROUP BY k ORDER BY k
""",
    tags=("corpus", "vocab"),
)
def corpus_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token OCCURRENCES
    the k most frequent types cover, for k in {100, 1k, 10k} — the
    Zipf-curve readout that sizes a tokenizer's vocab (and quantifies the
    byte-fallback tail a too-small vocab pays at training time). Type
    ranks ride the two-level global rank over the TYPE table (cardinality
    of distinct words, never token occurrences — the only rows-sized
    object is consumed by one map-side-combined count). All integer,
    coverage in basis points via integer division."""
    docs = _t(spark, sf_dir, "documents")
    from impalatogo_spark.operators import split_words

    types = (
        split_words(docs.select("doc_id", "text"))
        .select(F.explode("__w").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = tracked_persist(SC.global_row_number(
        types, [F.desc("cnt"), "w"], out="rnk"
    ))
    tot = ranked.agg(F.sum("cnt").alias("n_occ"),
                     F.count(F.lit(1)).alias("n_types"))
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(100), F.lit(1000), F.lit(10000))).alias("k")
    )
    per_k = (
        ks.crossJoin(ranked)
        .groupBy("k")
        .agg(F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("cnt"))
                   .otherwise(0)).cast("long").alias("covered_occurrences"))
    )
    return (
        per_k.crossJoin(F.broadcast(tot))
        .select(
            "k", F.col("n_types").cast("long").alias("vocab_types"),
            "covered_occurrences",
            F.expr("(covered_occurrences * 10000) div n_occ")
            .alias("coverage_bp"),
        )
        .orderBy("k")
    )


_BLOOM_WORDS = 24   # 24 x 63-bit words = 1512 bits (~10 bits/key at sf0.01)
_BLOOM_HASHES = 3


def _bloom_bit_sql(j: int, key: str) -> tuple[str, str]:
    """(word_idx, bit_mask) exprs for salted hash row j — shared text
    shape; the caller substitutes the engine-appropriate key expr. Words
    hold 63 usable bits: DuckDB's << overflow check refuses shifting into
    the BIGINT sign bit."""
    h = K.hash48_sql(f"'{j}' || '|' || CAST({key} AS VARCHAR)")
    pos = f"({h} % {_BLOOM_WORDS * 63})"
    return f"({pos} // 63)", f"(1::BIGINT << ({pos} % 63))"


@register(
    "sketch_bloom_membership",
    oracle=f"""
WITH bits AS (
  {" UNION ALL ".join(
      f"SELECT event_type AS shard, {_bloom_bit_sql(j, 'user_id')[0]} AS wi, "
      f"{_bloom_bit_sql(j, 'user_id')[1]} AS m FROM events"
      for j in range(_BLOOM_HASHES))}
),
words AS (SELECT shard, wi, bit_or(m) AS w FROM bits GROUP BY shard, wi),
merged AS (SELECT wi, bit_or(w) AS w FROM words GROUP BY wi),
probes AS (
  SELECT user_id AS k, 1 AS is_member
  FROM (SELECT DISTINCT user_id FROM events)
  UNION ALL
  SELECT user_id + 1000000 AS k, 0 AS is_member
  FROM (SELECT DISTINCT user_id FROM events)
),
lookups AS (
  {" UNION ALL ".join(
      f"SELECT k, is_member, {_bloom_bit_sql(j, 'k')[0]} AS wi, "
      f"{_bloom_bit_sql(j, 'k')[1]} AS m FROM probes"
      for j in range(_BLOOM_HASHES))}
),
hits AS (
  SELECT l.k, max(l.is_member) AS is_member,
         min(CASE WHEN (mg.w & l.m) <> 0 THEN 1 ELSE 0 END) AS maybe
  FROM lookups l JOIN merged mg ON mg.wi = l.wi
  GROUP BY l.k
)
SELECT is_member, count(*) AS probes,
       CAST(sum(maybe) AS BIGINT) AS positives,
       CAST((sum(maybe) * 10000) // count(*) AS BIGINT) AS positive_bp
FROM hits GROUP BY is_member ORDER BY is_member
""",
    tags=("sketch", "scale"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom filters as data (Bloom 1970): each shard builds a
    1512-bit / 3-hash filter over its user ids as (word_idx, bit-OR word)
    rows — merge across shards is bit-OR, the fifth associative-merge
    sketch next to HLL/KMV/CMS/histogram. Probed with every true member
    (must read 1 — Bloom has NO false negatives, pinned by the gate) and
    an equal-size disjoint set, reporting the measured false-positive
    rate in basis points. Filter state is O(shards x words) regardless of
    input rows; all integer/md5, oracle-exact."""
    ev = _t(spark, sf_dir, "events")
    nbits = _BLOOM_WORDS * 63

    def bit_rows(src: DataFrame, key_col: str, keep: list[str]) -> DataFrame:
        """3 (wi, mask) rows per input row, one per salted hash — the
        Spark twin of the oracle's UNION ALL over hash rows. The bit
        position rides the explode as a concrete column, so the
        column-amount shift is a plain selectExpr afterwards."""
        cells = F.array(*[
            (K.hash48(F.concat_ws("|", F.lit(str(j)),
                                  F.col(key_col).cast("string"))) % nbits)
            .alias(f"p{j}")
            for j in range(_BLOOM_HASHES)
        ])
        return (
            src.select(*keep, F.explode(cells).alias("pos"))
            .selectExpr(
                *keep, "pos div 63 AS wi",
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)) AS m",
            )
        )

    b = bit_rows(ev.select(F.col("event_type").alias("shard"), "user_id"),
                 "user_id", ["shard"])
    words = b.groupBy("shard", "wi").agg(F.expr("bit_or(m)").alias("w"))
    merged = tracked_persist(
        words.groupBy("wi").agg(F.expr("bit_or(w)").alias("w"))
    )
    users = ev.select("user_id").distinct()
    probes = users.select(F.col("user_id").alias("k"),
                          F.lit(1).alias("is_member")).unionByName(
        users.select((F.col("user_id") + 1000000).alias("k"),
                     F.lit(0).alias("is_member"))
    )
    lk = bit_rows(probes, "k", ["k", "is_member"])
    hits = (
        lk.join(F.broadcast(merged.withColumnRenamed("w", "mw")), "wi")
        .groupBy("k")
        .agg(
            F.max("is_member").alias("is_member"),
            F.min(F.expr("CASE WHEN (mw & m) <> 0 THEN 1 ELSE 0 END"))
            .alias("maybe"),
        )
    )
    return (
        hits.groupBy("is_member")
        .agg(F.count(F.lit(1)).alias("probes"),
             F.sum("maybe").cast("long").alias("positives"))
        .select("is_member", "probes", "positives",
                F.expr("(positives * 10000) div probes").alias("positive_bp"))
        .orderBy("is_member")
    )


# ===========================================================================
# Round 7 (session 2): dense-template mining, classifier calibration,
# source-cap curation, l-diversity release audit
# ===========================================================================

@register(
    "dedup_template_kcore",
    oracle=D.kcore_oracle(D.minhash_lsh_oracle(threshold=0.5), k=2, rounds=3),
    tags=("dedup", "graph", "quality"),
)
def dedup_template_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate family mining: k-core peeling (k=2, 3 unrolled
    rounds) over the MinHash-LSH verified near-dup pair graph. Pairwise
    dedup keeps one doc per PAIR; the dense residue the peel isolates is
    the mirrored-layout / spam-template families where a curation pipeline
    wants cluster-level policy (drop all, keep canonical) instead. Same
    verified-pair derivation as dedup_clusters; peel mechanics + scale
    notes in operators/dedup.py::kcore_peel. Oracle unrolls the identical
    rounds as chained CTEs, so the gate is value-exact."""
    docs = _t(spark, sf_dir, "documents")
    # one persisted shingle frame for signatures AND verify (min() is
    # duplicate-insensitive, so the distinct set yields identical sigs)
    sh = tracked_persist(D.word_shingles(docs))
    cand = D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh)))
    pairs = D.verify_jaccard(cand, sh, threshold=0.5)
    return D.kcore_peel(pairs, k=2, rounds=3)


def _classifier_hex_poly(col: str = "tok") -> str:
    """DuckDB stand-in for conv(substring(md5(tok),1,4),16,10) — the
    classifier weight hash (same polynomial classifier_scores_oracle
    uses)."""
    return " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(md5({col}), {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (3 - i)}"
        for i in range(4)
    )


@register(
    "quality_calibration_ece",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
s AS (SELECT doc_id, ({_classifier_hex_poly()}) % 101 - 50 AS wt FROM w),
cls AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS score_int
        FROM s GROUP BY doc_id),
lab AS (SELECT doc_id,
               CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                         >= len(string_split(text, ' '))
                    THEN 1 ELSE 0 END AS label
        FROM documents),
per AS (SELECT c.doc_id,
               ((c.score_int + 50 * c.n_tokens) * 1000000) // (100 * c.n_tokens)
                 AS conf_ppm,
               l.label
        FROM cls c JOIN lab l ON l.doc_id = c.doc_id),
bins AS (SELECT least(conf_ppm // 100000, 9) AS bin,
                count(*) AS n_docs,
                CAST(sum(conf_ppm) AS BIGINT) // count(*) AS avg_conf_ppm,
                (CAST(sum(label) AS BIGINT) * 1000000) // count(*) AS pos_rate_ppm
         FROM per GROUP BY 1),
g AS (SELECT bin, n_docs, avg_conf_ppm, pos_rate_ppm,
             abs(avg_conf_ppm - pos_rate_ppm) AS gap_ppm
      FROM bins),
e AS (SELECT CAST(sum(n_docs * gap_ppm) AS BIGINT) // CAST(sum(n_docs) AS BIGINT)
        AS ece_ppm FROM g)
SELECT bin, n_docs, avg_conf_ppm, pos_rate_ppm, gap_ppm, e.ece_ppm
FROM g, e ORDER BY bin
""",
    tags=("pipeline", "quality", "validation"),
)
def quality_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    hashing-trick quality classifier, judged against the integer
    repetition-gate label (distinct tokens >= half of tokens, the
    Gopher-style duplicate-word heuristic — the weak-supervision agreement
    readout a pipeline checks before trusting a score threshold at corpus
    scale; Naeini et al. 2015's ECE, in exact integer ppm). Confidence =
    the classifier's mean token weight mapped to [0, 1e6] ppm, binned into
    deciles; per bin: count, mean confidence, empirical positive rate,
    |gap|; ECE = doc-weighted mean |gap|. All arithmetic is BIGINT
    (ppm scaling + floor division mirrored with DuckDB //), so the gate is
    value-exact. Scale shape: one token explode with map-side-combined
    per-doc sums, a doc-grain join, a 10-group aggregate — shuffle carries
    (doc, partials), never tokens; the 10-row bin table is persisted (two
    consumers: the report rows and the ECE reduction) and the 1-row ECE
    broadcast back."""
    docs = _t(spark, sf_dir, "documents")
    cls = X.classifier_scores(docs).select("doc_id", "n_tokens", "score_int")
    toks = F.split("text", " ")
    lab = docs.select(
        "doc_id",
        F.when(2 * F.size(F.array_distinct(toks)) >= F.size(toks), 1)
        .otherwise(0).alias("label"),
    )
    per = cls.join(lab, "doc_id").select(
        F.expr("((score_int + 50 * n_tokens) * 1000000) div (100 * n_tokens)")
        .alias("conf_ppm"),
        "label",
    )
    bins = per.groupBy(
        F.least(F.expr("conf_ppm div 100000"), F.lit(9).cast("long")).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("conf_ppm").alias("sum_conf"),
        F.sum("label").alias("n_pos"),
    )
    g = tracked_persist(
        bins.select(
            "bin",
            "n_docs",
            F.expr("sum_conf div n_docs").alias("avg_conf_ppm"),
            F.expr("(n_pos * 1000000) div n_docs").alias("pos_rate_ppm"),
        ).withColumn("gap_ppm", F.abs(F.col("avg_conf_ppm") - F.col("pos_rate_ppm")))
    )
    ece = g.agg(
        F.expr("sum(n_docs * gap_ppm) div sum(n_docs)").alias("ece_ppm")
    )
    return (
        g.crossJoin(F.broadcast(ece))
        .select("bin", "n_docs", "avg_conf_ppm", "pos_rate_ppm", "gap_ppm",
                "ece_ppm")
        .orderBy("bin")
    )


@register(
    "corpus_source_caps",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
s AS (SELECT doc_id, ({_classifier_hex_poly()}) % 101 - 50 AS wt FROM w),
cls AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS score_int
        FROM s GROUP BY doc_id),
base AS (SELECT d.doc_id, d.source, c.n_tokens, c.score_int
         FROM documents d JOIN cls c ON c.doc_id = d.doc_id),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 50 AS cap_tokens FROM base),
cum AS (SELECT source, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY score_int DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM base)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS source_tokens,
       CAST(sum(CASE WHEN cum_tokens <= cap_tokens THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_docs,
       CAST(sum(CASE WHEN cum_tokens <= cap_tokens THEN n_tokens ELSE 0 END)
            AS BIGINT) AS kept_tokens,
       max(cap_tokens) AS cap_tokens
FROM cum, tot GROUP BY source ORDER BY source
""",
    tags=("pipeline", "sampling", "quality"),
)
def corpus_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-share caps (the RefinedWeb/CCNet 'no domain
    dominates' curation step): every source is capped at 2% of total
    corpus tokens; within a source, documents are kept in QUALITY order
    (classifier score descending, doc_id tie-break) until the cap — so an
    over-represented domain contributes only its best slice while small
    clean sources survive whole (the synthetic corpus's 20 uniform
    sources sit at 5% each, so the cap BINDS — the gate exercises real
    truncation, not a vacuous pass-through). Reports per-source kept/total docs and tokens
    against the cap. Integer-exact: token counts are BIGINT, the cap is a
    floor division, the keep test compares cumulative BIGINTs.

    Scale shape: one token explode for the classifier scores (map-side
    combine), a doc-grain join back to (doc, source), a per-source window
    (hash exchange on source — at 100 TB sources number in the millions,
    so partitions stay balanced), the scalar total broadcast. The base
    frame is persisted: the corpus total and the window scan both consume
    it."""
    docs = _t(spark, sf_dir, "documents")
    cls = X.classifier_scores(docs).select("doc_id", "n_tokens", "score_int")
    base = tracked_persist(
        docs.select("doc_id", "source").join(cls, "doc_id")
    )
    tot = base.agg(F.expr("sum(n_tokens) div 50").alias("cap_tokens"))
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("score_int"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    kept = F.col("cum_tokens") <= F.col("cap_tokens")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("source_tokens"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_docs"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long")
            .alias("kept_tokens"),
            F.max("cap_tokens").alias("cap_tokens"),
        )
        .orderBy("source")
    )


@register(
    "privacy_l_diversity",
    oracle="""
WITH q AS (
  SELECT c_nationkey,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
           AS bal_bucket,
         c_mktsegment AS sens
  FROM customer
),
grp AS (
  SELECT c_nationkey, bal_bucket, count(*) AS sz,
         count(DISTINCT sens) AS l_div
  FROM q GROUP BY c_nationkey, bal_bucket
),
tot AS (SELECT count(*) AS n_rows FROM q),
ls AS (SELECT unnest([2, 3, 5]) AS l)
SELECT l,
       (SELECT count(*) FROM grp) AS qi_groups,
       CAST(sum(CASE WHEN l_div < l THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_l,
       CAST(sum(CASE WHEN l_div < l THEN sz ELSE 0 END) AS BIGINT)
         AS rows_below_l,
       CAST((sum(CASE WHEN l_div < l THEN sz ELSE 0 END) * 10000)
            // (SELECT n_rows FROM tot) AS BIGINT) AS at_risk_bp
FROM ls, grp
GROUP BY l ORDER BY l
""",
    tags=("pipeline", "privacy", "validation"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the companion to
    privacy_k_anonymity: k-anonymity bounds GROUP SIZE but a uniform
    sensitive value inside a large group still leaks — distinct
    l-diversity requires every quasi-identifier class (nation,
    balance-bucket; deliberately coarser than the k-audit's QI set) to
    contain >= l distinct sensitive values (market segment). For l in
    {2, 3, 5}: classes below l, rows in them, at-risk share in basis
    points. One groupBy builds (size, distinct-sensitive) per class;
    every l reads the same tiny class table — shuffle O(classes), all
    integer."""
    cu = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)"
               " div 100000").alias("bal_bucket"),
        F.col("c_mktsegment").alias("sens"),
    )
    grp = tracked_persist(
        cu.groupBy("c_nationkey", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("sz"),
             F.countDistinct("sens").alias("l_div"))
    )
    tot = cu.agg(F.count(F.lit(1)).alias("n_rows"))
    ngrp = grp.agg(F.count(F.lit(1)).alias("qi_groups"))
    ls = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(3), F.lit(5))).alias("l")
    )
    per_l = (
        ls.crossJoin(grp)
        .groupBy("l")
        .agg(
            F.sum(F.when(F.col("l_div") < F.col("l"), 1).otherwise(0))
            .cast("long").alias("groups_below_l"),
            F.sum(F.when(F.col("l_div") < F.col("l"), F.col("sz")).otherwise(0))
            .cast("long").alias("rows_below_l"),
        )
    )
    return (
        per_l.crossJoin(F.broadcast(ngrp)).crossJoin(F.broadcast(tot))
        .select(
            "l", "qi_groups", "groups_below_l", "rows_below_l",
            F.expr("(rows_below_l * 10000) div n_rows").alias("at_risk_bp"),
        )
        .orderBy("l")
    )


@register(
    "ann_topk_mmr",
    oracle=S.mmr_oracle(n_queries=3, n_cand=12, k=5),
    tags=("similarity", "retrieval"),
)
def ann_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 retrieval (Carbonell & Goldstein 1998):
    exact-cosine top-12 candidates per query (vec_id < 3), then the
    greedy maximal-marginal-relevance re-rank with lambda = 0.7 — the
    RAG-serving step that stops near-duplicate passages from crowding a
    result list. All similarities quantized to e4 integers before the
    greedy, every argmax vec_id-tie-broken, so the unrolled-CTE DuckDB
    oracle is value-exact. Candidate stage is the distributed plan
    (broadcast queries x partitioned corpus); the greedy touches only
    O(queries x candidates^2) rows. Mechanics + scale notes in
    operators/similarity.py::mmr_topk."""
    return S.mmr_topk(_t(spark, sf_dir, "embeddings"), n_queries=3,
                      n_cand=12, k=5)


@register(
    "privacy_t_closeness",
    oracle="""
WITH q AS (
  SELECT c_nationkey,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
           AS bal_bucket,
         c_mktsegment AS sens
  FROM customer
),
cell AS (SELECT c_nationkey, bal_bucket, sens, count(*) AS cnt
         FROM q GROUP BY 1, 2, 3),
cls AS (SELECT c_nationkey, bal_bucket, count(*) AS n_c
        FROM q GROUP BY 1, 2),
gl AS (SELECT sens, count(*) AS g_s FROM q GROUP BY sens),
tot AS (SELECT count(*) AS n_rows FROM q),
grid AS (
  SELECT cls.c_nationkey, cls.bal_bucket, cls.n_c, gl.sens, gl.g_s
  FROM cls, gl
),
term AS (
  SELECT g.c_nationkey, g.bal_bucket, g.n_c,
         abs((COALESCE(cell.cnt, 0) * 1000000) // g.n_c
             - (g.g_s * 1000000) // (SELECT n_rows FROM tot)) AS d
  FROM grid g LEFT JOIN cell
    ON cell.c_nationkey = g.c_nationkey
   AND cell.bal_bucket = g.bal_bucket
   AND cell.sens = g.sens
),
tvd AS (
  SELECT c_nationkey, bal_bucket, max(n_c) AS n_c,
         CAST(sum(d) AS BIGINT) // 2 AS tvd_ppm
  FROM term GROUP BY 1, 2
),
ts AS (SELECT unnest([100000, 200000, 300000]) AS t)
SELECT t,
       (SELECT count(*) FROM tvd) AS qi_groups,
       (SELECT max(tvd_ppm) FROM tvd) AS max_tvd_ppm,
       CAST(sum(CASE WHEN tvd_ppm > t THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_above_t,
       CAST(sum(CASE WHEN tvd_ppm > t THEN n_c ELSE 0 END) AS BIGINT)
         AS rows_above_t,
       CAST((sum(CASE WHEN tvd_ppm > t THEN n_c ELSE 0 END) * 10000)
            // (SELECT n_rows FROM tot) AS BIGINT) AS at_risk_bp
FROM ts, tvd
GROUP BY t ORDER BY t
""",
    tags=("pipeline", "privacy", "validation"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007), completing the
    release trio with privacy_k_anonymity / privacy_l_diversity: l
    distinct sensitive values still leak when a class's DISTRIBUTION is
    skewed vs the population (the 'skewness attack'), so t-closeness
    bounds the distance between each quasi-identifier class's sensitive
    distribution and the global one. For the categorical sensitive
    attribute the earth-mover distance reduces to total-variation =
    half the L1 gap, computed here in exact integer ppm (per-cell shares
    floor-divided identically on both engines). The absent-cell terms
    matter (|0 - global share|), so the class x sensitive GRID is built
    explicitly — shuffle O(classes x |S|), never O(rows). Reports, for
    t in {10%, 20%, 30%}: classes above t, rows in them, at-risk basis
    points, plus the corpus-wide max TVD."""
    cu = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)"
               " div 100000").alias("bal_bucket"),
        F.col("c_mktsegment").alias("sens"),
    )
    cell = cu.groupBy("c_nationkey", "bal_bucket", "sens").agg(
        F.count(F.lit(1)).alias("cnt"))
    cls = cu.groupBy("c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("n_c"))
    glob = cu.groupBy("sens").agg(F.count(F.lit(1)).alias("g_s"))
    tot = cu.agg(F.count(F.lit(1)).alias("n_rows"))
    grid = cls.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(tot))
    term = (
        grid.join(cell, ["c_nationkey", "bal_bucket", "sens"], "left")
        .select(
            "c_nationkey", "bal_bucket", "n_c",
            F.expr("abs((coalesce(cnt, 0L) * 1000000) div n_c"
                   " - (g_s * 1000000) div n_rows)").alias("d"),
        )
    )
    tvd = tracked_persist(
        term.groupBy("c_nationkey", "bal_bucket")
        .agg(F.max("n_c").alias("n_c"),
             F.expr("sum(d) div 2").alias("tvd_ppm"))
    )
    summary = tvd.agg(F.count(F.lit(1)).alias("qi_groups"),
                      F.max("tvd_ppm").alias("max_tvd_ppm"))
    ts = spark.range(1).select(F.explode(F.array(
        F.lit(100000), F.lit(200000), F.lit(300000))).alias("t"))
    per_t = (
        ts.crossJoin(tvd)
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("tvd_ppm") > F.col("t"), 1).otherwise(0))
            .cast("long").alias("groups_above_t"),
            F.sum(F.when(F.col("tvd_ppm") > F.col("t"), F.col("n_c"))
                  .otherwise(0)).cast("long").alias("rows_above_t"),
        )
    )
    return (
        per_t.crossJoin(F.broadcast(summary)).crossJoin(F.broadcast(tot))
        .select(
            "t", "qi_groups", "max_tvd_ppm", "groups_above_t",
            "rows_above_t",
            F.expr("(rows_above_t * 10000) div n_rows").alias("at_risk_bp"),
        )
        .orderBy("t")
    )
