"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — correct at any scale if the query set is
small (broadcast queries x partitioned corpus: embarrassingly parallel, no
shuffle until the final per-query top-k, which TakeOrderedAndProject handles).

Scale path: random-hyperplane LSH bucketing — corpus hashed once (linear
scan), queries probe only their bucket. Hyperplane components are derived
from md5 so the index is deterministic and reproducible across runs/clusters.

All vector math stays JVM-side (zip_with/aggregate on array<double>), no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_double_embedding(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Cast array<float> -> array<double> so all arithmetic is double
    precision (matches the oracle's arithmetic; avoids float32 accumulation
    drift)."""
    return df.withColumn(col, F.col(col).cast("array<double>"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    queries: (q_id, q_emb) — small, broadcast; corpus: (vec_id, embedding).
    Ranking uses the ROUNDED similarity with vec_id tie-break so the result
    set is deterministic and oracle-comparable.
    """
    from pyspark.sql import Window as W

    joined = corpus.join(F.broadcast(queries), F.col("q_id") != F.col("vec_id"))
    scored = joined.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rnk")
    )


def cosine_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine >= threshold (embedding near-dup detection).
    Exact quadratic form for oracle parity; lsh_buckets() is the scale path.
    """
    # per-vector norm hoist (see semantic_dedup_pairs): one fold per pair,
    # not three; bit-identical factoring of cosine()
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
                      _norm(F.col("embedding")).alias("nrm_a"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
                      _norm(F.col("embedding")).alias("nrm_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# Sign-band blocking defaults: 10 bands x 6 sign bits covers 60 of the 64
# embedding dims. Recall for a pair at cosine s is 1-(1-p^bits)^bands with
# p = 1 - arccos(s)/pi: ~0.56 at s=0.45, >0.99 at s>=0.8 — tune bands up for
# low-threshold jobs. Candidate rate for uncorrelated pairs is
# 1-(1-2^-bits)^bands (~15% here), and falls fast with band_bits.
N_SIGN_BANDS = 10
SIGN_BAND_BITS = 6

# Auto band sizing (r07, verdict #8): the density knob used to be manual —
# at a fixed width, expected random-collision candidates grow ~n^2 * 2^-bits
# and the sf1 audit put the banded families in the SUPER shuffle-growth
# class. The width now steps with the corpus row count (an INTEGER step
# table, engine-identical, so the DuckDB oracle mirrors the chosen width by
# computing the same CASE over count(*)); wider bands = fewer bands (the 64
# signature dims are the budget: n_bands = 64 div bits). Recall at each
# step is the documented 1-(1-p^bits)^bands; precision stays 1.0 (exact
# cosine verify). Extend the table, not the formula, for larger fleets.
AUTO_BAND_STEPS = ((5_000, 6), (25_000, 8))
AUTO_BAND_MAX_BITS = 10


def auto_band_plan(n_rows: int) -> tuple[int, int]:
    """(n_bands, band_bits) for a corpus of n_rows vectors."""
    for thresh, bits in AUTO_BAND_STEPS:
        if n_rows <= thresh:
            return 64 // bits, bits
    return 64 // AUTO_BAND_MAX_BITS, AUTO_BAND_MAX_BITS


def auto_band_bits_case_sql(count_src: str) -> str:
    """The step table as a DuckDB scalar: CASE over count(*) FROM count_src.
    MUST stay in lockstep with AUTO_BAND_STEPS/auto_band_plan."""
    branches = " ".join(
        f"WHEN count(*) <= {t} THEN {bits}" for t, bits in AUTO_BAND_STEPS
    )
    return (
        f"(SELECT CASE {branches} ELSE {AUTO_BAND_MAX_BITS} END"
        f" FROM {count_src})"
    )


def sign_band_key(emb: Column, band: int, bits: int) -> Column:
    """Pack the sign bits of one contiguous chunk of dimensions into an int.

    Pure comparisons (emb[d] > 0) — no float arithmetic — so the key is
    bit-identical across engines: the DuckDB oracle mirror cannot diverge the
    way a mirrored float dot-product fold could.
    """
    key = F.lit(0)
    for k in range(bits):
        key = key + F.when(
            F.element_at(emb, band * bits + k + 1) > 0, F.lit(1 << k)
        ).otherwise(0)
    return key


def sign_band_pairs(
    corpus: DataFrame,
    threshold: float,
    n_bands: int = N_SIGN_BANDS,
    band_bits: int = SIGN_BAND_BITS,
) -> DataFrame:
    """Embedding near-dup pairs: sign-band blocking + exact cosine verify.

    The scale path replacing all-pairs cosine_pairs(): candidates are pairs
    that share ANY band of their sign fingerprint (SimHash-style pigeonhole
    on the embedding's own sign pattern), generated by a (band, key)
    equijoin — work per band key is O(bucket^2), never O(n^2). Each
    candidate is then verified with the exact rounded cosine >= threshold,
    so precision is 1.0; recall is the banded-LSH recall documented at
    N_SIGN_BANDS. cosine_pairs() remains the exact oracle twin
    (tests/test_similarity.py asserts the banded result is a subset of it).
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                sign_band_key(F.col("embedding"), i, band_bits).alias("bkey"),
            )
            for i in range(n_bands)
        ]
    )
    b = corpus.select("vec_id", F.explode(bands).alias("bk")).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    ca = b.select(F.col("vec_id").alias("id_a"), "band", "bkey")
    cb = b.select(F.col("vec_id").alias("id_b"), "band", "bkey")
    cand = (
        ca.join(cb, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-vector norm hoist (see semantic_dedup_pairs): one fold per pair,
    # not three; bit-identical factoring of cosine()
    ea = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
                       _norm(F.col("embedding")).alias("nrm_a"))
    eb = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
                       _norm(F.col("embedding")).alias("nrm_b"))
    # cos_sim materializes behind a Generate barrier (explode(array(..))):
    # with a plain projection, predicate pushdown folds the threshold test
    # into the join and the 64-dim dot product evaluates TWICE per
    # candidate (filter + output). One fold per candidate is the contract.
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b",
            F.explode(
                F.array(
                    F.round(
                        _dot(F.col("ea"), F.col("eb"))
                        / (F.col("nrm_a") * F.col("nrm_b")),
                        4,
                    )
                )
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def sign_bands_oracle(
    n_bands: int = N_SIGN_BANDS, band_bits: int = SIGN_BAND_BITS
) -> str:
    """DuckDB twin of the sign-band fingerprint over CTE `e(vec_id, emb)`."""
    selects = []
    for i in range(n_bands):
        terms = " + ".join(
            f"(CASE WHEN emb[{i * band_bits + k + 1}] > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(band_bits)
        )
        selects.append(f"SELECT vec_id, {i} AS band, {terms} AS bkey FROM e")
    return "\n  UNION ALL ".join(selects)


def sign_band_pairs_auto(
    corpus: DataFrame, threshold: float, n_rows: int
) -> DataFrame:
    """sign_band_pairs with the width chosen by the auto step table for a
    corpus of n_rows vectors (pass the RAW base-table count — cheap, and
    the oracle can mirror it with a count(*) CASE; a derived-corpus count
    would re-execute the upstream pipeline just to size the bands)."""
    nb, bits = auto_band_plan(n_rows)
    return sign_band_pairs(corpus, threshold, n_bands=nb, band_bits=bits)


def sign_bands_auto_oracle(count_src: str = "embeddings") -> str:
    """Dynamic-width DuckDB twin of sign_bands_oracle over CTE
    `e(vec_id, emb)`: the band width comes from the SAME integer step
    table (auto_band_bits_case_sql) computed over count_src, so the
    banding is bit-identical to sign_band_pairs_auto at every SF.
    generate_series bounds are static (DuckDB rejects lateral column
    params there) and filtered down to the chosen width."""
    return f"""
  SELECT vec_id, gb.band AS band,
         sum(CASE WHEN emb[gb.band * p.bits + gk.k + 1] > 0
                  THEN (1 << gk.k) ELSE 0 END) AS bkey
  FROM e,
       (SELECT {auto_band_bits_case_sql(count_src)} AS bits) p,
       generate_series(0, 10) AS gb(band),
       generate_series(0, {AUTO_BAND_MAX_BITS - 1}) AS gk(k)
  WHERE gb.band < (64 // p.bits) AND gk.k < p.bits
  GROUP BY vec_id, gb.band
"""


def _plane_component(table_i: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5-derived. Computed driver-side (hashlib) so the per-row expression is
    a plain float literal — the in-expression F.md5(F.lit(...)) variant built
    a 1000+-node tree Catalyst wouldn't fold, costing ~25s/query."""
    import hashlib

    h = hashlib.md5(f"t{table_i}_plane{plane}_dim{dim}".encode()).hexdigest()
    return int(h[:8], 16) / 2147483648.0 - 1.0


def lsh_bucket(emb: Column, n_dims: int, table_i: int = 0,
               n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane LSH bucket id for one hash table:
    bit p = sign(dot(emb, plane_p)). Planes are array literals + zip_with
    folds (compact expression tree; a 64-term add-chain per plane made
    codegen the bottleneck)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(
            *[F.lit(_plane_component(table_i, p, d)) for d in range(n_dims)]
        )
        dot = F.aggregate(
            F.zip_with(emb, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def _with_table_buckets(df: DataFrame, emb_col: str, n_dims: int,
                        n_tables: int, n_planes: int) -> DataFrame:
    """Explode df into (row, table, bucket) — one bucket per hash table.
    Recall/cost trade-off: more tables -> higher recall, more candidates
    (candidate if the pair collides in ANY table)."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(F.col(emb_col), n_dims, t, n_planes).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return df.select("*", F.explode(buckets).alias("tb")).select(
        *df.columns, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, n_dims: int, k: int = 5,
                 n_tables: int = 4, n_planes: int = 4) -> DataFrame:
    """Multi-table hyperplane-LSH ANN top-k: a corpus vector is a candidate
    for a query if they share a bucket in ANY of the n_tables hash tables
    (standard OR-construction — single-probe recall on high-dim data is near
    zero, see tests/test_similarity.py). At 100 TB: corpus hashed once
    (linear, embarrassingly parallel), candidates via bucketed hash join,
    exact rescoring only on candidates."""
    from pyspark.sql import Window as W

    c = _with_table_buckets(corpus, "embedding", n_dims, n_tables, n_planes)
    q = _with_table_buckets(queries, "q_emb", n_dims, n_tables, n_planes)
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "q_emb", "vec_id", "embedding")
        .distinct()
    )
    scored = cand.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + per-cell posting lists
# ---------------------------------------------------------------------------

def ivf_index(corpus: DataFrame, n_cells: int = 16):
    """Build an IVF index: the engine's integer k-means (kmeans_quantized,
    3 rounds, deterministic) assigns every vector to its nearest centroid
    cell. Returns (assigned_corpus_df_with_cell, centroids_list) with the
    centroids as float vectors (integer centroid / scale) for
    ivf_ann_topk's cosine probe ranking.

    Scale: the clustering pass is linear and one-off; the index is the
    (cell -> vectors) partitioning. At 100 TB persist the assigned corpus
    bucketed by cell."""
    scale = 1_000_000
    assign, cents = kmeans_quantized(corpus, k=n_cells, iters=3, scale=scale,
                                     return_state=True)
    assigned = corpus.join(
        assign.select("vec_id", F.col("cluster").alias("cell")), "vec_id")
    return assigned, [[v / scale for v in vec] for _, vec in cents]


def ivf_ann_topk(assigned: DataFrame, centroids: list, queries: DataFrame,
                 k: int = 5, n_probe: int = 4) -> DataFrame:
    """IVF search: score each query against the centroids driver-side (tiny),
    probe the n_probe nearest cells, exact-rescore only those posting lists.
    Probing n_probe>1 cells recovers most of the recall a single Voronoi cell
    loses at its boundaries (recall asserted in tests/test_similarity.py)."""
    import math

    from pyspark.sql import Window as W

    q_rows = queries.collect()  # |queries| is small by contract (broadcast side)
    probe_rows = []
    for r in q_rows:
        q_emb = list(r.q_emb)
        qn = math.sqrt(sum(x * x for x in q_emb))
        sims = []
        for cell, c in enumerate(centroids):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            dot = sum(a * b for a, b in zip(q_emb, c))
            sims.append((dot / (qn * cn), cell))
        for _, cell in sorted(sims, reverse=True)[:n_probe]:
            probe_rows.append((r.q_id, q_emb, cell))
    spark = assigned.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "q_id bigint, q_emb array<double>, cell int"
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rnk")
    )


# ===========================================================================
# Vector aggregation + compression (training-pipeline embedding ops)
# ===========================================================================

def label_centroids(df: DataFrame, emb_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean vector in skinny (label, dim, centroid) form.

    Scale shape: posexplode -> groupBy(label, dim) with map-side combine —
    the shuffle carries one partial (sum, count) per (label, dim) per task
    (~640 rows/task here), never the vectors themselves. The wide-array form
    (one row per label) is a cheap F.array of 64 firsts after this; the
    skinny form IS the contract because it aggregates and compares exactly.
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(emb_col).cast("array<double>")).alias("dim", "v"),
    )
    return (
        e.groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 5).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


def label_centroids_oracle() -> str:
    return """
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings)
SELECT label, dim, round(avg(v), 5) AS centroid, count(*) AS n_vectors
FROM e GROUP BY label, dim ORDER BY label, dim
"""


def quantize_int8(df: DataFrame, emb_col: str = "embedding",
                  id_col: str = "vec_id", label_col: str = "label") -> DataFrame:
    """Scalar int8 quantization with per-dimension global [min, max] ranges:
    q = floor((v - min_d) * 255 / (max_d - min_d)), clamped to [0, 255] —
    the 4x compression step for a 100 TB embedding store (float32 -> uint8).

    floor (not round) keeps the mapping engine-exact: both engines evaluate
    the same IEEE double expression, and floor has no half-way ambiguity.
    Per-vector output is an exact integer signature (dim-weighted sum) plus
    quantized min/max — value-comparable without listing 64 columns.

    Scale shape: pass 1 computes the 64-row range table (map-side-combined
    min/max — fixed-size state); pass 2 broadcasts it back onto the exploded
    vectors. Both shuffles carry O(dims), not O(vectors).
    """
    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(emb_col).cast("array<double>")).alias("dim", "v"),
    )
    ranges = e.groupBy("dim").agg(
        F.min("v").alias("min_v"), F.max("v").alias("max_v")
    )
    q = (
        e.join(F.broadcast(ranges), "dim")
        .withColumn(
            "q",
            # zero-range guard: a constant dimension divides by zero — Spark
            # (ansi=off) yields NULL while IEEE doubles yield NaN, so the two
            # engines would clamp differently. Pin the degenerate case to 0
            # explicitly on BOTH sides (see quantize_int8_oracle).
            F.when(F.col("max_v") == F.col("min_v"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col("v") - F.col("min_v"))
                            * 255.0
                            / (F.col("max_v") - F.col("min_v"))
                        ),
                    ),
                )
            ).cast("long"),
        )
    )
    return (
        q.groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q") * (F.col("dim") + 1)).alias("q_signature"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
        )
        .orderBy("vec_id")
    )


def quantized_ranges(corpus: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """One-row DataFrame (min_arr, max_arr): per-dimension global ranges in
    array form, sorted by dimension. Two map-side-combined aggregations over
    skinny (dim, v) rows — the shuffle carries O(dims) partials, never
    vectors — then a single collect_list fold into broadcastable arrays."""
    e = corpus.select(F.posexplode(F.col(emb_col).cast("array<double>")).alias("dim", "v"))
    r = e.groupBy("dim").agg(F.min("v").alias("min_v"), F.max("v").alias("max_v"))
    return r.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "min_v"))), lambda s: s.min_v
        ).alias("min_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "max_v"))), lambda s: s.max_v
        ).alias("max_arr"),
    )


def _q8_array(emb: Column, min_arr: Column, max_arr: Column) -> Column:
    """int8-quantize a double vector against per-dim [min, max] arrays:
    q_d = floor((v - min_d) * 255 / (max_d - min_d)) clamped to [0, 255],
    constant dimensions pinned to 0 (same degenerate-case rule as
    quantize_int8). floor keeps the mapping engine-exact — no half-way
    rounding ambiguity anywhere in the index."""
    def one(v: Column, i: Column) -> Column:
        lo = F.element_at(min_arr, i + 1)
        hi = F.element_at(max_arr, i + 1)
        return (
            F.when(hi == lo, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.greatest(F.lit(0), F.floor((v - lo) * 255.0 / (hi - lo))),
                )
            )
            .cast("long")
        )

    return F.transform(emb, one)


def _w_fp_array(emb: Column, min_arr: Column, max_arr: Column) -> Column:
    """Fixed-point asymmetric-distance weights for a FLOAT query against the
    int8 store: W_d = floor(vq_d * s_d * 2^16) with s_d the per-dim
    quantization scale. Ranking corpus codes by sum(W_d * code_d) is the
    standard ADC (asymmetric distance computation) inner-product estimate —
    sum_d vq_d*(min_d + s_d*code_d) differs from it only by a per-query
    constant, which cannot change the ranking. floor (never round) keeps the
    fixed-point step free of half-way ties, so scores are exact BIGINTs."""
    def one(v: Column, i: Column) -> Column:
        lo = F.element_at(min_arr, i + 1)
        hi = F.element_at(max_arr, i + 1)
        return (
            F.when(hi == lo, F.lit(0))
            .otherwise(F.floor(v * ((hi - lo) / F.lit(255.0)) * F.lit(65536.0)))
            .cast("long")
        )

    return F.transform(emb, one)


def quantized_mips_topk(corpus: DataFrame, k: int = 5,
                        query_pred: Column | None = None) -> DataFrame:
    """Approximate maximum-inner-product search (MIPS) over the int8-quantized
    embedding store, with asymmetric distance computation: float queries are
    folded into fixed-point weights against the per-dim quantization scale,
    and corpus vectors are scored as INTEGER dot products of (weight, code).

    This is the search path a 4x-compressed (float32 -> uint8) 100 TB
    embedding store actually executes: the scan reads 1/4 the bytes, the
    scoring loop is integer multiply-adds, and because every score is an
    exact BIGINT the ranking is bit-deterministic across engines and
    partitionings (the DuckDB oracle mirrors it exactly — the only floats
    are the per-query weight fold, written identically on both sides and
    floor()-ed with no half-way ambiguity). Recall vs the exact float
    inner-product ranking is asserted in tests/test_similarity.py.

    Scale shape: ranges are a one-row broadcast; quantization is a linear
    scan; queries broadcast (small by contract); the only wide operation is
    the per-query top-k window (TakeOrderedAndProject-sized output).
    """
    from pyspark.sql import Window as W

    if query_pred is None:
        query_pred = F.col("vec_id") < 5
    emb = corpus.withColumn("embedding", F.col("embedding").cast("array<double>"))
    ranges = quantized_ranges(emb)
    qc = emb.crossJoin(F.broadcast(ranges)).select(
        "vec_id",
        _q8_array(F.col("embedding"), F.col("min_arr"), F.col("max_arr")).alias("q8"),
    )
    q = emb.filter(query_pred).crossJoin(F.broadcast(ranges)).select(
        F.col("vec_id").alias("q_id"),
        _w_fp_array(F.col("embedding"), F.col("min_arr"), F.col("max_arr")).alias(
            "w_q"
        ),
    )
    scored = qc.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("q8"), F.col("w_q"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("score_fp"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("score_fp"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "score_fp", "rnk")
    )


def quantized_mips_oracle(k: int = 5, query_max: int = 5) -> str:
    """DuckDB twin of quantized_mips_topk: identical quantization CTE,
    identical fixed-point weight fold (same float expression shape, so the
    IEEE evaluation is bit-identical), pairwise integer dot in skinny (dim)
    form, identical rank tie-break."""
    return f"""
WITH e AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings),
r AS (SELECT dim, min(v) AS min_v, max(v) AS max_v FROM e GROUP BY dim),
q8 AS (
  SELECT e.vec_id, e.dim,
         CASE WHEN r.max_v = r.min_v THEN 0
              ELSE least(255, greatest(0,
                CAST(floor((e.v - r.min_v) * 255.0 / (r.max_v - r.min_v)) AS BIGINT)
              )) END AS q
  FROM e JOIN r USING (dim)),
w AS (
  SELECT e.vec_id AS q_id, e.dim,
         CASE WHEN r.max_v = r.min_v THEN 0
              ELSE CAST(floor(e.v * ((r.max_v - r.min_v) / 255.0) * 65536.0)
                        AS BIGINT) END AS wq
  FROM e JOIN r USING (dim) WHERE e.vec_id < {query_max}),
scored AS (
  SELECT w.q_id, c.vec_id, CAST(sum(w.wq * c.q) AS BIGINT) AS score_fp
  FROM w JOIN q8 c ON w.dim = c.dim AND w.q_id <> c.vec_id
  GROUP BY 1, 2),
ranked AS (
  SELECT q_id, vec_id, score_fp,
         row_number() OVER (PARTITION BY q_id ORDER BY score_fp DESC, vec_id) AS rnk
  FROM scored)
SELECT q_id, vec_id, score_fp, rnk FROM ranked WHERE rnk <= {k}
"""


def quantize_int8_oracle() -> str:
    return """
WITH e AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings),
r AS (SELECT dim, min(v) AS min_v, max(v) AS max_v FROM e GROUP BY dim),
q AS (
  SELECT e.vec_id, e.label, e.dim,
         CASE WHEN r.max_v = r.min_v THEN 0
              ELSE least(255, greatest(0,
                CAST(floor((e.v - r.min_v) * 255.0 / (r.max_v - r.min_v)) AS BIGINT)
              )) END AS q
  FROM e JOIN r USING (dim))
SELECT vec_id, label,
       CAST(sum(q * (dim + 1)) AS BIGINT) AS q_signature,
       min(q) AS q_min, max(q) AS q_max
FROM q GROUP BY vec_id, label ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Contrastive triplet mining (embedding-model training-data generation)
# ---------------------------------------------------------------------------

def contrastive_triplets(corpus: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Mine (anchor, positive, negative) triplets for contrastive training:
    positives are sign-band near-dup pairs (cosine >= threshold, the banded
    scale path — never all-pairs); each pair gets ONE deterministic
    pseudo-random negative (a hash of the pair ids mod the corpus id range)
    kept only when it exists and is strictly farther from the anchor than
    the positive — the informative-triplet margin condition.

    Deterministic end to end (hash-picked negatives, no RAND), so the
    DuckDB oracle reproduces every triplet. Scale shape: candidate
    generation is the banded equijoin; the negative lookup is one hash join
    on vec_id; the max-id is a one-row broadcast scalar.
    """
    emb = with_double_embedding(corpus)
    pos = sign_band_pairs(emb, threshold)
    mx = emb.agg(F.max("vec_id").alias("mx"))
    t = (
        pos.crossJoin(F.broadcast(mx))
        .withColumn(
            "neg_id",
            (F.col("id_a") * F.lit(2654435761) + F.col("id_b") * F.lit(40503) + 7)
            % (F.col("mx") + 1),
        )
        .filter(
            (F.col("neg_id") != F.col("id_a")) & (F.col("neg_id") != F.col("id_b"))
        )
    )
    # per-vector norm hoist (see semantic_dedup_pairs)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
                    _norm(F.col("embedding")).alias("nrm_a"))
    en = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("en"),
                    _norm(F.col("embedding")).alias("nrm_n"))
    return (
        t.join(ea, "id_a")
        .join(en, "neg_id")
        .select(
            "id_a",
            "id_b",
            "neg_id",
            "cos_sim",
            # Generate barrier: keeps the margin filter from re-evaluating
            # the negative's dot product (see sign_band_pairs)
            F.explode(
                F.array(
                    F.round(
                        _dot(F.col("ea"), F.col("en"))
                        / (F.col("nrm_a") * F.col("nrm_n")),
                        4,
                    )
                )
            ).alias("neg_sim"),
        )
        .filter(F.col("neg_sim") < F.col("cos_sim"))
        .select(
            F.col("id_a").alias("anchor_id"),
            F.col("id_b").alias("positive_id"),
            F.col("neg_id").alias("negative_id"),
            F.col("cos_sim").alias("pos_sim"),
            # + 0.0 collapses IEEE negative zero: round() of a tiny
            # negative cosine is -0.0 in DuckDB but +0.0 in Spark
            # (BigDecimal HALF_UP), and the driver's %.6g renders them
            # '-0' vs '0' — an sf1-exposed hash mismatch (one 50k-corpus
            # negative sampled a near-orthogonal vector)
            (F.col("neg_sim") + F.lit(0.0)).alias("neg_sim"),
        )
        .orderBy("anchor_id", "positive_id")
    )


def contrastive_triplets_oracle(threshold: float = 0.45) -> str:
    """DuckDB twin: same banding, same hash-picked negative, same margin."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (
  {sign_bands_oracle()}
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
),
pos AS (
  SELECT id_a, id_b,
         round(list_dot_product(a.emb, b2.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b2.emb, b2.emb))), 4) AS cos_sim
  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b
  WHERE round(list_dot_product(a.emb, b2.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b2.emb, b2.emb))), 4) >= {threshold}
),
mx AS (SELECT max(vec_id) AS mx FROM e),
t AS (
  SELECT id_a, id_b, cos_sim,
         (id_a * 2654435761 + id_b * 40503 + 7) % (mx + 1) AS neg_id
  FROM pos, mx
),
tt AS (SELECT * FROM t WHERE neg_id <> id_a AND neg_id <> id_b),
j AS (
  SELECT tt.id_a, tt.id_b, tt.neg_id, tt.cos_sim,
         round(list_dot_product(a.emb, n.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(n.emb, n.emb))), 4) AS neg_sim
  FROM tt JOIN e a ON a.vec_id = tt.id_a JOIN e n ON n.vec_id = tt.neg_id
)
SELECT id_a AS anchor_id, id_b AS positive_id, neg_id AS negative_id,
       cos_sim AS pos_sim, neg_sim + 0.0 AS neg_sim
FROM j WHERE neg_sim < cos_sim
ORDER BY anchor_id, positive_id
"""


# -- integer-exact k-means clustering ---------------------------------------

def _quantized(emb: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """(vec_id, qa): the shared single-multiply integer quantization."""
    return emb.select(
        "vec_id",
        F.expr(f"transform(embedding, v -> CAST(floor(v * {scale}) AS BIGINT))")
        .alias("qa"),
    )


def _dist2_sql(col: str, vec: list) -> str:
    """Rendered SQL: the exact integer squared distance from the BIGINT
    array `col` to a literal vector. One F.expr string parse per table —
    building k*dim literals as individual F.lit() Columns costs one py4j
    round-trip each (measured ~0.6 s per k-means round at k=4, dim=64)."""
    lits = ", ".join(f"{v}L" for v in vec)
    return (f"aggregate(zip_with({col}, array({lits}), "
            "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x)")


def _dist2_choices(col: str, cents: list) -> str:
    """Rendered SQL: array of named_struct(dist2, cluster), one per literal
    centroid in `cents` ([(cid, vec)]). Field order (dist2, cluster) makes
    array_min the argmin with cluster-id tie-break (== the oracles' ORDER BY
    dist2, cluster) and array_sort the probe ranking."""
    return "array(" + ", ".join(
        f"named_struct('dist2', {_dist2_sql(col, vec)}, 'cluster', {cid})"
        for cid, vec in cents) + ")"


def _fold_books(rows) -> list:
    """(cluster, dim, val) rows -> the [(cid, [val per dim])] centroid list,
    cids ascending — the literal table every argmin above folds in."""
    by_cluster: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, {})[r.dim] = r.val
    return [(cid, [dims[d] for d in range(len(dims))])
            for cid, dims in sorted(by_cluster.items())]


def kmeans_quantized(emb: DataFrame, k: int = 4, iters: int = 3,
                     scale: int = 1_000_000, return_state: bool = False):
    """Lloyd's k-means over embeddings in EXACT integer arithmetic, so a
    DuckDB oracle (kmeans_oracle) reproduces every assignment bit-for-bit.
    The one-task case of kmeans_multi_quantized (full vector width); see
    there for the determinism recipe and scale shape.

    Returns (vec_id, cluster, dist2); with return_state also the centroids
    the FINAL assignment used (the c_{iters-1} table of the oracle) — what
    an IVF probe needs."""
    assign, books = kmeans_multi_quantized(
        emb, [("cluster", k, iters, 0, None)], scale=scale)
    out = assign.select("vec_id", "cluster",
                        F.col("cluster_dist2").alias("dist2"))
    if return_state:
        return out, books["cluster"]
    return out


def kmeans_multi_quantized(emb: DataFrame, tasks: list,
                           scale: int = 1_000_000):
    """Independent exact-integer k-means trainings over (slices of) the
    same quantized vectors, fused into one pass per round — the engine's
    one k-means kernel (kmeans_quantized is its one-task case). Product
    quantization trains m subspace codebooks plus a coarse quantizer for
    IVF-PQ; fused, they share:

      * ONE init collect — every task's init centroids are slices of the
        first max(k) vec_ids' vectors (quantization is elementwise, so
        slice-then-quantize == quantize-then-slice);
      * ONE centroid-update job per round — each still-active task
        contributes a (task, cluster, local-dim, val) branch (argmin
        computed once per row behind the Generate barrier, then
        posexplode of its slice) and one union-groupBy shuffles them all;
      * ONE final projection computing every task's argmin.

    Determinism recipe (mirrored per task by kmeans_cte_parts):
      * dims quantized to BIGINT via floor(v * scale) — one IEEE multiply,
        engine-identical;
      * init = the k smallest vec_ids' vectors, cluster ids 0..k-1;
      * assignment = argmin of the exact integer squared distance with
        cluster-id tie-break (struct-min == ORDER BY dist2, cluster);
      * centroid update = exact floor division (s - pmod(s, c)) div c —
        `div` truncates and DuckDB `/` rounds, so both sides subtract the
        positive mod first;
      * a cluster that loses all members disappears (both sides derive the
        next centroid set from the assignment groupBy).

    Scale shape: assignment is a scan with the k*dim literal centroid
    table folded into codegen (bounded and tiny); the update shuffles
    skinny (task, cluster, dim, partial-sum) rows with map-side combine.
    Per-round driver collect is sum(k*dim) rows; no lineage growth (each
    round's centroids are literals, not a DataFrame chain).

    tasks: list of (name, k, iters, offset, dsub) — `name` becomes the
    task's cluster column (+ `{name}_dist2`), offset/dsub its 0-based
    slice of the quantized vector (dsub None = to the end of the vector).
    Names must be non-empty and unique. Returns (assign, books): one
    DataFrame with vec_id + every task's final assignment, and
    {name: [(cid, vec)]} — the centroids each final assignment used."""
    names = [t[0] for t in tasks]
    if not (names and all(names) and len(set(names)) == len(names)):
        raise ValueError(
            f"k-means task names must be non-empty and unique: {names}")
    q = _quantized(emb, scale)
    kmax = max(k for _, k, _, _, _ in tasks)
    init = q.orderBy("vec_id").limit(kmax).collect()
    width = len(init[0].qa) if init else 0
    tasks = [(name, k, iters, off, width - off if dsub is None else dsub)
             for name, k, iters, off, dsub in tasks]
    books: dict[str, list] = {
        name: [(i, list(init[i].qa[off:off + dsub]))
               for i in range(min(k, len(init)))]
        for name, k, iters, off, dsub in tasks
    }
    slices = {name: f"slice(qa, {off + 1}, {dsub})"
              for name, _k, _it, off, dsub in tasks}

    def best(name: str) -> Column:
        return F.array_min(F.expr(_dist2_choices(slices[name], books[name])))

    n_updates = max(iters for _, _, iters, _, _ in tasks) - 1
    for u in range(n_updates):
        active = [t for t in tasks if t[2] - 1 > u]
        upd = None
        for tid, (name, *_rest) in enumerate(active):
            branch = q.select(
                "qa", best(name).getField("cluster").alias("cluster"),
            ).select(
                F.lit(tid).alias("t"), "cluster",
                F.posexplode(F.expr(slices[name])).alias("dim", "val"),
            )
            upd = branch if upd is None else upd.unionAll(branch)
        sums = (
            upd.groupBy("t", "cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .select("t", "cluster", "dim",
                    F.expr("(s - pmod(s, c)) div c").alias("val"))
        )
        rows = sums.collect()
        for tid, (name, *_rest) in enumerate(active):
            books[name] = _fold_books(r for r in rows if r.t == tid)
    assign = q.select(
        "vec_id", "qa",
        *[best(name).alias(f"__best_{name}") for name in names],
    ).select(
        "vec_id",
        *[c for name in names
          for c in (F.col(f"__best_{name}.cluster").alias(name),
                    F.col(f"__best_{name}.dist2").alias(f"{name}_dist2"))],
    )
    return assign, books


def kmeans_cte_parts(k: int = 4, iters: int = 3, scale: int = 1_000_000,
                     n_dims: int = 64, prefix: str = "",
                     offset: int = 0, source: str = "embeddings") -> list[str]:
    """The kmeans_oracle CTE chain as a reusable list, with every CTE name
    carrying `prefix` and the embedding index shifted by `offset` — so m
    independent subspace clusterings (product quantization) compose into
    one WITH block. `source` swaps the clustered relation (a table name or
    parenthesized subquery) so an index can be trained on a SUBSET while
    queries/scoring span the full corpus (ivf_indexed_oracle)."""
    p = prefix
    idx = f"gs.i + 1 + {offset}" if offset else "gs.i + 1"
    parts = [f"""
{p}q AS (
  SELECT e.vec_id, CAST(gs.i AS INT) AS dim,
         CAST(floor(e.embedding[{idx}] * {scale}) AS BIGINT) AS val
  FROM {source} e, (SELECT unnest(range({n_dims})) AS i) gs
),
{p}c0 AS (
  SELECT CAST(r.rk - 1 AS INT) AS cluster, q.dim, q.val
  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
        FROM {source} src ORDER BY vec_id LIMIT {k}) r
  JOIN {p}q q ON q.vec_id = r.vec_id
)"""]
    for n in range(1, iters + 1):
        parts.append(f"""
{p}a{n} AS (
  SELECT vec_id, cluster, dist2 FROM (
    SELECT q.vec_id, c.cluster,
           CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT) AS dist2,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT),
                      c.cluster) AS rn
    FROM {p}q q JOIN {p}c{n - 1} c ON q.dim = c.dim
    GROUP BY q.vec_id, c.cluster
  ) WHERE rn = 1
)""")
        if n < iters:
            parts.append(f"""
{p}c{n} AS (
  SELECT a.cluster, q.dim,
         CAST((sum(q.val)
               - ((sum(q.val) % count(*) + count(*)) % count(*)))
              / count(*) AS BIGINT) AS val
  FROM {p}q q JOIN {p}a{n} a ON q.vec_id = a.vec_id
  GROUP BY 1, 2
)""")
    return parts


def kmeans_oracle(k: int = 4, iters: int = 3, scale: int = 1_000_000,
                  n_dims: int = 64, final_select: str | None = None) -> str:
    """DuckDB mirror of kmeans_quantized: the fixed iteration count unrolls
    into chained CTEs (assignment a_i via ROW_NUMBER over exact integer
    distances; update c_i via the same subtract-positive-mod floor
    division). HUGEINT sums are CAST back to BIGINT per the contract."""
    parts = kmeans_cte_parts(k=k, iters=iters, scale=scale, n_dims=n_dims)
    tail = final_select or f"SELECT vec_id, cluster, dist2 FROM a{iters}"
    return "WITH " + ",".join(parts) + "\n" + tail


def pq_codes(emb: DataFrame, m: int = 4, n_dims: int = 64, k: int = 4,
             iters: int = 2, scale: int = 1_000_000) -> DataFrame:
    """Product quantization (Jégou et al. 2011, public): split each
    embedding into m contiguous subvectors and run an independent k-means
    codebook per subspace; a vector compresses to m small codes
    (here m*2 bits vs 64*8 bytes — the standard ANN memory-footprint
    trick) and its reconstruction error is the SUM of per-subspace
    quantization errors. The m codebooks train as m tasks of the
    exact-integer kmeans_multi_quantized, so every code and error is
    bit-deterministic and the DuckDB oracle (kmeans_cte_parts per
    subspace) reproduces them exactly.

    Scale shape: one init collect, one centroid-update job per round for
    all m subspaces, and codes + errors from ONE projection (see
    kmeans_multi_quantized) — m sliced trainings over one scan lineage,
    not m passes over wide rows."""
    dsub = n_dims // m
    out, _ = kmeans_multi_quantized(
        emb,
        [(f"code_{s}", k, iters, s * dsub, dsub) for s in range(m)],
        scale=scale,
    )
    err = (sum(F.col(f"code_{s}_dist2") for s in range(1, m))
           + F.col("code_0_dist2"))
    return out.select(
        "vec_id",
        *[f"code_{s}" for s in range(m)],
        err.alias("err2"),
    ).orderBy("vec_id")


def pq_codes_oracle(m: int = 4, n_dims: int = 64, k: int = 4,
                    iters: int = 2, scale: int = 1_000_000) -> str:
    """DuckDB twin of pq_codes: m prefixed kmeans CTE chains in one WITH
    block, joined on vec_id."""
    dsub = n_dims // m
    parts: list[str] = []
    for s in range(m):
        parts.extend(kmeans_cte_parts(k=k, iters=iters, scale=scale,
                                      n_dims=dsub, prefix=f"s{s}",
                                      offset=s * dsub))
    codes = ", ".join(f"s{s}a{iters}.cluster AS code_{s}" for s in range(m))
    err = " + ".join(f"s{s}a{iters}.dist2" for s in range(m))
    joins = " ".join(
        f"JOIN s{s}a{iters} ON s{s}a{iters}.vec_id = s0a{iters}.vec_id"
        for s in range(1, m)
    )
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT s0a{iters}.vec_id, {codes}, CAST({err} AS BIGINT) AS err2"
        + f"\nFROM s0a{iters} {joins} ORDER BY s0a{iters}.vec_id"
    )


def semantic_dedup_pairs(emb: DataFrame, k: int = 4, iters: int = 3,
                         threshold: float = 0.4) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al.): k-means
    clusters first, exact cosine only WITHIN each cluster. The integer
    k-means stage makes the whole pipeline oracle-exact (cluster membership
    is bit-reproducible; the cosine is 4dp-rounded on both sides).

    100 TB shape: the candidate join is keyed on cluster id, so pair work is
    sum over clusters of |c|^2 — k is chosen to bound |c| (SemDeDup's whole
    point: clustering replaces global all-pairs with per-cluster all-pairs
    over mutually-similar vectors). Assignment itself is the scan +
    skinny-shuffle k-means plan."""
    from impalatogo_spark.session import tracked_persist

    # the (vec_id, cluster) map is tiny but its lineage is the full k-means
    # assignment scan; both sides of the candidate self-join reference it,
    # so persist once instead of recomputing the literal-tree assignment
    # twice (measured ~2x on the bench entry)
    asg = tracked_persist(
        kmeans_quantized(emb, k=k, iters=iters).select("vec_id", "cluster")
    )
    e = with_double_embedding(emb)
    x = asg.select(F.col("vec_id").alias("id_a"), "cluster")
    y = asg.select(F.col("vec_id").alias("id_b"), F.col("cluster").alias("cl_b"))
    cand = x.join(y, (F.col("cluster") == F.col("cl_b"))
                  & (F.col("id_a") < F.col("id_b")))
    # norms hoisted to per-VECTOR (computed at the broadcast build, before
    # the join boundary) — the pair stage then runs one interpreted HOF fold
    # (the dot) instead of three. Bit-identical to cosine(): same ops, same
    # order, just factored; the oracle is unchanged.
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
                  _norm(F.col("embedding")).alias("nrm_a"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
                  _norm(F.col("embedding")).alias("nrm_b"))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .select(
            "id_a", "id_b", "cluster",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_oracle(k: int = 4, iters: int = 3,
                          threshold: float = 0.4) -> str:
    """DuckDB twin: the unrolled k-means CTEs + per-cluster cosine verify."""
    cos = ("round(list_dot_product(ea.emb, eb.emb)"
           " / (sqrt(list_dot_product(ea.emb, ea.emb))"
           " * sqrt(list_dot_product(eb.emb, eb.emb))), 4)")
    tail = f"""
SELECT id_a, id_b, cluster, cos_sim FROM (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster AS cluster,
         {cos} AS cos_sim
  FROM a{iters} x
  JOIN a{iters} y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) ea
    ON ea.vec_id = x.vec_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) eb
    ON eb.vec_id = y.vec_id
) WHERE cos_sim >= {threshold}"""
    return kmeans_oracle(k=k, iters=iters, final_select=tail)


def ivf_exact_topk(emb: DataFrame, k_cells: int = 8, iters: int = 3,
                   n_queries: int = 5, n_probe: int = 2, topk: int = 5,
                   scale: int = 1_000_000) -> DataFrame:
    """IVF ANN with an EXACT oracle: integer k-means cells (bit-reproducible
    membership), integer query->centroid probe ranking, and exact BIGINT
    dot-product scoring of the probed cells' vectors — every row of the
    index-accelerated search is reproduced by DuckDB (ann_topk_ivf's float
    twin only gets a recall bound; this is the full-value gate for the
    IVF *mechanism*: probe selection, cell pruning, ranking).

    Scale shape: assignment is the k-means plan; probing folds the k*dim
    centroid table into codegen as literals; candidate generation is a hash
    join on cell id touching only probed cells (n_probe/k of the corpus);
    scoring is a scan-local integer fold + one TopK window per query."""
    assign, cents = kmeans_quantized(emb, k=k_cells, iters=iters,
                                     scale=scale, return_state=True)
    q = _quantized(emb, scale)
    return _ivf_probe_topk(q, assign, cents, n_queries, n_probe, topk)


def _ivf_probes(q: DataFrame, cents: list, n_queries: int, n_probe: int):
    """The first n_queries vectors as IVF queries (q_id, qqa), and their
    probes (q_id, qqa, cluster): the n_probe cells whose literal centroids
    are nearest by exact integer distance, cluster-id tie-break."""
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("qa").alias("qqa")
    )
    ranked = F.array_sort(F.expr(_dist2_choices("qqa", cents)))
    probes = queries.select(
        "q_id", "qqa", F.explode(F.slice(ranked, 1, n_probe)).alias("p"),
    ).select("q_id", "qqa", F.col("p.cluster").alias("cluster"))
    return queries, probes


def _ivf_probe_topk(q: DataFrame, assign: DataFrame, cents: list,
                    n_queries: int, n_probe: int, topk: int) -> DataFrame:
    """The IVF search kernel shared by the inline (ivf_exact_topk) and
    persisted-index (ivf_indexed_topk) paths: integer probe ranking against
    the k*dim literal centroid table, candidate join on probed cell ids,
    exact BIGINT dot scoring, per-query TopN."""
    from pyspark.sql import Window as W

    _, probes = _ivf_probes(q, cents, n_queries, n_probe)
    cand = probes.join(assign.select("vec_id", "cluster"), "cluster").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = cand.join(q.select("vec_id", F.col("qa").alias("ca")), "vec_id").select(
        "q_id", "vec_id",
        F.aggregate(
            F.zip_with(F.col("qqa"), F.col("ca"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "dot", "rank")
    )


def ivf_exact_oracle(k_cells: int = 8, iters: int = 3, n_queries: int = 5,
                     n_probe: int = 2, topk: int = 5) -> str:
    """DuckDB twin of ivf_exact_topk on top of the unrolled k-means CTEs."""
    tail = f"""
SELECT q_id, vec_id, dot, rank FROM (
  SELECT q_id, vec_id, dot,
         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id)
             AS rank
  FROM (
    SELECT c.q_id, c.vec_id, CAST(sum(qq.val * q2.val) AS BIGINT) AS dot
    FROM (
      SELECT p.q_id, a.vec_id
      FROM (
        SELECT q_id, cluster FROM (
          SELECT cd.q_id, cd.cluster,
                 row_number() OVER (PARTITION BY cd.q_id
                                    ORDER BY cd.d2, cd.cluster) AS rn
          FROM (
            SELECT qq.q_id, c.cluster,
                   CAST(sum((qq.val - c.val) * (qq.val - c.val)) AS BIGINT)
                       AS d2
            FROM (SELECT vec_id AS q_id, dim, val FROM q
                  WHERE vec_id < {n_queries}) qq
            JOIN c{iters - 1} c ON qq.dim = c.dim
            GROUP BY 1, 2
          ) cd
        ) WHERE rn <= {n_probe}
      ) p
      JOIN a{iters} a ON a.cluster = p.cluster
      WHERE a.vec_id <> p.q_id
    ) c
    JOIN (SELECT vec_id AS q_id, dim, val FROM q
          WHERE vec_id < {n_queries}) qq ON qq.q_id = c.q_id
    JOIN q q2 ON q2.vec_id = c.vec_id AND q2.dim = qq.dim
    GROUP BY 1, 2
  )
) WHERE rank <= {topk}"""
    return kmeans_oracle(k=k_cells, iters=iters, final_select=tail)


# ---------------------------------------------------------------------------
# Persisted IVF index: centroids + cell assignments as snapshot-versioned
# parquet with an incremental assign-new-batch path. At 100 TB you never
# re-cluster the corpus per query batch — the index is WRITTEN ONCE per
# corpus snapshot and every batch of new vectors / every query batch only
# READS it (the embedding twin of build_corpus_index +
# incremental_dedup_indexed, operators/dedup.py).
# ---------------------------------------------------------------------------

def build_ivf_index(emb: DataFrame, index_dir: str, k_cells: int = 8,
                    iters: int = 3, scale: int = 1_000_000,
                    version: int = 1) -> str:
    """Train the integer-exact k-means quantizer on `emb` and persist the
    index under index_dir/v{version}/: `centroids` (cluster, dim, val) and
    `assignments` (vec_id, cluster) parquet. Returns the snapshot path.
    The only k-means invocation in the whole indexed lifecycle — query and
    append paths are read-only on the snapshot."""
    assign, cents = kmeans_quantized(emb, k=k_cells, iters=iters,
                                     scale=scale, return_state=True)
    spark = emb.sparkSession
    base = f"{index_dir.rstrip('/')}/v{version}"
    # parallelize(rows, 1): the k*dim centroid table is driver-local and
    # tiny, so build it as ONE partition up front. The previous
    # createDataFrame(...).coalesce(1) was pathological: coalesce is a
    # narrow dependency, so the single write task evaluated all 32
    # pickled python slices SEQUENTIALLY (one worker round-trip each —
    # measured 4.5 s for 512 rows vs 0.4 s this way, the bulk of
    # ann_topk_ivf_indexed's wall).
    cent_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(cid, d, int(v)) for cid, vec in cents for d, v in enumerate(vec)],
            1,
        ),
        "cluster INT, dim INT, val BIGINT",
    )
    cent_df.write.mode("overwrite").parquet(f"{base}/centroids")
    assign.select("vec_id", "cluster").write.mode("overwrite").parquet(
        f"{base}/assignments")
    return base


def load_ivf_centroids(spark, snapshot_dir: str) -> list:
    """Read the persisted centroid table back to the bounded k*dim literal
    list the probe/assign kernels fold into codegen."""
    return _fold_books(spark.read.parquet(f"{snapshot_dir}/centroids").collect())


def load_ivf_assignments(spark, snapshot_dir: str) -> DataFrame:
    """All persisted cell assignments: the base build plus every appended
    batch delta."""
    import os

    paths = [f"{snapshot_dir}/assignments"]
    deltas = f"{snapshot_dir}/deltas"
    if os.path.isdir(deltas):
        paths.append(deltas)
    out = spark.read.parquet(paths[0]).select("vec_id", "cluster")
    for p in paths[1:]:
        out = out.union(
            spark.read.option("recursiveFileLookup", "true")
            .parquet(p).select("vec_id", "cluster"))
    return out


def ivf_assign_batch(new_emb: DataFrame, cents: list,
                     scale: int = 1_000_000) -> DataFrame:
    """Assign NEW vectors to EXISTING centroids — one scan against the
    k*dim literal table, no re-clustering (the incremental path; identical
    argmin + cluster-id tie-break as the k-means assignment step, so the
    oracle mirrors it with the same ROW_NUMBER recipe)."""
    choices = F.expr(_dist2_choices("qa", cents))
    return _quantized(new_emb, scale).select(
        "vec_id", F.array_min(choices).alias("best")
    ).select(
        "vec_id", F.col("best.cluster").alias("cluster")
    )


def ivf_index_append_batch(new_emb: DataFrame, snapshot_dir: str,
                           batch_id: str, scale: int = 1_000_000) -> None:
    """Append a new batch's assignments to the snapshot as a delta —
    read-only on centroids, so concurrent queries keep a consistent view
    (parquet dirs are immutable once written)."""
    spark = new_emb.sparkSession
    cents = load_ivf_centroids(spark, snapshot_dir)
    ivf_assign_batch(new_emb, cents, scale).write.mode("overwrite").parquet(
        f"{snapshot_dir}/deltas/batch_{batch_id}")


def ivf_indexed_topk(emb_all: DataFrame, snapshot_dir: str,
                     n_queries: int = 5, n_probe: int = 2, topk: int = 5,
                     scale: int = 1_000_000) -> DataFrame:
    """IVF search against the PERSISTED index: centroids + assignments come
    from the snapshot (base + deltas); no clustering work on the query
    path. Same exact-integer kernel as ivf_exact_topk."""
    spark = emb_all.sparkSession
    cents = load_ivf_centroids(spark, snapshot_dir)
    assign = load_ivf_assignments(spark, snapshot_dir)
    return _ivf_probe_topk(_quantized(emb_all, scale), assign, cents,
                           n_queries, n_probe, topk)


def ivf_indexed_oracle(k_cells: int = 8, iters: int = 3, n_queries: int = 5,
                       n_probe: int = 2, topk: int = 5,
                       batch_mod: int = 5, batch_rem: int = 3) -> str:
    """DuckDB twin of the full indexed lifecycle: k-means trained ONLY on
    the base subset (vec_id % batch_mod <> batch_rem), the held-out batch
    assigned to the trained centroids with the same argmin recipe, probes/
    scoring over the union — exactly what build_ivf_index +
    ivf_index_append_batch + ivf_indexed_topk compute through parquet."""
    base_src = (f"(SELECT * FROM embeddings "
                f"WHERE vec_id % {batch_mod} <> {batch_rem})")
    parts = kmeans_cte_parts(k=k_cells, iters=iters, source=base_src)
    parts.append(f"""
qall AS (
  SELECT e.vec_id, CAST(gs.i AS INT) AS dim,
         CAST(floor(e.embedding[gs.i + 1] * 1000000) AS BIGINT) AS val
  FROM embeddings e, (SELECT unnest(range(64)) AS i) gs
),
batch_a AS (
  SELECT vec_id, cluster FROM (
    SELECT q.vec_id, c.cluster,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT),
                      c.cluster) AS rn
    FROM qall q JOIN c{iters - 1} c ON q.dim = c.dim
    WHERE q.vec_id % {batch_mod} = {batch_rem}
    GROUP BY q.vec_id, c.cluster
  ) WHERE rn = 1
),
all_a AS (
  SELECT vec_id, cluster FROM a{iters}
  UNION ALL SELECT vec_id, cluster FROM batch_a
)""")
    tail = f"""
SELECT q_id, vec_id, dot, rank FROM (
  SELECT q_id, vec_id, dot,
         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id)
             AS rank
  FROM (
    SELECT c.q_id, c.vec_id, CAST(sum(qq.val * q2.val) AS BIGINT) AS dot
    FROM (
      SELECT p.q_id, a.vec_id
      FROM (
        SELECT q_id, cluster FROM (
          SELECT cd.q_id, cd.cluster,
                 row_number() OVER (PARTITION BY cd.q_id
                                    ORDER BY cd.d2, cd.cluster) AS rn
          FROM (
            SELECT qq.q_id, c.cluster,
                   CAST(sum((qq.val - c.val) * (qq.val - c.val)) AS BIGINT)
                       AS d2
            FROM (SELECT vec_id AS q_id, dim, val FROM qall
                  WHERE vec_id < {n_queries}) qq
            JOIN c{iters - 1} c ON qq.dim = c.dim
            GROUP BY 1, 2
          ) cd
        ) WHERE rn <= {n_probe}
      ) p
      JOIN all_a a ON a.cluster = p.cluster
      WHERE a.vec_id <> p.q_id
    ) c
    JOIN (SELECT vec_id AS q_id, dim, val FROM qall
          WHERE vec_id < {n_queries}) qq ON qq.q_id = c.q_id
    JOIN qall q2 ON q2.vec_id = c.vec_id AND q2.dim = qq.dim
    GROUP BY 1, 2
  )
) WHERE rank <= {topk}"""
    return "WITH " + ",".join(parts) + "\n" + tail


def ivf_pq_adc_topk(emb: DataFrame, k_cells: int = 8, cell_iters: int = 3,
                    m: int = 4, pq_k: int = 4, pq_iters: int = 2,
                    n_queries: int = 5, n_probe: int = 2, topk: int = 5,
                    scale: int = 1_000_000, n_dims: int = 64) -> DataFrame:
    """IVF + PQ with asymmetric distance computation (Jégou et al. 2011,
    public; the faiss IndexIVFPQ shape with by_residual=false): coarse
    integer k-means cells prune candidates, per-subspace PQ codes compress
    each vector to m small codes, and scoring is a LOOKUP — per query, an
    m x k table of exact integer subvector->codebook-entry distances is
    computed ONCE, then every candidate's approximate distance is the sum
    of m table lookups keyed by its codes. Candidates never touch the
    original vectors (the ADC property that makes 100 TB ANN memory-bound
    on codes, not vectors); the LUT DataFrames are n_queries x k rows each
    and broadcast into the candidate joins. Bit-deterministic end to end —
    the DuckDB oracle (ivf_pq_adc_oracle) reproduces cells, codes, probe
    ranking, LUTs and the final ranking exactly."""
    # coarse + m subspace trainings as ONE fused k-means: one init
    # collect, one centroid-update job per round, and ONE projection
    # carrying the coarse cell AND all m codes
    dsub = n_dims // m
    fused, all_books = kmeans_multi_quantized(
        emb,
        [("cluster", k_cells, cell_iters, 0, n_dims)]
        + [(f"code_{s}", pq_k, pq_iters, s * dsub, dsub) for s in range(m)],
        scale=scale,
    )
    ccents = all_books["cluster"]
    books = [all_books[f"code_{s}"] for s in range(m)]
    assign = fused.select("vec_id", "cluster",
                          *[f"code_{s}" for s in range(m)])

    queries, probes = _ivf_probes(_quantized(emb, scale), ccents,
                                  n_queries, n_probe)
    cand = (
        probes.select("q_id", "cluster")
        .join(assign, "cluster")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    # per-query ADC lookup tables: one m x k distance table per query,
    # computed once (n_queries x pq_k rows per subspace), broadcast-joined
    # into the candidate stream on (q_id, code)
    scored = cand
    for s, cents in enumerate(books):
        entries = F.explode(F.expr(_dist2_choices(
            f"slice(qqa, {s * dsub + 1}, {dsub})", cents)))
        lut = queries.select("q_id", entries.alias("e")).select(
            "q_id", F.col("e.cluster").alias(f"code_{s}"),
            F.col("e.dist2").alias(f"d2_{s}"),
        )
        scored = scored.join(F.broadcast(lut), ["q_id", f"code_{s}"])
    ad2 = sum(F.col(f"d2_{s}") for s in range(1, m)) + F.col("d2_0")
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.asc("ad2"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", ad2.alias("ad2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "ad2", "rank")
    )


def ivf_pq_adc_oracle(k_cells: int = 8, cell_iters: int = 3, m: int = 4,
                      pq_k: int = 4, pq_iters: int = 2, n_queries: int = 5,
                      n_probe: int = 2, topk: int = 5,
                      n_dims: int = 64) -> str:
    """DuckDB twin of ivf_pq_adc_topk: coarse kmeans CTEs + m prefixed
    subspace kmeans CTEs, probe ranking, per-query LUTs as (q_id, code, d2)
    relations, candidate scoring as m LUT joins."""
    dsub = n_dims // m
    parts = kmeans_cte_parts(k=k_cells, iters=cell_iters)
    for s in range(m):
        parts.extend(kmeans_cte_parts(k=pq_k, iters=pq_iters, n_dims=dsub,
                                      prefix=f"s{s}", offset=s * dsub))
    parts.append(f"""
probes AS (
  SELECT q_id, cluster FROM (
    SELECT cd.q_id, cd.cluster,
           row_number() OVER (PARTITION BY cd.q_id
                              ORDER BY cd.d2, cd.cluster) AS rn
    FROM (
      SELECT qq.q_id, c.cluster,
             CAST(sum((qq.val - c.val) * (qq.val - c.val)) AS BIGINT) AS d2
      FROM (SELECT vec_id AS q_id, dim, val FROM q
            WHERE vec_id < {n_queries}) qq
      JOIN c{cell_iters - 1} c ON qq.dim = c.dim
      GROUP BY 1, 2
    ) cd
  ) WHERE rn <= {n_probe}
)""")
    for s in range(m):
        parts.append(f"""
lut{s} AS (
  SELECT qq.q_id, cb.cluster AS code,
         CAST(sum((qq.val - cb.val) * (qq.val - cb.val)) AS BIGINT) AS d2
  FROM (SELECT vec_id AS q_id, dim, val FROM q
        WHERE vec_id < {n_queries}) qq
  JOIN s{s}c{pq_iters - 1} cb ON cb.dim + {s * dsub} = qq.dim
  GROUP BY 1, 2
)""")
    code_joins = " ".join(
        f"JOIN s{s}a{pq_iters} k{s} ON k{s}.vec_id = a.vec_id"
        for s in range(m))
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.q_id = p.q_id AND l{s}.code = k{s}.cluster"
        for s in range(m))
    ad2 = " + ".join(f"l{s}.d2" for s in range(m))
    parts.append(f"""
scored AS (
  SELECT p.q_id, a.vec_id, CAST({ad2} AS BIGINT) AS ad2
  FROM probes p
  JOIN a{cell_iters} a ON a.cluster = p.cluster AND a.vec_id <> p.q_id
  {code_joins}
  {lut_joins}
)""")
    tail = f"""
SELECT q_id, vec_id, ad2, rank FROM (
  SELECT q_id, vec_id, ad2,
         row_number() OVER (PARTITION BY q_id ORDER BY ad2, vec_id) AS rank
  FROM scored
) WHERE rank <= {topk}"""
    return "WITH " + ",".join(parts) + "\n" + tail


def random_projection(emb: DataFrame, out_dims: int = 16, n_dims: int = 64,
                      scale: int = 1_000_000) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    sign matrix (Achlioptas ±1 variant, public): projected[j] =
    sum_i q_i * sign(i, j), where q is the single-precision-quantized
    integer embedding (the float-multiply contract all integer embedding
    ops share) and sign(i, j) comes from one md5 nibble — so the reduced
    vectors are bit-exact across engines. The shape every embedding
    pipeline wants before LSH/clustering at 100 TB: 4x fewer dims = 4x
    less shuffle volume downstream.

    Scale: posexplode to (vec_id, i, val), then out_dims conditional sums
    in ONE map-side-combined groupBy (the SimHash shape) — the shuffle
    carries out_dims partial sums per vector, never the projection
    matrix (which is a codegen expression, not data)."""
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(f"transform(embedding, v -> CAST(floor(v * {scale}) AS BIGINT))")
        ).alias("i", "val"),
    )

    def sign_pos(j: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"p:{j}:"), F.col("i").cast("string"))),
                    1, 1),
                16, 10,
            ).cast("long") < 8
        )

    sums = [
        F.sum(F.when(sign_pos(j), F.col("val")).otherwise(-F.col("val")))
        .alias(f"p{j}")
        for j in range(out_dims)
    ]
    agg = q.groupBy("vec_id").agg(*sums)
    return agg.select(
        "vec_id",
        F.array(*[F.col(f"p{j}") for j in range(out_dims)]).alias("proj"),
    ).orderBy("vec_id")


def random_projection_oracle(out_dims: int = 16, n_dims: int = 64,
                             scale: int = 1_000_000) -> str:
    """DuckDB twin: same quantization, same md5-nibble sign matrix."""

    def sign_case(j: int) -> str:
        nib = (f"CAST(strpos('0123456789abcdef', substr(md5('p:{j}:' ||"
               f" CAST(q.i AS VARCHAR)), 1, 1)) - 1 AS BIGINT)")
        return (f"CAST(sum(CASE WHEN {nib} < 8 THEN q.val ELSE -q.val END)"
                f" AS BIGINT) AS p{j}")

    cols = ", ".join(sign_case(j) for j in range(out_dims))
    arr = ", ".join(f"p{j}" for j in range(out_dims))
    return f"""
WITH q AS (
  SELECT e.vec_id, CAST(gs.i AS INT) AS i,
         CAST(floor(e.embedding[gs.i + 1] * {scale}) AS BIGINT) AS val
  FROM embeddings e, (SELECT unnest(range({n_dims})) AS i) gs
),
s AS (SELECT vec_id, {cols} FROM q GROUP BY vec_id)
SELECT vec_id, [{arr}] AS proj FROM s ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Greedy k-center selection (Gonzalez 1985 farthest-point traversal) — the
# diversity-aware data-selection pass: pick k maximally-spread exemplars,
# then report each exemplar's coverage. Exact integer arithmetic (the
# kmeans_quantized recipe) so a DuckDB oracle reproduces every pick.
# ---------------------------------------------------------------------------

def kcenter_select(emb: DataFrame, k: int = 5,
                   scale: int = 1_000_000) -> DataFrame:
    """Greedy k-center: seed = smallest vec_id; each round picks the vector
    FARTHEST from the already-chosen set (max of min-distance, ties to the
    smaller vec_id). Output: one row per selected center — selection rank,
    vec_id, its min-distance-to-prior-centers at selection time, and how
    many corpus vectors it covers (nearest-center assignment, rank
    tie-break).

    Determinism: dims quantized to BIGINT via floor(v * scale); all
    distances are exact integer sums; every argmax/argmin carries a total
    ORDER BY. Mirrored CTE-for-CTE by kcenter_oracle.

    Scale shape: each of the k rounds is ONE scan with the current centers
    folded in as literals (joinless, the kmeans assignment pattern) +
    a TakeOrderedAndProject(1) — the driver collect is one row per round,
    bounded by k. The final coverage pass is one more scan + a k-row
    aggregate. No shuffle ever carries vectors."""
    from impalatogo_spark.session import tracked_persist

    q = tracked_persist(_quantized(emb, scale))
    seed = q.orderBy("vec_id").limit(1).collect()[0]
    centers: list[tuple[int, int, list, int]] = [
        (0, seed.vec_id, list(seed.qa), 0)
    ]
    for r in range(1, k):
        mind = F.expr(
            "array_min(array("
            + ", ".join(_dist2_sql("qa", c[2]) for c in centers)
            + "))"
        )
        far = (
            q.select("vec_id", "qa", mind.alias("d2"))
            .orderBy(F.desc("d2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((r, far.vec_id, list(far.qa), far.d2))
    # coverage: nearest center per vector, ties to the lower rank
    choices = F.array_min(F.expr(_dist2_choices(
        "qa", [(rnk, vec) for rnk, _, vec, _ in centers])))
    cov = (
        q.select(choices.alias("best"))
        .groupBy(F.col("best.cluster").alias("rnk"))
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    sel = emb.sparkSession.createDataFrame(
        [(rnk, vid, d2) for rnk, vid, _, d2 in centers],
        "rnk INT, center_id BIGINT, sel_dist2 BIGINT",
    )
    return (
        sel.join(cov, "rnk", "left")
        .select(
            "rnk", "center_id", "sel_dist2",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
        )
        .orderBy("rnk")
    )


def kcenter_oracle(k: int = 5, scale: int = 1_000_000,
                   n_dims: int = 64) -> str:
    """DuckDB mirror of kcenter_select: the k greedy rounds unroll into
    chained CTEs — cv{r} is round r's center vector, m{r} the running
    min-distance after r+1 centers (LEAST-folded), s{r} the argmax pick."""
    parts = [f"""
q AS (
  SELECT e.vec_id, CAST(gs.i AS INT) AS dim,
         CAST(floor(e.embedding[gs.i + 1] * {scale}) AS BIGINT) AS val
  FROM embeddings e, (SELECT unnest(range({n_dims})) AS i) gs
),
s0 AS (SELECT vec_id, CAST(0 AS BIGINT) AS sel_d2
       FROM embeddings ORDER BY vec_id LIMIT 1),
cv0 AS (SELECT q.dim, q.val FROM q WHERE q.vec_id = (SELECT vec_id FROM s0))"""]
    for r in range(1, k):
        prev_min = (
            f"m{r - 1}.d2" if r > 1 else None
        )
        parts.append(f"""
d{r} AS (
  SELECT q.vec_id,
         CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT) AS d2
  FROM q JOIN cv{r - 1} c ON q.dim = c.dim GROUP BY q.vec_id
)""")
        if r == 1:
            parts.append(f"m1 AS (SELECT vec_id, d2 FROM d1)")
        else:
            parts.append(f"""
m{r} AS (
  SELECT m{r - 1}.vec_id, LEAST(m{r - 1}.d2, d{r}.d2) AS d2
  FROM m{r - 1} JOIN d{r} ON d{r}.vec_id = m{r - 1}.vec_id
)""")
        parts.append(f"""
s{r} AS (SELECT vec_id, d2 AS sel_d2 FROM m{r}
         ORDER BY d2 DESC, vec_id LIMIT 1),
cv{r} AS (SELECT q.dim, q.val FROM q
          WHERE q.vec_id = (SELECT vec_id FROM s{r}))""")
    # per-vector distance to EVERY center (for coverage assignment):
    # d{r} above is the distance to center rank r-1 (it joins cv{r-1}), so
    # center c maps to d{c+1} for c < k-1; the LAST center needs its own
    # distance table (no later round ever measured against it).
    parts.append(f"""
dlast AS (
  SELECT q.vec_id,
         CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT) AS d2
  FROM q JOIN cv{k - 1} c ON q.dim = c.dim GROUP BY q.vec_id
)""")
    assign_branches = [
        f"SELECT vec_id, d2, {c} AS rnk FROM d{c + 1}" for c in range(k - 1)
    ]
    assign_branches.append(f"SELECT vec_id, d2, {k - 1} AS rnk FROM dlast")
    parts.append(f"""
alln AS ({' UNION ALL '.join(assign_branches)}),
near AS (
  SELECT vec_id, rnk,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, rnk) AS rn
  FROM alln
),
cov AS (SELECT rnk, CAST(count(*) AS BIGINT) AS n_covered
        FROM near WHERE rn = 1 GROUP BY rnk),
sel AS ({' UNION ALL '.join(
        f"SELECT {r} AS rnk, vec_id AS center_id, sel_d2 FROM s{r}"
        for r in range(k))})""")
    return (
        "WITH " + ",".join(parts)
        + """
SELECT sel.rnk, sel.center_id, CAST(sel.sel_d2 AS BIGINT) AS sel_dist2,
       COALESCE(cov.n_covered, 0) AS n_covered
FROM sel LEFT JOIN cov ON cov.rnk = sel.rnk
ORDER BY sel.rnk"""
    )


# ---------------------------------------------------------------------------
# Distributed PCA: integer-exact Gram/covariance partials + driver-side eig
# ---------------------------------------------------------------------------

PCA_QUANT = 1 << 20  # embedding quantization scale for exact integer sums


def gram_partials(df: DataFrame, emb_col: str = "embedding",
                  dims: int = 64) -> DataFrame:
    """Upper-triangle Gram-matrix partial sums (i, j, p) of the quantized
    embedding matrix, one Arrow batch at a time: Q = floor(X_f64 * 2^20)
    int64, G = Q^T Q via BLAS, emit the dims*(dims+1)/2 upper-triangle
    entries per batch. This is the scalable covariance plan — each batch
    contributes a CONSTANT 2,080 rows to the groupBy no matter how many
    vectors it held, so the shuffle is O(batches * dims^2), never O(rows).

    int64 is exact here: |q| <= 2^20, q*q <= 2^40, and a batch of 2^20 rows
    stays under 2^60 — at true 100 TB scale promote the final sum to
    decimal(38,0) (the Spark-side aggregate below already sums in long; the
    per-batch partials keep headroom).

    The float32 -> float64 cast happens BEFORE the multiply, mirroring the
    oracle's CAST(embedding AS DOUBLE[]) (the repo's float-width rule)."""
    import numpy as np
    import pandas as pd

    iu0, iu1 = np.triu_indices(dims)

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * float(PCA_QUANT)).astype(np.int64)
            G = Q.T @ Q
            yield pd.DataFrame({
                "i": iu0.astype(np.int64),
                "j": iu1.astype(np.int64),
                "p": G[iu0, iu1],
            })

    return df.select(emb_col).mapInPandas(gram, "i long, j long, p long")


def gram_oracle_sql(dims: int = 64, from_clause: str = "embeddings") -> str:
    """DuckDB twin of the quantized upper-triangle Gram sums."""
    return f"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * {PCA_QUANT}) AS BIGINT)) AS q
  FROM {from_clause}
),
pairs AS (
  SELECT i.range AS i, j.range AS j,
         q[CAST(i.range AS INTEGER) + 1] * q[CAST(j.range AS INTEGER) + 1] AS p
  FROM q, range({dims}) i, range({dims}) j
  WHERE j.range >= i.range
)
SELECT i, j, CAST(sum(p) AS BIGINT) AS cov_q FROM pairs GROUP BY i, j"""


def covariance_matrix(df: DataFrame, emb_col: str = "embedding",
                      dims: int = 64) -> DataFrame:
    """Exact integer second-moment matrix: groupBy-sum of the per-batch
    Gram partials (map-side combined; 2,080 groups)."""
    return (
        gram_partials(df, emb_col, dims)
        .groupBy("i", "j")
        .agg(F.sum("p").alias("cov_q"))
    )


def pca_components(df: DataFrame, emb_col: str = "embedding",
                   dims: int = 64, n_components: int = 8):
    """Driver-side eigendecomposition of the distributed second-moment
    matrix (2,080 collected scalars — bounded by contract), deterministic
    sign convention (largest-|component| coordinate positive). Returns
    (components ndarray [n_components x dims], eigenvalues desc)."""
    import numpy as np

    rows = covariance_matrix(df, emb_col, dims).collect()
    C = np.zeros((dims, dims), dtype=np.float64)
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = float(r["cov_q"])
    C /= float(PCA_QUANT) ** 2
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T.copy()
    for c in comps:
        if c[int(abs(c).argmax())] < 0:
            c *= -1.0
    return comps, vals[order]


def pca_project(df: DataFrame, emb_col: str = "embedding",
                id_col: str = "vec_id", dims: int = 64,
                n_components: int = 8) -> DataFrame:
    """Project every embedding onto the top principal components: the
    components ride in as a tiny broadcast DataFrame (never a 512-literal
    expression tree — giant literal trees choke codegen), the dot product
    is one zip_with/aggregate fold per (row, component), and the pivot back
    to pc0..pcN columns is a conditional aggregate. Coordinates rounded to
    6 dp."""
    comps, _ = pca_components(df, emb_col, dims, n_components)
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in comps[c]]) for c in range(n_components)],
        "comp int, cvec array<double>",
    )
    d = with_double_embedding(df.select(id_col, emb_col), emb_col)
    dotted = d.crossJoin(F.broadcast(cdf)).select(
        id_col, "comp",
        F.aggregate(
            F.zip_with(F.col(emb_col), F.col("cvec"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("coord"),
    )
    return dotted.groupBy(id_col).agg(*[
        F.round(F.sum(F.when(F.col("comp") == c, F.col("coord"))), 6)
        .alias(f"pc{c}")
        for c in range(n_components)
    ])


# ---------------------------------------------------------------------------
# MMR diversified top-k (Carbonell & Goldstein 1998)
# ---------------------------------------------------------------------------

def mmr_topk(corpus: DataFrame, n_queries: int = 3, n_cand: int = 12,
             k: int = 5, lam_num: int = 7, lam_den_minus: int = 3) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: per query, greedily select k
    results maximizing lambda*relevance - (1-lambda)*max-similarity-to-
    already-selected — the standard RAG/retrieval diversification that
    stops near-duplicate passages from crowding a result list.

    Determinism/oracle discipline: every cosine is quantized to an e4
    integer (round(cos*10000) as BIGINT) BEFORE the greedy, lambda=0.7 is
    the integer pair (7, 3) (argmax of 7*rel - 3*maxsim == argmax of
    0.7*rel - 0.3*maxsim), and every argmax carries a vec_id tie-break —
    so selection is bit-deterministic and the DuckDB oracle (mmr_oracle,
    greedy steps unrolled as chained CTEs) reproduces it exactly.

    Scale shape: the distributed work is the candidate stage (broadcast
    queries x partitioned corpus, per-query top-n_cand window) — the same
    plan as brute_force_topk; the greedy then runs on O(q * n_cand^2)
    rows, partitioned by q_id (bounded per query, never corpus-sized).
    Candidate, pair, and per-step selected frames are LOCAL-CHECKPOINTED,
    not merely persisted: each greedy step references the selected set
    three times (anti-join, max-sim probe, union) and the candidate/pair
    frames once per step, and a persist leaves the 64-dim cosine
    expression trees inlined in the LOGICAL plan — the nesting grew
    analysis time to ~100 s for k=5 until the lineage cut (same plan-size
    class as kcore_peel / connected_components)."""
    from pyspark.sql import Window as W

    from impalatogo_spark.session import tracked_local_checkpoint as _ckpt

    e = with_double_embedding(corpus)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = e.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id", "vec_id", "embedding",
        F.round(cosine(F.col("q_emb"), F.col("embedding")) * 10000)
        .cast("long").alias("rel_e4"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("rel_e4"), F.asc("vec_id"))
    cande = _ckpt(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n_cand)
        .select("q_id", "vec_id", "rel_e4", "embedding")
    )
    cand = cande.select("q_id", "vec_id", "rel_e4")
    a = cande.select("q_id", F.col("vec_id").alias("vid_a"),
                     F.col("embedding").alias("emb_a"))
    b = cande.select("q_id", F.col("vec_id").alias("vid_b"),
                     F.col("embedding").alias("emb_b"))
    simp = _ckpt(
        a.join(b, "q_id")
        .filter(F.col("vid_a") != F.col("vid_b"))
        .select(
            "q_id", "vid_a", "vid_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")) * 10000)
            .cast("long").alias("sim_e4"),
        )
    )
    sel = _ckpt(
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("q_id", "vec_id", "rel_e4",
                F.lit(1).alias("step"),
                (F.lit(lam_num) * F.col("rel_e4")).alias("mmr_e4"))
    )
    for step in range(2, k + 1):
        msim = (
            simp.join(
                sel.select("q_id", F.col("vec_id").alias("vid_b")),
                ["q_id", "vid_b"],
            )
            .groupBy("q_id", "vid_a")
            .agg(F.max("sim_e4").alias("maxsim_e4"))
        )
        rem = cand.join(sel.select("q_id", "vec_id"), ["q_id", "vec_id"],
                        "left_anti")
        pick_w = W.partitionBy("q_id").orderBy(F.desc("mmr_e4"),
                                               F.asc("vec_id"))
        pick = (
            rem.join(msim, (rem["q_id"] == msim["q_id"])
                     & (rem["vec_id"] == msim["vid_a"]))
            .select(rem["q_id"], rem["vec_id"], rem["rel_e4"],
                    (F.lit(lam_num) * rem["rel_e4"]
                     - F.lit(lam_den_minus) * msim["maxsim_e4"])
                    .alias("mmr_e4"))
            .withColumn("rnk", F.row_number().over(pick_w))
            .filter(F.col("rnk") == 1)
            .select("q_id", "vec_id", "rel_e4",
                    F.lit(step).alias("step"), "mmr_e4")
        )
        sel = _ckpt(sel.unionByName(pick))
    return sel.select("q_id", "step", "vec_id", "rel_e4", "mmr_e4").orderBy(
        "q_id", "step")


def mmr_oracle(n_queries: int = 3, n_cand: int = 12, k: int = 5,
               lam_num: int = 7, lam_den_minus: int = 3) -> str:
    """DuckDB twin of mmr_topk: identical e4 quantization, greedy steps
    unrolled as chained CTEs (multiply-referenced ones MATERIALIZED —
    DuckDB inlines by default and each step reads the selected set twice)."""
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    rel = cos.format(a="q_emb", b="emb")
    sim = cos.format(a="a.emb", b="b.emb")
    steps = []
    for s in range(2, k + 1):
        prev = f"sel{s - 1}"
        steps.append(f"""
p{s} AS MATERIALIZED (
  SELECT q_id, vec_id, rel_e4, {s} AS step, mmr_e4 FROM (
    SELECT c.q_id, c.vec_id, c.rel_e4,
           {lam_num} * c.rel_e4 - {lam_den_minus} * m.maxsim_e4 AS mmr_e4,
           row_number() OVER (PARTITION BY c.q_id
             ORDER BY {lam_num} * c.rel_e4
                      - {lam_den_minus} * m.maxsim_e4 DESC, c.vec_id) AS rnk
    FROM cand c
    ANTI JOIN {prev} sl ON sl.q_id = c.q_id AND sl.vec_id = c.vec_id
    JOIN (SELECT sp.q_id, sp.vid_a, max(sp.sim_e4) AS maxsim_e4
          FROM simp sp JOIN {prev} se
            ON se.q_id = sp.q_id AND se.vec_id = sp.vid_b
          GROUP BY sp.q_id, sp.vid_a) m
      ON m.q_id = c.q_id AND m.vid_a = c.vec_id
  ) WHERE rnk = 1),
sel{s} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM p{s})""")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < {n_queries}),
scored AS (
  SELECT q_id, vec_id, emb,
         CAST(round(({rel}) * 10000) AS BIGINT) AS rel_e4
  FROM q JOIN e ON q_id <> vec_id
),
cande AS MATERIALIZED (
  SELECT q_id, vec_id, rel_e4, emb FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY rel_e4 DESC, vec_id) AS rnk
    FROM scored) WHERE rnk <= {n_cand}
),
cand AS MATERIALIZED (SELECT q_id, vec_id, rel_e4 FROM cande),
simp AS MATERIALIZED (
  SELECT a.q_id, a.vec_id AS vid_a, b.vec_id AS vid_b,
         CAST(round(({sim}) * 10000) AS BIGINT) AS sim_e4
  FROM cande a JOIN cande b
    ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
),
sel1 AS MATERIALIZED (
  SELECT q_id, vec_id, rel_e4, 1 AS step, {lam_num} * rel_e4 AS mmr_e4
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY rel_e4 DESC, vec_id) AS rnk FROM cand)
  WHERE rnk = 1),{",".join(steps)}
SELECT q_id, step, vec_id, rel_e4, mmr_e4
FROM sel{k} ORDER BY q_id, step
"""
