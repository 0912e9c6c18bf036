"""Similarity-search accuracy: LSH ANN recall vs exact brute force, and
banded-simhash completeness vs the quadratic form."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from impalatogo_spark.operators import dedup as D
from impalatogo_spark.operators import similarity as S
from impalatogo_spark.session import table


def _queries(e):
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def test_lsh_ann_recall(spark, sf_dir):
    e = S.with_double_embedding(table(spark, sf_dir, "embeddings"))
    q = _queries(e)
    exact = {
        (r.q_id, r.vec_id) for r in S.brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r.q_id, r.vec_id) for r in S.lsh_ann_topk(e, q, n_dims=64, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # single-probe 8-plane LSH on 64-dim synthetic data: modest but real
    assert recall >= 0.2, f"LSH recall {recall:.2f} below floor"
    # every LSH hit must be a genuine corpus pair (sanity)
    assert all(a != b for a, b in approx)


def test_simhash_banded_equals_quadratic(spark, sf_dir):
    """The banded (pigeonhole) simhash join must find exactly the pairs the
    all-pairs form finds — banding is a pure optimization, not approximation."""
    sim = D.simhash(table(spark, sf_dir, "documents"))
    quad = {
        (r.id_a, r.id_b, r.hamming) for r in D.simhash_pairs(sim, 3).collect()
    }
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs_banded(sim, 3).collect()
    }
    assert quad == banded


def test_lsh_candidates_superset_of_high_jaccard(spark, sf_dir):
    """LSH with 4 bands x 4 rows must catch essentially all pairs with
    jaccard >= 0.9 (collision prob ~ 1-(1-0.9^4)^4 ~ 0.995)."""
    sh = D.word_shingles(table(spark, sf_dir, "documents"))
    cand = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(
            D.lsh_band_buckets(D.minhash_signatures(sh))
        ).collect()
    }
    verified = D.verify_jaccard(
        D.lsh_candidate_pairs(D.lsh_band_buckets(D.minhash_signatures(sh))), sh, 0.9
    ).collect()
    # the planted near-dups (calibration showed ~12 pairs at j>=0.97) are found
    assert len(verified) >= 1
    assert all((r.id_a, r.id_b) in cand for r in verified)


def test_ivf_ann_recall(spark, sf_dir):
    """IVF (k-means cells, 4-probe) must recover most of brute-force top-5."""
    from impalatogo_spark.operators.similarity import ivf_ann_topk, ivf_index

    e = S.with_double_embedding(table(spark, sf_dir, "embeddings"))
    q = _queries(e)
    assigned, centroids = ivf_index(e, n_cells=8)
    exact = {(r.q_id, r.vec_id) for r in S.brute_force_topk(e, q, k=5).collect()}
    approx = {
        (r.q_id, r.vec_id)
        for r in ivf_ann_topk(assigned, centroids, q, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f}"


def test_connected_components_invariants(spark):
    # toy graph: {1-2, 2-3} one component, {10-11} another, 20-20 none
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _partition(labels_df):
    """cluster assignment -> set of frozenset components (label-invariant)."""
    from collections import defaultdict

    groups = defaultdict(set)
    for r in labels_df.collect():
        groups[r.cluster_id].add(r.doc_id)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize("seed", range(4))
def test_connected_components_star_random_parity(seed, spark):
    # seeded Erdos-Renyi-ish graph: star algorithm must produce the exact
    # same components as min-label propagation
    import random as _random

    rng = _random.Random(seed)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert _partition(D.connected_components_star(pairs)) == _partition(
        D.connected_components(pairs)
    )
    # cluster_id must be the component min under both
    star = D.connected_components_star(pairs)
    assert star.filter(F.col("cluster_id") > F.col("doc_id")).count() == 0


def test_connected_components_star_chain(spark):
    # long path: log-round convergence territory for the star algorithm
    pairs = spark.createDataFrame([(i, i + 1) for i in range(19)], ["id_a", "id_b"])
    out = D.connected_components_star(pairs)
    assert out.count() == 20
    assert out.select(F.countDistinct("cluster_id")).first()[0] == 1
    assert out.agg(F.min("cluster_id")).first()[0] == 0


def test_connected_components_chain_diameter(spark):
    # a 12-node path graph needs several propagation rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    out = D.connected_components(pairs)
    assert out.select(F.countDistinct("cluster_id")).first()[0] == 1
    assert out.agg(F.min("cluster_id")).first()[0] == 0
    assert out.count() == 12


def test_connected_components_string_ids(spark):
    # non-numeric labels take the join/filter convergence probes, including
    # the fused round-1 identity probe (r07): cover a graph that converges
    # IN round 1 (star centered on the min id) and one that needs several
    # more rounds (a path, propagated via lexicographic min)
    star = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.cluster_id for r in D.connected_components(star).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a"}
    path = spark.createDataFrame(
        [(chr(ord("a") + i), chr(ord("a") + i + 1)) for i in range(5)],
        ["id_a", "id_b"],
    )
    out = {r.doc_id: r.cluster_id for r in D.connected_components(path).collect()}
    assert out == {chr(ord("a") + i): "a" for i in range(6)}


def test_sign_band_pairs_subset_of_exact_and_nonvacuous(spark, sf_dir):
    """The banded embedding near-dup path (the registered scale plan) must
    return a SUBSET of the all-pairs exact result (precision 1.0 — verify
    stage is exact cosine), and must find real pairs on the test corpus."""
    e = S.with_double_embedding(table(spark, sf_dir, "embeddings"))
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(e, 0.45).collect()}
    banded = {(r.id_a, r.id_b) for r in S.sign_band_pairs(e, 0.45).collect()}
    assert banded <= exact
    assert len(banded) >= 1, "banded near-dup vacuous on test corpus"
    # documented recall at this band setting (~0.56 at cos 0.45) — floor it
    # loosely so testdata regeneration can't flake the suite
    assert len(banded) / len(exact) >= 0.2


def test_cap_shingle_df_drops_only_hot(spark):
    """cap_shingle_df removes exactly the shingles above the DF cap."""
    rows = [(i, "common shingle text") for i in range(5)] + [
        (1, "rare one here"), (2, "rare two here")
    ]
    sh = spark.createDataFrame(rows, "id int, g string")
    kept = {r.g for r in D.cap_shingle_df(sh, max_df=4).collect()}
    assert kept == {"rare one here", "rare two here"}


def test_substring_spans_island_merge(spark):
    """Hand-built fixture: two docs share one verbatim 10-word run; the
    9 duplicated 8-gram positions merge into ONE span covering tokens
    [2,11] in doc 1 and [0,9] in doc 2; unique text yields no spans."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "u1 u2 " + shared + " t1 t2"),
        (2, shared + " z9"),
        (3, " ".join(f"only{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.n_grams)
        for r in D.substring_spans(df, k=8).collect()
    }
    assert got == {1: (2, 11, 10, 3), 2: (0, 9, 10, 3)}


def test_substring_spans_adjacent_islands_merge(spark):
    """Two duplicated grams separated by exactly one position (adjacent
    spans) merge; separated by more stay two spans."""
    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    # doc3/doc4 share a and b; doc3 has them adjacent (gap 0 tokens between
    # spans? positions 0-7 and 8-15 -> adjacent, merge), doc4 separates them
    # by 3 unique tokens -> two islands
    rows = [
        (30, a + " " + b),
        (40, a + " x1 x2 x3 " + b),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in D.substring_spans(df, k=8).collect()
    )
    assert got == [(30, 0, 15), (40, 0, 7), (40, 11, 18)]


def test_near_dup_survivors_picks_quality_then_min_id(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (9, 7)],
        "doc_id long, n_chars long",
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (9, 9)],
        "doc_id long, cluster_id long",
    )
    rows = D.near_dup_survivors(docs, comp).collect()
    assert len(rows) == 1  # singleton clusters excluded
    r = rows[0]
    assert (r.cluster_id, r.survivor_id, r.cluster_size, r.removed) == (1, 2, 3, 2)


def test_quantized_mips_recall_vs_exact_float(spark, sf_dir):
    """ADC fixed-point MIPS over int8 codes must agree with the exact
    double-precision inner-product top-5 almost everywhere (the fixed-point
    + quantization error only reorders near-ties)."""
    from collections import defaultdict

    from impalatogo_spark.session import table

    e = S.with_double_embedding(table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    j = e.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id", "vec_id", S._dot(F.col("q_emb"), F.col("embedding")).alias("ip")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("ip"), F.asc("vec_id"))
    exact = (
        j.withColumn("r", F.row_number().over(w))
        .filter("r <= 5")
        .select("q_id", "vec_id")
        .collect()
    )
    approx = (
        S.quantized_mips_topk(table(spark, sf_dir, "embeddings"), k=5)
        .select("q_id", "vec_id")
        .collect()
    )
    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.q_id].add(r.vec_id)
    for r in approx:
        ap[r.q_id].add(r.vec_id)
    overlaps = [len(ex[k] & ap[k]) / 5 for k in ex]
    assert sum(overlaps) / len(overlaps) >= 0.8


def test_bloom_prefilter_no_false_negatives_and_fp_resolution(spark):
    """Bloom membership can never miss a true duplicate (k-of-k positions of
    identical text are identical); with a deliberately tiny bit space the
    false-positive path fires and the exact join must resolve it."""
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # 5 true dups of corpus docs + 20 fresh docs
        [(1000 + i, f"corpus document number {i} body") for i in range(5)]
        + [(2000 + i, f"fresh incoming document {i} body") for i in range(20)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.bloom_prefilter_dedup(batch, corpus, m=64).collect()}
    assert len(out) == 25
    for i in range(5):
        r = out[1000 + i]
        assert r.bloom_hit and r.exact_dup  # no false negatives
    fresh = [out[2000 + i] for i in range(20)]
    assert all(not r.exact_dup for r in fresh)  # exact join resolves FPs
    # tiny m (64 bits, ~160 set positions) forces bloom false positives:
    assert any(r.bloom_hit for r in fresh)


def test_kmeans_assignment_stage_is_joinless(spark, sf_dir):
    """The k-means assignment must fold centroids into codegen as literals
    — a join against a centroid relation would put an exchange in every
    iteration; the literal form is one scan per round."""
    from impalatogo_spark.operators.similarity import kmeans_quantized
    from impalatogo_spark.session import table

    df = kmeans_quantized(table(spark, sf_dir, "embeddings"), k=4, iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_ivf_exact_matches_bruteforce_on_probed_cells(spark, sf_dir):
    """Exact-arithmetic IVF: for each query, the returned top-k must be
    EXACTLY the integer-dot-product top-k over the vectors of its probed
    cells (no approximation inside the mechanism — the only approximation
    is which cells are probed)."""
    from pyspark.sql import functions as F

    from impalatogo_spark.operators.similarity import (
        ivf_exact_topk,
        kmeans_quantized,
    )
    from impalatogo_spark.session import table

    emb = table(spark, sf_dir, "embeddings")
    got = ivf_exact_topk(emb, k_cells=8, iters=3, n_queries=3,
                         n_probe=2, topk=5)
    rows = got.collect()
    assert {r.q_id for r in rows} == {0, 1, 2}
    for q in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.q_id == q)
        assert ranks == [1, 2, 3, 4, 5]
        dots = [r.dot for r in sorted((r for r in rows if r.q_id == q),
                                      key=lambda r: r.rank)]
        assert dots == sorted(dots, reverse=True)


def test_pq_codes_shape_and_error_decomposition(spark, sf_dir):
    """PQ invariants: every vector gets m codes in [0, k); the reported
    err2 equals the sum of the per-subspace nearest-centroid distances
    (recomputed independently per subspace); init vectors (the k smallest
    vec_ids) code to themselves in every subspace on the first round's
    codebook lineage."""
    from pyspark.sql import functions as F

    from impalatogo_spark.operators.similarity import kmeans_quantized, pq_codes
    from impalatogo_spark.session import table

    emb = table(spark, sf_dir, "embeddings")
    got = pq_codes(emb, m=4, n_dims=64, k=4, iters=2)
    rows = got.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 4
    # err2 decomposes: recompute subspace 0's kmeans and check it never
    # exceeds the total
    sub0 = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding"))
    d0 = {r.vec_id: r.dist2
          for r in kmeans_quantized(sub0, k=4, iters=2).collect()}
    for r in rows[:100]:
        assert d0[r.vec_id] <= r.err2


def test_random_projection_preserves_relative_distances(spark, sf_dir):
    """JL sanity: for a sample of vector pairs, squared distance in the
    16-dim projection correlates positively with the 64-dim original
    (rank correlation over 50 pairs > 0.3 — loose (16-of-64-dim JL keeps
    only coarse geometry), but a sign-flipped or constant projection
    fails it)."""
    from pyspark.sql import functions as F

    from impalatogo_spark.operators.similarity import random_projection
    from impalatogo_spark.session import table

    emb = table(spark, sf_dir, "embeddings")
    proj = {r.vec_id: r.proj
            for r in random_projection(emb, out_dims=16).collect()}
    orig = {r.vec_id: r.embedding for r in emb.limit(40).collect()}
    ids = sorted(orig)[:20]
    import itertools
    pairs = list(itertools.combinations(ids, 2))[:50]

    def d2(v, w):
        return sum((a - b) ** 2 for a, b in zip(v, w))

    d_orig = [d2(orig[a], orig[b]) for a, b in pairs]
    d_proj = [d2(proj[a], proj[b]) for a, b in pairs]
    # Spearman via rank agreement
    import statistics
    ro = {p: r for r, p in enumerate(sorted(range(len(d_orig)), key=lambda i: d_orig[i]))}
    rp = {p: r for r, p in enumerate(sorted(range(len(d_proj)), key=lambda i: d_proj[i]))}
    n = len(pairs)
    num = sum((ro[i] - (n - 1) / 2) * (rp[i] - (n - 1) / 2) for i in range(n))
    den = statistics.pstdev(ro.values()) * statistics.pstdev(rp.values()) * n
    assert num / den > 0.3


def test_ivf_persisted_index_reused_across_batches(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """The persisted IVF lifecycle (operators/similarity.py
    build_ivf_index / ivf_index_append_batch / ivf_indexed_topk): the index
    is trained ONCE; appending a new vector batch and answering TWO query
    batches afterwards must never re-cluster (k-means is poisoned after the
    build), and the snapshot-served results are byte-identical to the
    in-memory derivation."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)

    # expected: in-memory union of trained assignments + batch argmin
    assign_mem, cents_mem = S.kmeans_quantized(
        base, k=8, iters=3, return_state=True)
    expected_assign = assign_mem.select("vec_id", "cluster").union(
        S.ivf_assign_batch(batch, cents_mem))
    exp_q5 = {tuple(r) for r in S._ivf_probe_topk(
        S._quantized(emb), expected_assign, cents_mem, 5, 2, 5).collect()}
    exp_q8 = {tuple(r) for r in S._ivf_probe_topk(
        S._quantized(emb), expected_assign, cents_mem, 8, 2, 5).collect()}

    snap = S.build_ivf_index(base, str(tmp_path / "ivf"), k_cells=8, iters=3)
    S.ivf_index_append_batch(batch, snap, batch_id="b1")

    # the index on disk is the whole state: centroids read back == trained
    assert S.load_ivf_centroids(spark, snap) == cents_mem
    n_base = base.count()
    n_all = emb.count()
    assert S.load_ivf_assignments(spark, snap).count() == n_all
    assert spark.read.parquet(f"{snap}/assignments").count() == n_base

    # poison k-means: every post-build step must be read-only on the index
    def _boom(*a, **k):
        raise AssertionError("query/append path re-clustered the corpus")

    monkeypatch.setattr(S, "kmeans_multi_quantized", _boom)

    got_q5 = {tuple(r)
              for r in S.ivf_indexed_topk(emb, snap, n_queries=5).collect()}
    got_q8 = {tuple(r)
              for r in S.ivf_indexed_topk(emb, snap, n_queries=8).collect()}
    assert got_q5 == exp_q5 and len(exp_q5) == 25
    assert got_q8 == exp_q8 and len(exp_q8) == 40

    # a second incoming batch appends a delta without touching the base
    # build or earlier deltas (immutable snapshot parts)
    extra = emb.filter(F.col("vec_id") % 5 == 3).limit(10) \
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    S.ivf_index_append_batch(extra, snap, batch_id="b2")
    assert S.load_ivf_assignments(spark, snap).count() == n_all + 10


def test_binary_rerank_recall_vs_exact(spark, sf_dir):
    """ann_topk_binary_rerank quality gate: the Hamming-shortlisted exact
    rerank must recover most of the TRUE integer-dot top-5 (sign codes of
    64-dim vectors keep enough signal for a 32-candidate shortlist; the
    value-parity of the query itself is driver-gated)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from impalatogo_spark.queries import all_queries
    from impalatogo_spark.session import table

    got = all_queries()["ann_topk_binary_rerank"].spark_fn(spark, sf_dir)
    approx = {(r["qid"], r["cid"]) for r in got.collect()}

    e = table(spark, sf_dir, "embeddings")
    quant = ("transform(CAST(embedding AS ARRAY<DOUBLE>), "
             "v -> CAST(floor(v * 65536) AS BIGINT))")
    corpus = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        F.explode(F.array(F.expr(quant))).alias("cqv"))
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.explode(F.array(F.expr(quant))).alias("qqv"))
    dot = F.aggregate(F.zip_with(F.col("qqv"), F.col("cqv"), lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    exact = corpus.crossJoin(F.broadcast(queries)).select(
        "qid", "cid", dot.alias("dot")).withColumn(
        "rnk", F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("dot").desc(), "cid"))
    ).filter(F.col("rnk") <= 5)
    truth = {(r["qid"], r["cid"]) for r in exact.collect()}
    recall = len(approx & truth) / len(truth)
    assert recall >= 0.5, f"binary-shortlist recall collapsed: {recall:.2f}"


def test_incremental_components_update_semantics(spark):
    """incremental_components_update (r05 verdict #7): merging two
    existing clusters relabels BOTH to the global min; endpoints with no
    component (new docs and old singletons) insert directly; components
    untouched by the batch keep their exact rows; chained updates equal a
    one-shot recompute over the union of all edges."""
    from impalatogo_spark.operators.dedup import (
        connected_components,
        incremental_components_update,
    )
    from impalatogo_spark.session import release_persisted

    def cc(rows):
        return connected_components(
            spark.createDataFrame(rows, "id_a long, id_b long"))

    def as_map(df):
        return {r.doc_id: r.cluster_id for r in df.collect()}

    # state: {1,3} (min 1), {2,7} (min 2), {9,11} (min 9, untouched)
    state = cc([(1, 3), (2, 7), (9, 11)])
    # batch: new doc 5 bridges clusters 1 and 2; new pair (20, 21) is
    # entirely fresh; 30 links to old singleton 8 (absent from state)
    batch1 = spark.createDataFrame(
        [(3, 5), (5, 7), (20, 21), (8, 30)], "id_a long, id_b long")
    merged = incremental_components_update(state, batch1)
    assert as_map(merged) == {1: 1, 3: 1, 2: 1, 7: 1, 5: 1,
                              9: 9, 11: 9, 20: 20, 21: 20, 8: 8, 30: 8}
    # second batch: join the fresh pair into the untouched old cluster
    batch2 = spark.createDataFrame([(21, 9)], "id_a long, id_b long")
    final = incremental_components_update(merged, batch2)
    expect = as_map(cc([(1, 3), (2, 7), (9, 11), (3, 5), (5, 7),
                        (20, 21), (8, 30), (21, 9)]))
    assert as_map(final) == expect
    # an edge entirely inside one existing component is a no-op
    noop = incremental_components_update(final, spark.createDataFrame(
        [(1, 7)], "id_a long, id_b long"))
    assert as_map(noop) == as_map(final)
    release_persisted()


def test_incremental_components_batched_update_equals_sequential(spark):
    """r08: dedup_clusters_incremental folds its two ingest rounds into
    ONE incremental_components_update over the union of both batches'
    incident pairs. Connected components over an edge-set union are
    order-independent (union-find merges are associative/commutative), so
    the batched update must equal the sequential chain row-exactly —
    including a batch-2 edge that bridges a cluster first touched by
    batch 1 (the case where sequencing could plausibly matter)."""
    from impalatogo_spark.operators.dedup import (
        connected_components,
        incremental_components_update,
    )
    from impalatogo_spark.session import release_persisted

    state = connected_components(spark.createDataFrame(
        [(1, 3), (2, 7), (9, 11)], "id_a long, id_b long"))
    b1 = [(3, 5), (5, 7), (20, 21), (8, 30)]
    b2 = [(21, 9), (40, 41), (5, 40)]  # 5: relabeled by b1, bridged by b2
    seq = incremental_components_update(
        incremental_components_update(
            state, spark.createDataFrame(b1, "id_a long, id_b long")),
        spark.createDataFrame(b2, "id_a long, id_b long"))
    batched = incremental_components_update(
        state, spark.createDataFrame(b1 + b2, "id_a long, id_b long"))

    def as_map(df):
        return {r.doc_id: r.cluster_id for r in df.collect()}

    assert as_map(batched) == as_map(seq)
    release_persisted()


def test_incremental_components_shuffle_is_batch_proportional(spark, sf_dir):
    """The merge step's executed shuffle must track the BATCH, not the
    corpus: against a 10x larger state (same batch of edges), shuffle-write
    bytes stay within 2x — the broadcast relabel/insert path never
    repartitions the corpus-sized state."""
    from impalatogo_spark.operators.dedup import incremental_components_update
    from impalatogo_spark.plans import shuffle_write_bytes
    from impalatogo_spark.session import release_persisted

    batch = spark.createDataFrame(
        [(i, 1_000_000 + i) for i in range(0, 200, 2)],
        "id_a long, id_b long")

    def run(n_state):
        state = spark.range(n_state).select(
            F.col("id").alias("doc_id"),
            (F.col("id") - F.col("id") % 2).alias("cluster_id"))
        out = incremental_components_update(state, batch)
        out.collect()
        sw = shuffle_write_bytes(out)
        release_persisted()
        return sw

    small, big = run(20_000), run(200_000)
    assert big <= 2 * max(small, 1), (
        f"shuffle grew with the corpus: {small:,} -> {big:,} B")


def test_incremental_components_snapshot_versioned_state(spark, sf_dir,
                                                         tmp_path):
    """The incremental-CC state lives in the snapshot store (r05 verdict
    #7 'snapshot-versioned like build_corpus_index'): each ingest round
    appends only its O(touched + fresh) DELTA; reading head equals the
    full recompute over all pairs seen, and reading an EARLIER version
    time-travels to the state after that round."""
    from impalatogo_spark.operators.dedup import (
        batch_incident_pairs,
        components_state_read,
        components_state_write,
        connected_components,
        incremental_components_update,
        verify_jaccard,
        word_shingles,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from impalatogo_spark.session import release_persisted, table, tracked_persist

    docs = table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 4 <= 1)
    b1 = docs.filter(F.col("doc_id") % 4 == 2)
    b2 = docs.filter(F.col("doc_id") % 4 == 3)
    path = str(tmp_path / "components")

    cand0 = lsh_candidate_pairs(lsh_band_buckets(minhash_signatures(
        word_shingles(b0, distinct=False))))
    pairs0 = tracked_persist(verify_jaccard(
        cand0, tracked_persist(word_shingles(b0)), 0.5).select("id_a", "id_b"))
    state0 = tracked_persist(connected_components(pairs0))
    components_state_write(spark, path, state0, note="initial corpus")

    p1 = tracked_persist(batch_incident_pairs(b0, b1))
    state1 = tracked_persist(incremental_components_update(state0, p1))
    d1 = incremental_components_update(state0, p1, return_delta=True)
    v1 = components_state_write(spark, path, d1, note="batch 1")

    p2 = tracked_persist(batch_incident_pairs(b0.unionByName(b1), b2))
    state2 = tracked_persist(incremental_components_update(state1, p2))
    d2 = incremental_components_update(state1, p2, return_delta=True)
    components_state_write(spark, path, d2, note="batch 2")

    def as_map(df):
        return {r.doc_id: r.cluster_id for r in df.collect()}

    # head == chained in-memory state == full recompute over all pairs
    assert as_map(components_state_read(spark, path)) == as_map(state2)
    full = connected_components(
        pairs0.unionByName(p1).unionByName(p2))
    assert as_map(state2) == as_map(full)
    # time travel: version 1 is the state right after batch 1
    assert as_map(components_state_read(spark, path, version=v1)) == \
        as_map(state1)
    # delta payloads are strictly smaller than the full state (O(touched))
    assert d1.count() < state1.count()
    release_persisted()


def test_edit_distance_pairs_lossless_on_short_docs(spark):
    """ADVICE r06: the Ed-Join q-gram prefix filter's losslessness needs
    |text| > q*(k+1)-1 (35 chars at k=8, q=4) — below that the shared-gram
    bound goes non-positive and a qualifying pair may share ZERO grams.
    r07 routes such docs through an unconditional length-banded pairing;
    this pins the fix with docs the driver data never has: short pairs
    with NO common q-gram, short-vs-long pairs straddling the floor, and
    long pairs still caught by the prefix path."""
    from impalatogo_spark.operators.dedup import edit_distance_pairs
    from impalatogo_spark.session import release_persisted

    rows = [
        # ed(1,2)=4, len 8: NO shared 4-gram ("abcdabcd" vs "wxyzwxyz" ed=8 > k?
        # use closer: "abcdefgh" vs "abxxefgh" shares grams; the zero-share case:
        (1, "aaaa"), (2, "bbbb"),              # ed=4 <= 8, zero shared grams
        (3, "aaaa"),                           # ed(1,3)=0
        (4, "aaaabbbbccccddddeeeeffffgggghhhhiiiijjjj"),  # len 40 > floor
        (5, "aaaabbbbccccddddeeeeffffgggghhhhiiiijjkk"),  # ed(4,5)=2 via prefix path
        (6, "aaaabbbbccccddddeeeeffffggggzzzz"),          # len 32 <= floor (35)
        (7, "aaaabbbbccccddddeeeeffffgggg"),              # len 28, ed(6,7)=4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.ed)
        for r in edit_distance_pairs(docs, k=8, q=4).collect()
    )
    release_persisted()
    import duckdb

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT a.doc_id, b.doc_id, levenshtein(a.text, b.text)
            FROM docs a JOIN docs b
              ON b.doc_id > a.doc_id
             AND abs(length(a.text) - length(b.text)) <= 8
            WHERE levenshtein(a.text, b.text) <= 8
            """
        ).fetchall()
    )
    assert got == want, f"{got} != {want}"
    assert (1, 2, 4) in got  # the zero-shared-gram short pair the old filter dropped


def test_auto_band_step_table():
    """r07 auto-width knobs: the sign-band step table and its SQL twin
    stay in lockstep, and widths step where the thresholds say."""
    from impalatogo_spark.operators.similarity import (
        AUTO_BAND_MAX_BITS, AUTO_BAND_STEPS, auto_band_plan,
        auto_band_bits_case_sql,
    )

    assert auto_band_plan(500) == (10, 6)      # sf0.001-0.1: status quo
    assert auto_band_plan(5000) == (10, 6)
    assert auto_band_plan(20000) == (8, 8)     # sf1
    assert auto_band_plan(10**7) == (64 // AUTO_BAND_MAX_BITS, AUTO_BAND_MAX_BITS)
    sql = auto_band_bits_case_sql("embeddings")
    for thresh, bits in AUTO_BAND_STEPS:
        assert f"<= {thresh} THEN {bits}" in sql
    assert f"ELSE {AUTO_BAND_MAX_BITS}" in sql
    # n_bands * bits never exceeds the 64 signature dims
    for n in (1, 5000, 20000, 10**7):
        nb, bits = auto_band_plan(n)
        assert nb * bits <= 64


def test_phash_auto_width_branches(spark):
    """The 64-bit phash path must agree with a brute-force Hamming join on
    its own hashes, and the auto switch must pick the wide path above
    AUTO_PHASH_SMALL."""
    from pyspark.sql import functions as F

    from impalatogo_spark.operators import multimodal as M

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("payload-"), (F.col("id") % 50).cast("string")).alias("text"),
    )
    pay = M.attach_binary_payload(docs)
    wide = M.phash_near_dup_pairs_64(
        M.ahash_64_halves(M.fake_resize_8x8(pay)), max_hamming=3
    )
    h = M.ahash_64_halves(M.fake_resize_8x8(pay))
    a = h.selectExpr("doc_id AS id_a", "h0 AS h0a", "h1 AS h1a")
    b = h.selectExpr("doc_id AS id_b", "h0 AS h0b", "h1 AS h1b")
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("h0a").bitwiseXOR(F.col("h0b")))
                + F.bit_count(F.col("h1a").bitwiseXOR(F.col("h1b")))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    got = sorted(map(tuple, wide.collect()))
    want = sorted(map(tuple, brute.collect()))
    assert got == want and len(got) > 0  # id%50 duplicates guarantee pairs


def test_kcore_peel_matches_true_core_on_crafted_graph(spark):
    # triangle {1,2,3} (true 2-core), chain 4-5-6 (peels away in 2 rounds:
    # endpoints first, then the middle edge), pendant 7 hanging off the
    # triangle (degree 1, removed round 1), 4-cycle {10,11,12,13} (2-core).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (1, 7),
         (10, 11), (11, 12), (12, 13), (10, 13)],
        ["id_a", "id_b"],
    )
    out = {r.doc_id: r.core_deg
           for r in D.kcore_peel(pairs, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 10: 2, 11: 2, 12: 2, 13: 2}


def test_kcore_peel_rounds_converged_on_corpus(spark, sf_dir):
    # the registered query uses rounds=3; assert one more round removes
    # nothing on the real LSH pair graph (the docstring's convergence claim).
    from impalatogo_spark.session import release_persisted, table

    docs = table(spark, sf_dir, "documents")
    sig_sh = D.word_shingles(docs, distinct=False)
    cand = D.lsh_candidate_pairs(
        D.lsh_band_buckets(D.minhash_signatures(sig_sh)))
    sh = D.word_shingles(docs).persist()
    pairs = D.verify_jaccard(cand, sh, threshold=0.5).persist()
    r3 = sorted((r.doc_id, r.core_deg)
                for r in D.kcore_peel(pairs, k=2, rounds=3).collect())
    r4 = sorted((r.doc_id, r.core_deg)
                for r in D.kcore_peel(pairs, k=2, rounds=4).collect())
    assert r3 == r4
    assert len(r3) > 0  # non-vacuous: the synthetic corpus has dense families
    sh.unpersist()
    pairs.unpersist()
    release_persisted()


def test_mmr_selection_scores_non_increasing_and_diverge_from_pure_rel(
        spark, sf_dir):
    from impalatogo_spark.operators.similarity import mmr_topk
    from impalatogo_spark.session import release_persisted, table

    rows = mmr_topk(table(spark, sf_dir, "embeddings"),
                    n_queries=3, n_cand=12, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(len(v) for v in by_q.values()) == {5}
    for q, sel in by_q.items():
        sel.sort(key=lambda r: r.step)
        # greedy invariant: as the selected set grows every candidate's
        # redundancy penalty is non-decreasing, so picked scores decrease
        scores = [r.mmr_e4 for r in sel]
        assert scores == sorted(scores, reverse=True), (q, scores)
        # selections are distinct docs
        assert len({r.vec_id for r in sel}) == 5
    # MMR must actually rerank: some step-2 pick is NOT the rel-rank-2 doc
    rel_order = {}
    for q, sel in by_q.items():
        rel_rank2 = sorted(by_q[q], key=lambda r: (-r.rel_e4, r.vec_id))[1]
        rel_order[q] = rel_rank2.vec_id != [r for r in sel if r.step == 2][0].vec_id or None
    assert any(v for v in rel_order.values())
    release_persisted()


def test_kmeans_multi_quantized_equals_sequential(spark, sf_dir, duck):
    """The fused k-means kernel (kmeans_multi_quantized: one init collect,
    one update job per round, one final projection) trains several tasks
    at once. Pin every task bit-for-bit against its own SEQUENTIAL DuckDB
    chain (kmeans_cte_parts): the final books == c{iters-1} and the
    assignment + dist2 == a{iters}, at the ann_topk_ivf_pq_adc task mix
    (coarse k=8/iters=3 + four k=4/iters=2 subspaces)."""
    from impalatogo_spark.session import release_persisted, table

    emb = table(spark, sf_dir, "embeddings")
    m, n_dims = 4, 64
    dsub = n_dims // m
    tasks = [("cluster", 8, 3, 0, n_dims)] + [
        (f"code_{s}", 4, 2, s * dsub, dsub) for s in range(m)
    ]
    fused, books = S.kmeans_multi_quantized(emb, tasks)
    got = {r.vec_id: r for r in fused.collect()}
    assert len(got) > 0
    for name, k, iters, off, width in tasks:
        with_ = "WITH " + ",".join(S.kmeans_cte_parts(
            k=k, iters=iters, n_dims=width, prefix="t", offset=off)) + "\n"
        cents = duck.execute(
            with_ + "SELECT cluster, list(val ORDER BY dim) "
            f"FROM tc{iters - 1} GROUP BY cluster ORDER BY cluster"
        ).fetchall()
        assert books[name] == [(c, list(vec)) for c, vec in cents], name
        ref = duck.execute(
            with_ + f"SELECT vec_id, cluster, dist2 FROM ta{iters}").fetchall()
        assert len(ref) == len(got), name
        for vid, cluster, dist2 in ref:
            assert (got[vid][name], got[vid][f"{name}_dist2"]) == (
                cluster, dist2), (name, vid)
    release_persisted()


def test_kmeans_multi_quantized_rejects_duplicate_task_names(spark, sf_dir):
    """Two tasks under one name would overwrite each other's codebook
    mid-training; the kernel refuses them (and empty names) up front."""
    emb = table(spark, sf_dir, "embeddings")
    for tasks in ([("c", 4, 2, 0, 16), ("c", 4, 2, 16, 16)],
                  [("", 4, 2, 0, 16)]):
        with pytest.raises(ValueError, match="non-empty and unique"):
            S.kmeans_multi_quantized(emb, tasks)
