"""Approximate-ANN recall vs the exact brute-force baseline.

LSH/IVF correctness at the driver is ALGORITHM-mirroring (the
integer-exact signature / deterministic centroid pick reproduces
the candidate set in SQL); recall@5 against cosine_topk is the
separate QUALITY instrument, measured here with floors pinned to
what this uniformly-random corpus supports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from galaxy_spark.operators import similarity
from galaxy_spark.tables import load_table
from tests.conftest import SF_SMOKE


def _recall(approx_df, exact_df) -> float:
    exact = {(r.q_id, r.neighbor_id) for r in exact_df.collect()}
    approx = {(r.q_id, r.neighbor_id) for r in approx_df.collect()}
    return len(exact & approx) / len(exact)


def _queries_and_corpus(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.filter(F.col("vec_id") < 10), emb


def test_ivf_recall_beats_floor(spark):
    q, emb = _queries_and_corpus(spark)
    exact = similarity.cosine_topk(q, emb, k=5)
    ivf = similarity.ivf_topk(q, emb, k=5, n_centroids=16, n_probe=4)
    assert _recall(ivf, exact) >= 0.3

def test_ivf_full_probe_equals_exact(spark):
    # probing every list must recover brute force exactly
    q, emb = _queries_and_corpus(spark)
    exact = similarity.cosine_topk(q, emb, k=5)
    full = similarity.ivf_topk(q, emb, k=5, n_centroids=64,
                               n_probe=10**6)
    assert _recall(full, exact) == 1.0


def test_lsh_recall_beats_floor(spark):
    q, emb = _queries_and_corpus(spark)
    exact = similarity.cosine_topk(q, emb, k=5)
    lsh = similarity.lsh_topk(q, emb, k=5, dim=64)
    assert _recall(lsh, exact) >= 0.4


def test_gemm_topk_equals_fold_topk(spark):
    """The GEMM tier must return the same neighbors/ranks as the
    bit-exact fold tier (scores agree to float tolerance)."""
    q, emb = _queries_and_corpus(spark)
    exact = {(r.q_id, r.rank): (r.neighbor_id, r.cos_sim)
             for r in similarity.cosine_topk(q, emb, k=5).collect()}
    gemm = {(r.q_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in similarity.cosine_topk_gemm(q, emb, k=5).collect()}
    assert set(exact) == set(gemm)
    for key, (nid, cs) in exact.items():
        gnid, gcs = gemm[key]
        assert gnid == nid, (key, nid, gnid)
        assert abs(gcs - cs) < 1e-9


def test_vectorized_signatures_bit_identical_to_fold(spark):
    """hyperplane_signatures (Arrow numpy int64 GEMM) must agree
    bit-for-bit with hyperplane_signature (JVM fold) for every table
    — both are integer-exact, so equality is exact, and the SQL
    oracle contract (hyperplane_signature_sql) transfers."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = emb.select(
        "vec_id",
        similarity.hyperplane_signatures(F.col("embedding"), 8, 64,
                                         n_tables=8).alias("sigs"))
    want = emb.select(
        "vec_id",
        F.array(*[similarity.hyperplane_signature(F.col("embedding"), 8,
                                                  64, seed=42 + t)
                  for t in range(8)]).alias("sigs"))
    g = {r.vec_id: r.sigs for r in got.collect()}
    w = {r.vec_id: r.sigs for r in want.collect()}
    assert g == w


def test_gemm_topk_tie_run_exceeding_pool(spark):
    """>k+pad exactly-tied scores (duplicate embeddings) in ONE
    batch: the argpartition pool must widen to the whole tie run so
    the lowest-id tied neighbors — the ones the exact tier's
    (-score, id) window keeps — are never dropped locally."""
    from pyspark.sql import Row

    base = [float(i % 7 + 1) for i in range(8)]
    rows = [Row(vec_id=i, embedding=base) for i in range(20)]       # 20-way tie
    rows += [Row(vec_id=100 + i, embedding=[float(j + i + 2) for j in range(8)])
             for i in range(5)]
    emb = spark.createDataFrame(rows).coalesce(1)                   # one batch
    q = emb.filter(F.col("vec_id") == 0)
    exact = [(r.rank, r.neighbor_id, round(r.cos_sim, 9))
             for r in similarity.cosine_topk(q, emb, k=5).collect()]
    gemm = [(r.rank, r.neighbor_id, round(r.cos_sim, 9))
            for r in similarity.cosine_topk_gemm(q, emb, k=5).collect()]
    assert gemm == exact
    assert [nid for _, nid, _ in sorted(gemm)] == [1, 2, 3, 4, 5]


def test_lsh_near_dup_recall(spark):
    """LSH-blocked near-dup pairs vs the exact all-pairs tier:
    recall floor, zero false positives (exact verify inside
    buckets can't invent pairs)."""
    from galaxy_spark.operators.dedup import embedding_near_dup

    _, emb = _queries_and_corpus(spark)
    exact = {(r.id_a, r.id_b)
             for r in embedding_near_dup(emb, 0.4).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in similarity.lsh_near_dup_pairs(emb, 0.4).collect()}
    assert lsh <= exact            # no false positives
    assert len(lsh & exact) / max(len(exact), 1) >= 0.5


def test_lsh_prescore_is_float64_on_float32_embeddings(spark):
    """The verify's vectorized prescore drops pairs below
    ``threshold - 1e-6`` before the exact fold. Embeddings are
    ``array<float>``, and a float32 dot product swamps every term
    below half an ulp of its running sum: here a near-parallel pair
    whose 2,016-term tail vanishes behind 32 unit terms drifts about
    3.7e-6 below its exact cosine, past the margin, so a float32
    prescore pruned a pair the exact fold keeps. The pruned output
    must equal the exact all-pairs fold."""
    import numpy as np

    from galaxy_spark.operators.dedup import embedding_near_dup

    dim, n_big = 2048, 32
    # tail * tail is 0.49 ulp(1.0): absorbed by any float32
    # accumulator already holding a unit term
    tail = float(np.float32(np.sqrt(0.49 * 2.0 ** -23)))
    dup = [1.0] * n_big + [tail] * (dim - n_big)
    other = np.random.default_rng(7).standard_normal(dim) \
        .astype(np.float32).tolist()
    emb = spark.createDataFrame([(1, dup), (2, dup), (3, other)],
                                "vec_id long, embedding array<float>")
    threshold = 1.0 - 1e-7
    exact = {(r.id_a, r.id_b)
             for r in embedding_near_dup(emb, threshold).collect()}
    got = {(r.id_a, r.id_b)
           for r in similarity.lsh_near_dup_pairs(
               emb, threshold, dim=dim).collect()}
    assert exact == {(1, 2)}
    assert got == exact


def test_jaccard_df_cutoff_exact_on_survivors(spark):
    """The max_df skew guard must (a) never invent pairs, (b) keep
    EXACT jaccard/n_shared for every surviving pair (verification
    uses the full shingle sets, not the pruned index), and (c) be a
    no-op when the cutoff exceeds every shingle's document
    frequency."""
    from galaxy_spark.operators.dedup import shingle_pairs_jaccard
    from galaxy_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    key = lambda r: (r.id_a, r.id_b)
    exact = {key(r): (r.n_shared, round(r.jaccard, 9))
             for r in shingle_pairs_jaccard(docs, n=5).collect()}
    loose = {key(r): (r.n_shared, round(r.jaccard, 9))
             for r in shingle_pairs_jaccard(docs, n=5,
                                            max_df=10**9).collect()}
    assert loose == exact                      # (c) no-op cutoff
    tight = {key(r): (r.n_shared, round(r.jaccard, 9))
             for r in shingle_pairs_jaccard(docs, n=5, max_df=3).collect()}
    assert set(tight) <= set(exact)            # (a) no invented pairs
    assert all(tight[k] == exact[k] for k in tight)   # (b) exact values
    assert len(tight) > 0


def test_pq_recall_beats_floor(spark):
    """PQ ADC recall@5 vs exact cosine — uniformly-random unit
    vectors are PQ's worst case (no cluster structure for the
    subspace codebooks to exploit); M=16 x k=64 measures 0.5 here,
    pinned with margin. Vectors are unit-norm so the inner-product
    ADC ranks the same metric as the cosine baseline."""
    from galaxy_spark.registry import all_queries

    q = all_queries()
    exact = q["similarity_cosine_topk"](spark, SF_SMOKE)
    pq_df = q["similarity_pq_topk"](spark, SF_SMOKE)
    assert _recall(pq_df, exact) >= 0.4


def test_random_projection_preserves_distances(spark):
    """JL guarantee, empirically: the 16-d projection preserves
    pairwise squared distances as a RATIO around 1 (mean ~0.98,
    p5~0.5 / p95~1.6 measured for k=16 on this corpus — the
    sqrt(2/k) concentration JL predicts). Correlation is the wrong
    instrument here: uniform unit vectors make every 64-d distance
    nearly equal, so there is no cross-pair signal to correlate."""
    import numpy as np

    from galaxy_spark.registry import all_queries
    from galaxy_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    V = np.array([list(map(float, r.embedding))
                  for r in emb.orderBy("vec_id").limit(60).collect()])
    proj_df = all_queries()["embeddings_random_projection"](spark, SF_SMOKE)
    P = np.array([list(map(float, r.proj))
                  for r in proj_df.orderBy("vec_id").limit(60).collect()])
    ratios = []
    for i in range(len(V)):
        for j in range(i + 1, len(V)):
            dv = ((V[i] - V[j]) ** 2).sum()
            dp = ((P[i] - P[j]) ** 2).sum()
            ratios.append(dp / dv)
    r = np.array(ratios)
    assert 0.85 <= r.mean() <= 1.15, f"ratio mean off: {r.mean():.3f}"
    assert np.percentile(r, 5) >= 0.3 and np.percentile(r, 95) <= 2.0, \
        f"ratio tails too wide: p5={np.percentile(r, 5):.3f} " \
        f"p95={np.percentile(r, 95):.3f}"
