"""Similarity operator units + cross-kernel agreement."""

from __future__ import annotations

import pytest

from spotify_pipeline_gcp_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    cosine_topk_blas,
    cosine_topk_bucketed,
    with_norm,
)

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [2.0, 0.0, 0.0]),   # colinear with 1 -> cosine 1.0
    (3, [0.0, 1.0, 0.0]),   # orthogonal to 1
    (4, [1.0, 1.0, 0.0]),
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_norms(spark):
    norms = {r.vec_id: r.norm for r in with_norm(_emb(spark)).collect()}
    assert norms[1] == 1.0 and norms[2] == 2.0
    assert norms[4] == pytest.approx(2**0.5)


def test_cosine_pairs_known_values(spark):
    pairs = {
        (r.id_a, r.id_b): r.cosine for r in cosine_pairs(_emb(spark)).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert pairs[(1, 3)] == pytest.approx(0.0)
    assert pairs[(1, 4)] == pytest.approx(2**-0.5)


def test_topk_ranking(spark):
    top = cosine_topk(_emb(spark), k=1)
    best = {r.query_id: r.neighbor_id for r in top.collect()}
    assert best[1] == 2  # colinear wins
    assert best[2] == 1


def test_bucketed_is_subset_of_bruteforce(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(_emb(spark), k=4).collect()
    }
    bucketed = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bucketed(_emb(spark), k=4, n_bits=2).collect()
    }
    assert bucketed <= brute


def test_blas_kernel_agrees_with_codegen(spark):
    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in cosine_topk(emb, k=3).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in cosine_topk_blas(emb, k=3).collect()
    }
    assert set(a) == set(b)
    mismatched = [k for k in a if a[k][0] != b[k][0]]
    # identical except possible ties at equal cosine
    assert len(mismatched) <= len(a) // 50


def test_blas_partial_topk_merge_exact(spark):
    # Many more blocks than rows — every block is tiny, so the global
    # window must reconstruct the exact top-k purely from per-block
    # partials. Also proves self-pairs are masked across blocks.
    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, k=5).collect()
    }
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_blas(emb, k=5, n_blocks=13).collect()
    }
    assert set(want) == set(got)
    assert all(n != q for (q, _), n in got.items())


def test_blas_topk_boundary_ties_break_by_id(spark):
    # CONSTRUCTED boundary tie (r12): vectors 10/11/12 are exact
    # duplicates, so for query 1 they all score the same quantized
    # dot. With k=2 the boundary falls INSIDE the tie group — the
    # kernel must keep the LOWEST neighbor ids (10, 11), which the
    # naive argpartition-by-score selection gets wrong whenever the
    # partition happens to keep a higher id.
    dup = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (1, [4.0, 3.0, 2.0, 1.0]),
        (10, dup),
        (11, dup),
        (12, dup),
        # far-away filler so the block is bigger than k
        (20, [-1.0, -2.0, -3.0, -4.0]),
        (21, [-4.0, -3.0, -2.0, -1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_blas(emb, k=2, n_blocks=1).collect()
    }
    assert got[(1, 1)] == 10 and got[(1, 2)] == 11, got
    # the tie group members rank each other ahead of everyone
    assert got[(10, 1)] == 11 and got[(10, 2)] == 12, got
    assert got[(11, 1)] == 10 and got[(11, 2)] == 12, got


def test_blas_quant_scores_are_exact_fixed_point(spark):
    # The r12 graduation contract (qs4/qs6): every BLAS score is
    # qdot / 2^40 with qdot an INTEGER — the property that makes the
    # dgemm bit-replayable by the DuckDB oracle regardless of
    # accumulation order. Also: quantized ranking agrees with the
    # raw-float fold everywhere the cosine gap exceeds the 2^-20
    # quantization radius (identical pairs here — d=64 random data
    # has no near-ties at this sample size).
    from spotify_pipeline_gcp_spark.operators.similarity import _ASSIGN_QSCALE

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    q2 = float(_ASSIGN_QSCALE) ** 2
    quant = cosine_topk_blas(emb, k=3).collect()
    assert len(quant) > 0
    for r in quant:
        scaled = r.cosine * q2
        assert scaled == int(scaled)  # exactly representable integer dot
    raw = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, k=3).collect()
    }
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in quant}
    assert set(raw) == set(got)
    for key, (nid, cq) in got.items():
        assert nid == raw[key][0]
        assert abs(cq - raw[key][1]) < 5e-5  # 2^-20-scale quantization only


def test_bucketed_blas_quant_agrees_with_fold_buckets(spark):
    # quantized scoring must not move the sign buckets (sign(u) ==
    # sign(v)): same candidate pairs as the oracle-checked fold twin qs3.
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_bucketed_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    fold = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_bucketed(emb, k=3, n_bits=4).collect()
    }
    quant = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_bucketed_blas(emb, k=3, n_bits=4).collect()
    }
    assert fold == quant


def test_multiprobe_recall_at_least_single_probe(spark):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_multiprobe,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    truth = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, k=3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bucketed(emb, k=3, n_bits=4).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_multiprobe(emb, k=3, n_bits=4).collect()
    }
    recall_single = len(single & truth) / len(truth)
    recall_multi = len(multi & truth) / len(truth)
    assert recall_multi >= recall_single
    # mostly-random test embeddings put true neighbors in near-random
    # cells: probing 5 of 16 cells must beat the 5/16 ≈ 0.31 floor
    # (clustered real embeddings recover far more)
    assert recall_multi > 0.31


def test_ivf_blas_matches_fold_bucketed(spark):
    # the BLAS hybrid must produce the same (query, neighbor, rank)
    # triples as the oracle-checked fold twin qs3 (the 2^-20
    # quantization must not reorder ranks on this data)
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_bucketed_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_bucketed(emb, k=5, n_bits=4).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_bucketed_blas(emb, k=5, n_bits=4).collect()
    }
    assert fold == blas


def test_ivf_blas_subsplit_same_result(spark):
    # sub-splitting buckets (the skew salt) must not change results
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_bucketed_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150)
    one = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_bucketed_blas(emb, k=3, n_sub=1).collect()
    }
    split = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_bucketed_blas(emb, k=3, n_sub=3).collect()
    }
    assert one == split


def test_kmeans_separable_recall(spark):
    # Two well-separated direction clusters; k-means with k=2 must
    # recover them, and IVF search within the learned cells must
    # reproduce brute-force top-1 exactly (each point's nearest
    # neighbor lives in its own cluster by construction).
    import random

    from spotify_pipeline_gcp_spark.operators.similarity import (
        assign_clusters,
        cosine_topk_kmeans,
        kmeans_centroids,
    )

    rng = random.Random(7)
    rows = []
    for i in range(20):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 0.0, 1.0]
        rows.append(
            (i, [b + rng.uniform(-0.05, 0.05) for b in base])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cent = kmeans_centroids(df, k=2, n_iter=3)
    asg = {r.id: r.cid for r in assign_clusters(df, cent).collect()}
    even = {asg[i] for i in range(0, 20, 2)}
    odd = {asg[i] for i in range(1, 20, 2)}
    assert len(even) == 1 and len(odd) == 1 and even != odd

    brute = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(df, k=1).collect()
    }
    ivf = {
        r.query_id: r.neighbor_id
        for r in cosine_topk_kmeans(df, k_neighbors=1, n_clusters=2, n_iter=3).collect()
    }
    assert ivf == brute  # full recall on separable data


def test_kmeans_deterministic(spark):
    from spotify_pipeline_gcp_spark.operators.similarity import kmeans_centroids

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(15)],
        "vec_id long, embedding array<float>",
    )
    a = {r.cid: r.c for r in kmeans_centroids(df, k=3, n_iter=2).collect()}
    b = {r.cid: r.c for r in kmeans_centroids(df, k=3, n_iter=2).collect()}
    assert a == b  # bitwise-identical across runs


def test_kmeans_blas_matches_fold_kmeans(spark):
    # the trained-IVF BLAS path must produce the same (query,
    # neighbor, rank) triples as the fold search over the SAME
    # learned cells (training is deterministic, so both runs train
    # identical centroids)
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans,
        cosine_topk_kmeans_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_kmeans(
            emb, k_neighbors=5, n_clusters=4, n_iter=2
        ).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_kmeans_blas(
            emb, k_neighbors=5, n_clusters=4, n_iter=2
        ).collect()
    }
    assert fold == blas


def test_blas_trainer_agrees_on_separable_data(spark):
    # on well-separated clusters the quantized matmul trainer
    # (kmeans_centroids_quant_on) must learn the same partition of
    # points as the exact fold trainer (2^-20 rounding cannot flip
    # assignments when margins are wide)
    import random

    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans,
        cosine_topk_kmeans_blas_trained,
    )

    rng = random.Random(11)
    rows = []
    for i in range(24):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 0.0, 1.0]
        rows.append((i, [b + rng.uniform(-0.05, 0.05) for b in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_kmeans(df, k_neighbors=3, n_clusters=2, n_iter=3).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_kmeans_blas_trained(
            df, k_neighbors=3, n_clusters=2, n_iter=3
        ).collect()
    }
    assert exact == blas


def test_multiprobe_recall_dominates_single_probe(spark):
    # nprobe=2 candidates strictly superset nprobe=1 (probe rank 1 ==
    # the assigned cell), so recall vs brute force is monotone:
    # recall(qs7 shape) <= recall(qs11 shape) <= 1; and with enough
    # probes (nprobe = k) IVF IS brute force.
    import random

    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_kmeans,
        cosine_topk_kmeans_multiprobe,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(df, k=3).collect()
    }

    def recall(res):
        hits = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(hits & brute) / len(brute)

    r1 = recall(cosine_topk_kmeans(df, k_neighbors=3, n_clusters=6, n_iter=2))
    r2 = recall(
        cosine_topk_kmeans_multiprobe(
            df, k_neighbors=3, n_clusters=6, n_iter=2, nprobe=2
        )
    )
    r_all = recall(
        cosine_topk_kmeans_multiprobe(
            df, k_neighbors=3, n_clusters=6, n_iter=2, nprobe=6
        )
    )
    assert r1 <= r2 <= 1.0
    assert r2 > r1  # on random vectors two probes must recover something
    assert r_all == 1.0  # probing every cell == brute force


def test_quantize_int8_error_bounds(spark):
    # the symmetric int8 error bound: |x - q*scale| <= scale/2 with
    # scale = max|v|/127; zero vectors quantize losslessly (scale 1)
    from spotify_pipeline_gcp_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 127.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r.id: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert abs(rows[1].scale_raw - 1.0) < 1e-12
    assert rows[1].max_abs_err_raw <= rows[1].scale_raw / 2 + 1e-12
    assert rows[1].mean_abs_err_raw <= rows[1].max_abs_err_raw
    assert rows[2].scale_raw == 1.0
    assert rows[2].max_abs_err_raw == 0.0 and rows[2].mean_abs_err_raw == 0.0


def test_index_sizing_arithmetic():
    # the sizing rule both engines replay: cells = n // 256 (>=1),
    # bits = ceil(log2(cells)) (>=1) — exact integer-input math
    from spotify_pipeline_gcp_spark.operators.similarity import (
        index_size_for,
        sign_bits_for,
    )

    assert index_size_for(0) == 1 and index_size_for(500) == 1
    assert index_size_for(2_000) == 7
    assert index_size_for(20_000) == 78
    assert index_size_for(1_000_000) == 3906
    assert sign_bits_for(500) == 1          # degenerate: 2 buckets
    assert sign_bits_for(2_000) == 3        # ceil(log2(7))
    assert sign_bits_for(20_000) == 7       # ceil(log2(78))
    assert sign_bits_for(1_000_000) == 12
    # monotone in n: a bigger corpus never gets a smaller index
    sizes = [index_size_for(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert sizes == sorted(sizes)
    # trained-cell sizing: k = floor(sqrt(n)), the IVF trainer/search
    # balance (n*k trainer vs n^2/k search)
    from spotify_pipeline_gcp_spark.operators.similarity import (
        trained_cells_for,
    )

    assert trained_cells_for(0) == 1 and trained_cells_for(1) == 1
    assert trained_cells_for(500) == 22
    assert trained_cells_for(2_000) == 44
    assert trained_cells_for(20_000) == 141
    assert trained_cells_for(10**6) == 1000


def test_sized_bucketed_matches_manual_bits(spark):
    # qs13's auto-sized plan must equal qs3's shape run with the SAME
    # bit count computed by hand — the sizing is the only difference
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _fold_topk,
        sign_bits_for,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import (
        _double_base,
        sign_bucket,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    sf_dir = "/root/testdata/sf0.001"
    emb = table(spark, sf_dir, "embeddings")
    n_bits = min(32, sign_bits_for(emb.count()))
    base = _double_base(emb, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    manual = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in _fold_topk(base, 5).collect()
    }
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs13_cosine_topk_bucketed_sized,
    )

    sized = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs13_cosine_topk_bucketed_sized(spark, sf_dir).collect()
    }
    assert sized == manual and len(sized) > 0


def test_sized_ivf_matches_manual_sqrt_k(spark):
    # qs14 (sized, sample-trained, nprobe=2) must equal the manual
    # composition with the SAME k = floor(sqrt(n)) computed by hand.
    # At sf0.001 the training fraction 32k/n saturates at 1.0, so the
    # manual twin trains on the FULL corpus — pinning the documented
    # degeneracy (sample == corpus at small sf) at the same time.
    from spotify_pipeline_gcp_spark.queries.compat import table
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _topn_probes,
        _unit_vectors,
        kmeans_centroids,
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import (
        _dot_pre,
        _train_frac,
        fixed,
        qs14_cosine_topk_ivf_kmeans_sized,
    )
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    assert 1 < k < n  # sizing is non-degenerate even at the tiny sf
    assert _train_frac(n, k) == 1.0  # saturated: full-train twin valid
    cent = kmeans_centroids(emb, "vec_id", "embedding", k=k, n_iter=2)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    probes = _topn_probes(pts, cent, 2)
    a, b = probes.alias("a"), probes.alias("b")
    cos = fixed(_dot_pre(F.col("a.u"), F.col("b.u")), 6)
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("b.probe_rank") == F.lit(1))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.col("a.id").alias("query_id"),
        F.col("b.id").alias("neighbor_id"),
        cos.alias("cosine_r"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    manual = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pairs.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).where(F.col("rank") <= 5).collect()
    }
    sized = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs14_cosine_topk_ivf_kmeans_sized(spark, sf_dir).collect()
    }
    assert sized == manual and len(sized) > 0


def test_sized_ivf_multiprobe_dominates_single_probe(spark):
    # qs14 and qs16 share ONE trained model (same 'ivf:' digest
    # sample, same k) — qs14's extra probe can only improve each
    # query's top-5: at every rank j the qs14 cosine must be >= the
    # qs16 cosine for the same query.
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs14_cosine_topk_ivf_kmeans_sized,
        qs16_cosine_topk_ivf_sample_trained,
    )

    sf_dir = "/root/testdata/sf0.001"
    multi = {
        (r.query_id, r.rank): r.cosine_r
        for r in qs14_cosine_topk_ivf_kmeans_sized(spark, sf_dir).collect()
    }
    single = {
        (r.query_id, r.rank): r.cosine_r
        for r in qs16_cosine_topk_ivf_sample_trained(spark, sf_dir).collect()
    }
    assert len(multi) >= len(single) > 0
    for key, cos_single in single.items():
        assert key in multi
        assert multi[key] >= cos_single


def test_query_corpus_topk_is_broadcast_and_correct(spark):
    # serving shape: every returned neighbor must be a corpus vector
    # in the query's bucket, ranks dense from 1, and the plan must
    # broadcast the query side (corpus never shuffles)
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs15_query_corpus_topk,
    )

    df = qs15_query_corpus_topk(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_imi_separable_recall_and_product_cells(spark):
    # Four direction clusters built so the two vector HALVES each
    # separate two of them: half-quantizers with k_each=2 must
    # recover a 2x2 product grid, and IMI search must reproduce
    # brute-force top-1 (each point's nearest neighbor shares both
    # half-cells by construction).
    import random

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        cosine_topk,
        cosine_topk_imi,
        imi_assign,
        kmeans_centroids_on,
    )
    from pyspark.sql import functions as F

    rng = random.Random(11)
    bases = [
        [1.0, 0.0, 1.0, 0.0],  # half1 -> +x, half2 -> +x
        [1.0, 0.0, 0.0, 1.0],  # half1 -> +x, half2 -> +y
        [0.0, 1.0, 1.0, 0.0],
        [0.0, 1.0, 0.0, 1.0],
    ]
    rows = []
    for i in range(40):
        b = bases[i % 4]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pts = _unit_vectors(df, "vec_id", "embedding")
    h1 = pts.select("id", F.slice("u", 1, 2).alias("u"))
    h2 = pts.select("id", F.slice("u", 3, 2).alias("u"))
    cent1 = kmeans_centroids_on(h1, k=2, n_iter=3)
    cent2 = kmeans_centroids_on(h2, k=2, n_iter=3)
    asg = imi_assign(pts, cent1, cent2, 2)
    cells = {r.id: (r.cid1, r.cid2) for r in asg.collect()}
    # every base direction maps to exactly ONE product cell, and the
    # grid actually partitions (≥2 cells; the seeded init may
    # collapse one HALF's quantizer — cells only widen, recall holds)
    by_base = {}
    for i, cell in cells.items():
        by_base.setdefault(i % 4, set()).add(cell)
    assert all(len(s) == 1 for s in by_base.values())
    assert len({next(iter(s)) for s in by_base.values()}) >= 2

    brute = {r.query_id: r.neighbor_id for r in cosine_topk(df, k=1).collect()}
    imi = {
        r.query_id: r.neighbor_id
        for r in cosine_topk_imi(
            df, k_neighbors=1, k_each=2, n_iter=3
        ).collect()
    }
    assert imi == brute


def test_imi_deterministic_and_candidates_subset(spark):
    # IMI results are bitwise-stable across runs, and every returned
    # pair shares BOTH half-cells (the product-cell invariant).
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_imi,
        imi_cells_for,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    sf_dir = "/root/testdata/sf0.001"
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    assert 2 <= k_each and k_each * k_each < n
    a = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_imi(emb, k_neighbors=3, k_each=k_each).collect()
    }
    b = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk_imi(emb, k_neighbors=3, k_each=k_each).collect()
    }
    assert a == b and len(a) > 0


def test_imi_odd_dim_rejected(spark):
    from spotify_pipeline_gcp_spark.operators.similarity import cosine_topk_imi

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="even vector dim"):
        cosine_topk_imi(df, k_neighbors=1, k_each=2)


def test_pq_adc_recall_on_separable_data(spark):
    # 4 direction clusters whose halves separate pairwise; PQ with
    # m=2 sub-quantizers must rank same-cluster vectors first, and
    # ADC top-1 (excluding self) must land in the query's cluster.
    import random

    from pyspark.sql import functions as F
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rng = random.Random(5)
    bases = [
        [1, 0, 0, 0, 1, 0, 0, 0],
        [1, 0, 0, 0, 0, 1, 0, 0],
        [0, 1, 0, 0, 1, 0, 0, 0],
        [0, 1, 0, 0, 0, 1, 0, 0],
    ]
    rows = [
        (i, [x + rng.uniform(-0.05, 0.05) for x in bases[i % 4]])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pts = _unit_vectors(df, "vec_id", "embedding")
    books = pq_codebooks(pts, m=2, d_sub=4, k_pq=4, n_iter=3)
    # disjoint serving split: queries 0..3, corpus the rest
    qpts = pts.where(F.col("id") < 4)
    cpts = pts.where(F.col("id") >= 4)
    codes = pq_encode(cpts, books, m=2, d_sub=4)
    out = pq_adc_topk(qpts, codes, books, m=2, d_sub=4, k_neighbors=3)
    rows_out = out.collect()
    assert len(rows_out) == 12  # 4 queries x top-3
    for r in rows_out:
        assert r.neighbor_id % 4 == r.query_id % 4  # same cluster


def test_pq_encode_deterministic_and_compact(spark):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        pq_codebooks,
        pq_encode,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    pts = _unit_vectors(emb, "vec_id", "embedding")
    books = pq_codebooks(pts, m=4, d_sub=16, k_pq=16, n_iter=1)
    a = {r.id: tuple(r.codes) for r in pq_encode(pts, books, 4, 16).collect()}
    b = {r.id: tuple(r.codes) for r in pq_encode(pts, books, 4, 16).collect()}
    assert a == b and len(a) == emb.count()
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c) for c in a.values())


def test_kmeans_l2_converges_to_cluster_means(spark):
    # two tight point clouds -> centroids are the (quantized) means,
    # NOT renormalized to unit (the PQ codebook property)
    from spotify_pipeline_gcp_spark.operators.similarity import pq_codebooks

    rows = [(i, [0.1, 0.1]) for i in range(10)] + [
        (100 + i, [0.8, 0.0]) for i in range(10)
    ]
    pts = spark.createDataFrame(rows, "id long, u array<double>")
    book = pq_codebooks(pts, m=1, d_sub=2, k_pq=2, n_iter=3)[0]
    cent = {tuple(round(x, 6) for x in r.c) for r in book.collect()}
    assert (0.1, 0.1) in cent and (0.8, 0.0) in cent


def test_lloyd_zero_mean_cell_contract(spark):
    # (1, 0) and (-1, 0) in one cell sum to the zero vector: every
    # spherical trainer divides by its zero norm and aborts (ANSI), the
    # division the SQL oracles replay; the L2 trainer keeps the zero
    # codeword
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids_on,
        kmeans_centroids_on_halves,
        kmeans_centroids_quant_on,
        pq_codebooks,
    )

    pts = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])], "id long, u array<double>"
    )
    spherical = [
        lambda: kmeans_centroids_on(pts, k=1, n_iter=1),
        lambda: kmeans_centroids_quant_on(pts, k=1, n_iter=1),
        lambda: kmeans_centroids_on_halves(pts, 1, k=1, n_iter=1),
    ]
    for train in spherical:
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            train()
    book = pq_codebooks(pts, m=1, d_sub=2, k_pq=1, n_iter=1)[0]
    assert [(r.cid, list(r.c)) for r in book.collect()] == [(0, [0.0, 0.0])]


def test_ivfpq_recall_on_separable_data(spark):
    # same 4-cluster construction as the PQ test: IVF+PQ top-1 must
    # stay in the query's cluster (coarse cells + compressed scores
    # both respect the separation)
    import random

    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_ivfpq,
    )

    rng = random.Random(5)
    bases = [
        [1, 0, 0, 0, 1, 0, 0, 0],
        [1, 0, 0, 0, 0, 1, 0, 0],
        [0, 1, 0, 0, 1, 0, 0, 0],
        [0, 1, 0, 0, 0, 1, 0, 0],
    ]
    rows = [
        (i, [x + rng.uniform(-0.05, 0.05) for x in bases[i % 4]])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_ivfpq(
        df, k_neighbors=1, n_clusters=4, m=2, d_sub=4, k_pq=4, n_iter=3
    )
    rows_out = out.collect()
    assert len(rows_out) > 0
    for r in rows_out:
        assert r.neighbor_id % 4 == r.query_id % 4
        assert r.neighbor_id != r.query_id


def test_ann_recall_audit_bounds_and_subset(spark):
    """recall@5 is in [0,1]; a perfect index (every pair same-bucket)
    would give recall 1 — here we assert the audit's internal
    consistency: n_hits <= 5 and recall == n_hits / 5."""
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs21_ann_recall_audit,
    )

    rows = qs21_ann_recall_audit(spark, "/root/testdata/sf0.001").collect()
    assert rows, "audit must emit one row per query"
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert r.recall_at_5 == r.n_hits / 5.0


def test_hybrid_rrf_fuses_both_rankers(spark):
    """Every fused row carries a valid RRF score; a doc ranked by
    both rankers outscores the same ranks singly; ranks within a
    query are unique and capped at 10."""
    from spotify_pipeline_gcp_spark.queries.similarity import qs20_hybrid_rrf

    rows = qs20_hybrid_rrf(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        assert 1 <= r.fused_rank <= 10
        assert r.sem_rank >= 0 and r.lex_rank >= 0
        assert r.sem_rank > 0 or r.lex_rank > 0  # at least one ranker
        expect = (1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0) + (
            1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0
        )
        assert abs(r.rrf_score - expect) < 1e-6
        by_q.setdefault(r.query_id, []).append(r.fused_rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_knn_label_vote_semantics(spark):
    """Majority label wins; ties break to the lowest label; the
    denominator reports how many neighbors actually voted."""
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qe2_knn_label_vote,
    )

    rows = qe2_knn_label_vote(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_votes <= r.total_votes <= 5
        assert r.pred_label % 10 != 0  # voters come from the labeled slice


def test_index_maintenance_accounting(spark):
    # qs22: every corpus/delta vector lands in exactly one cell, the
    # totals add up, and the overfull flag matches the integer
    # threshold recomputed by hand
    from spotify_pipeline_gcp_spark.operators.similarity import (
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs22_ann_index_maintenance,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = table(spark, sf_dir, "embeddings")
    n_corpus = emb.where("label % 10 != 0").count()
    n_delta = emb.where("label % 10 = 0").count()
    rows = qs22_ann_index_maintenance(spark, sf_dir).collect()
    k = trained_cells_for(n_corpus)
    assert len(rows) == k
    assert sum(r.n_indexed for r in rows) == n_corpus
    assert sum(r.n_delta for r in rows) == n_delta
    expected = (n_corpus + k - 1) // k
    for r in rows:
        assert r.n_total == r.n_indexed + r.n_delta
        assert r.overfull == (1 if r.n_total > 2 * expected else 0)


def test_sized_blas_ivf_matches_sized_fold_ivf(spark):
    # qs23 (BLAS kernel) must produce the same (query, neighbor,
    # rank) triples as qs16 (hash-verified fold) — both build the
    # SAME sized sample-trained model ('ivf:' salt), so any diff is
    # kernel-level, and ulp-order noise must not reorder ranks on
    # this data
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs16_cosine_topk_ivf_sample_trained,
        qs23_cosine_topk_ivf_blas_sized,
    )

    sf_dir = "/root/testdata/sf0.001"
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs16_cosine_topk_ivf_sample_trained(spark, sf_dir).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs23_cosine_topk_ivf_blas_sized(spark, sf_dir).collect()
    }
    assert fold == blas and len(fold) > 0


def test_sized_blas_imi_matches_sized_fold_imi(spark):
    # qs26 (BLAS kernel) must produce the same (query, neighbor,
    # rank) triples as qs17 (hash-verified fold) — both build the
    # SAME search-sized sample-trained product grid ('imi:' salt),
    # so any diff is kernel-level, and ulp-order noise must not
    # reorder ranks on this data. NOTE (r9, ADVICE): with
    # blas_assign the cell ASSIGNMENT itself is a dgemm argmax,
    # which can differ from the fold's struct-max when two cells'
    # dots sit within an ulp — exact equality here is a
    # data-dependent pin on this corpus, not an arithmetic
    # guarantee (see cosine_topk_imi_blas's docstring).
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs17_cosine_topk_imi,
        qs26_cosine_topk_imi_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs17_cosine_topk_imi(spark, sf_dir).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs26_cosine_topk_imi_blas(spark, sf_dir).collect()
    }
    assert fold == blas and len(fold) > 0


def test_imi_multiprobe_dominates_single_probe(spark):
    # qs24 and qs17 share ONE trained model (same 'imi:' sample) —
    # the 2x2 product probe grid can only improve each query's
    # top-5: at every rank the qs24 cosine must be >= qs17's.
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs17_cosine_topk_imi,
        qs24_cosine_topk_imi_multiprobe,
    )

    sf_dir = "/root/testdata/sf0.001"
    multi = {
        (r.query_id, r.rank): r.cosine_r
        for r in qs24_cosine_topk_imi_multiprobe(spark, sf_dir).collect()
    }
    single = {
        (r.query_id, r.rank): r.cosine_r
        for r in qs17_cosine_topk_imi(spark, sf_dir).collect()
    }
    assert len(multi) >= len(single) > 0
    for key, cos_single in single.items():
        assert key in multi and multi[key] >= cos_single


def test_manifest_maintenance_matches_self_contained(spark, tmp_path, monkeypatch):
    # qs22b: the manifest round-trip (build -> persist -> maintain)
    # must reproduce qs22's report EXACTLY, the warm second run must
    # reuse the stored manifest (no rebuild), and a corpus change
    # must trip the staleness probe and rebuild
    import json
    import os

    from spotify_pipeline_gcp_spark.queries.similarity import (
        _manifest_dir,
        qs22_ann_index_maintenance,
        qs22b_ann_index_maintenance_manifest,
    )

    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_DIR", str(tmp_path / "man"))
    sf_dir = "/root/testdata/sf0.001"
    want = {tuple(r) for r in qs22_ann_index_maintenance(spark, sf_dir).collect()}
    got = {
        tuple(r)
        for r in qs22b_ann_index_maintenance_manifest(spark, sf_dir).collect()
    }
    assert got == want

    path = _manifest_dir(sf_dir)
    built_at = os.path.getmtime(os.path.join(path, "meta.json"))
    warm = {
        tuple(r)
        for r in qs22b_ann_index_maintenance_manifest(spark, sf_dir).collect()
    }
    assert warm == want
    assert os.path.getmtime(os.path.join(path, "meta.json")) == built_at

    # poison the stored fingerprint -> staleness probe must rebuild
    meta_path = os.path.join(path, "meta.json")
    meta = json.load(open(meta_path))
    meta["fingerprint"]["ck"] += 1
    json.dump(meta, open(meta_path, "w"))
    rebuilt = {
        tuple(r)
        for r in qs22b_ann_index_maintenance_manifest(spark, sf_dir).collect()
    }
    assert rebuilt == want
    assert os.path.getmtime(os.path.join(path, "meta.json")) != built_at


def test_ivfpq_gather_kernel_matches_declarative(spark):
    # qs27 (cogroup + NumPy int64 gather) must reproduce qs19's
    # output EXACTLY — same model, and integer ADC makes the kernel
    # bit-identical, so full row equality (not just pair sets)
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs19_cosine_topk_ivfpq,
        qs27_cosine_topk_ivfpq_gather,
    )

    sf_dir = "/root/testdata/sf0.001"
    decl = {
        (r.query_id, r.neighbor_id, r.adc_r, r.rank)
        for r in qs19_cosine_topk_ivfpq(spark, sf_dir).collect()
    }
    gath = {
        (r.query_id, r.neighbor_id, r.adc_r, r.rank)
        for r in qs27_cosine_topk_ivfpq_gather(spark, sf_dir).collect()
    }
    assert decl == gath and len(decl) > 0


def test_multiprobe_blas_imi_matches_multiprobe_fold_imi(spark):
    # qs28 (BLAS kernel) must produce the same (query, neighbor,
    # rank) triples as qs24 (hash-verified fold multiprobe) — both
    # probe the same 2x2 grid over the SAME memoized 'imi:' model,
    # so any diff is kernel-level. Same data-dependent ulp caveat as
    # the qs26-vs-qs17 pin (see cosine_topk_imi_blas's docstring).
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs24_cosine_topk_imi_multiprobe,
        qs28_cosine_topk_imi_multiprobe_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs24_cosine_topk_imi_multiprobe(spark, sf_dir).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs28_cosine_topk_imi_multiprobe_blas(spark, sf_dir).collect()
    }
    assert fold == blas and len(fold) > 0


def test_probe_ranks_blas_bit_exact_vs_fold(spark):
    # _topn_probe_ranks_halves_blas (qs28's vectorized probe pass,
    # raw float32 in, unit-normalized in the kernel) must reproduce
    # the crossJoin+fold form over _unit_vectors BIT-FOR-BIT — same
    # ids, same probe cids in the same order, same nd double bits —
    # because qs28's oracle replays the FLOAT fold chain and the query
    # is hash-verified. Compared via repr() of the structs (repr of a
    # float is bit-faithful for doubles).
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _half_dim,
        _raw_points,
        _topn_probe_ranks_halves,
        _topn_probe_ranks_halves_blas,
        _unit_vectors,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    sf_dir = "/root/testdata/sf0.001"
    emb = table(spark, sf_dir, "embeddings")
    pts = _unit_vectors(emb, "vec_id", "embedding")
    h = _half_dim(emb, "embedding")
    k = imi_cells_for(emb.count())
    cent1, cent2 = kmeans_centroids_on_halves(pts, h, k=k, n_iter=2)

    def snap(rows):
        return {
            r["id"]: (
                [(repr(e["nd"]), e["cid"]) for e in r["t1"]],
                [(repr(e["nd"]), e["cid"]) for e in r["t2"]],
            )
            for r in rows
        }

    fold = snap(_topn_probe_ranks_halves(pts, cent1, cent2, h, 2).collect())
    raw = _raw_points(emb, "vec_id", "embedding")
    rows = _topn_probe_ranks_halves_blas(raw, cent1, cent2, h, 2).collect()
    assert snap(rows) == fold and len(fold) > 0

    # the raw vector passes through bit-losslessly (qs28's packing
    # sides read it from the kernel output, not a corpus join-back)
    src_v = {
        r["vec_id"]: [repr(x) for x in r["embedding"]] for r in emb.collect()
    }
    ker_v = {r["id"]: [repr(x) for x in r["v"]] for r in rows}
    assert ker_v == src_v


def test_model_memo_shares_and_reproduces(spark):
    # 1) a cleared memo and a warm memo must give IDENTICAL qs19
    #    results (the memo only skips re-running deterministic
    #    trainers); 2) qs27 must HIT qs19's 'ivfpq' entries (shared
    #    model — no new keys), the train-once-serve-many split.
    from spotify_pipeline_gcp_spark.queries import similarity as S

    sf_dir = "/root/testdata/sf0.001"
    S._MODEL_MEMO.clear()
    cold = {tuple(r) for r in S.qs19_cosine_topk_ivfpq(spark, sf_dir).collect()}
    keys_after_qs19 = {k for k in S._MODEL_MEMO if "ivfpq" in str(k)}
    assert keys_after_qs19  # trainer ran and registered
    warm = {tuple(r) for r in S.qs19_cosine_topk_ivfpq(spark, sf_dir).collect()}
    assert warm == cold
    S.qs27_cosine_topk_ivfpq_gather(spark, sf_dir).count()
    keys_after_qs27 = {k for k in S._MODEL_MEMO if "ivfpq" in str(k)}
    assert keys_after_qs27 == keys_after_qs19  # qs27 reused, not retrained


def test_pq_store_staleness_rebuild(spark, tmp_path, monkeypatch):
    # a content-mismatched fingerprint must force a rebuild; a
    # matching one must reuse the stored files untouched
    import json
    import os

    from spotify_pipeline_gcp_spark.queries.similarity import (
        ensure_pq_store,
    )

    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_DIR", str(tmp_path / "man"))
    sf_dir = "/root/testdata/sf0.001"
    path = ensure_pq_store(spark, sf_dir)
    with open(os.path.join(path, "meta.json")) as fh:
        meta1 = json.load(fh)
    mtime1 = os.path.getmtime(os.path.join(path, "meta.json"))
    # matching fingerprint: reuse (same inode, no rewrite)
    assert ensure_pq_store(spark, sf_dir) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == mtime1
    # corrupt the stored fingerprint -> rebuild with fresh meta
    meta1["fingerprint"]["cv"] += 1
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta1, fh)
    assert ensure_pq_store(spark, sf_dir) == path
    with open(os.path.join(path, "meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["fingerprint"]["cv"] == meta1["fingerprint"]["cv"] - 1


def test_hot_bucket_cap_binds_on_skewed_corpus(spark):
    """The MAX_SIGN_BUCKET cap's BINDING path (r10): driver-scale
    corpora never trigger it (oracles prove the no-op side), and the
    1000x ladder rows that exercise it have no oracle — so the drop
    semantics are pinned here on a synthetic skewed corpus. A dense
    region bigger than the cap must contribute NO candidate pairs
    (its members vanish from the self-join), while a small bucket
    still pairs normally; with the cap raised above the dense
    region's size, the same corpus pairs inside it again."""
    import pyspark.sql.functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _double_base,
        drop_hot_buckets,
        sign_bucket,
    )

    # bucket at 1 bit on dim0's sign: hot = 20 vectors with dim0 > 0,
    # cold = 4 vectors with dim0 < 0 (distinct tails keep rows unique)
    rows = [(i, [1.0] + [float(i % 7 + 1)] * 3) for i in range(20)] + [
        (100 + i, [-1.0] + [float(i + 1)] * 3) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = _double_base(df, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", 1)
    )

    capped = drop_hot_buckets(base, max_bucket=10)
    kept_ids = {r["id"] for r in capped.select("id").collect()}
    assert kept_ids == {100, 101, 102, 103}, (
        "the 20-member bucket exceeds the cap and must be dropped "
        "whole; the 4-member bucket survives"
    )

    uncapped = drop_hot_buckets(base, max_bucket=20)
    assert uncapped.count() == 24, "cap >= bucket size must be a no-op"

    # end-to-end through the pair generator shape: capped self-join
    # emits only cold-bucket pairs
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).count()
    assert pairs == 6  # C(4,2) within the surviving bucket


def test_ivfpq_store_serving_matches_per_session_build(spark, tmp_path, monkeypatch):
    """qs19b (store-served IVFPQ) must reproduce qs19's rows exactly
    at driver scale: same memoized 'ivfpq:' model, assignment at dgemm
    throughput (fold-agreement is the rows-only convention — ulp
    near-ties could flip a cell, which this corpus doesn't exercise),
    stored int64 codes → bit-identical ADC. Second call must serve
    from the store without rebuilding (meta mtime unchanged)."""
    import os

    from spotify_pipeline_gcp_spark.queries import load_all

    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_DIR", str(tmp_path))
    reg = load_all()
    sf = "/root/testdata/sf0.001"
    base = sorted(map(str, reg["qs19_cosine_topk_ivfpq"].fn(spark, sf).collect()))
    stored = sorted(
        map(str, reg["qs19b_cosine_topk_ivfpq_store"].fn(spark, sf).collect())
    )
    assert stored == base

    from spotify_pipeline_gcp_spark.queries.similarity import _ivfpq_store_dir

    meta = os.path.join(_ivfpq_store_dir(sf), "meta.json")
    m0 = os.path.getmtime(meta)
    again = sorted(
        map(str, reg["qs19b_cosine_topk_ivfpq_store"].fn(spark, sf).collect())
    )
    assert again == base
    assert os.path.getmtime(meta) == m0, "recurring call must not rebuild"


def test_assign_quant_fold_equals_quant_blas(spark):
    """The quantized-exact assignment's two physical forms — the
    native SQL fold (``assign_clusters_quant``) and the float64 dgemm
    (``assign_clusters_quant_blas``) — must agree row for row on real
    data AND on an adversarial near-tie: quantized integer dots below
    2^53 are exact in both engines, so this is an equality of
    semantics, not a tolerance (the property that lets the
    maintenance/IVFPQ-store builds run at BLAS throughput while
    staying hash-verified; _ASSIGN_QSCALE docstring)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        assign_clusters_quant,
        assign_clusters_quant_blas,
        kmeans_centroids,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = kmeans_centroids(df, k=7, n_iter=2)
    fold = {
        r.id: r.cid for r in assign_clusters_quant(df, cent).collect()
    }
    blas = {
        r.id: r.cid
        for r in assign_clusters_quant_blas(
            _unit_vectors(df, "vec_id", "embedding"), cent
        ).collect()
    }
    assert fold == blas and len(fold) == df.count()

    # raw=True (the manifest build's deployed shape): the kernel
    # unit-normalizes the raw table itself — must agree row for row
    raw = {
        r.id: r.cid
        for r in assign_clusters_quant_blas(
            df, cent, id_col="vec_id", u_col="embedding", raw=True
        ).collect()
    }
    assert raw == fold

    # adversarial near-tie: centroids differ by 1e-9 per component —
    # far below the 2^-20 quantization step, so BOTH forms must see
    # EQUAL integer dots and break the tie to the LOWEST cid
    import math

    inv = 1.0 / math.sqrt(4.0)
    c_rows = [
        (1, [inv + 1e-9] * 4),
        (0, [inv] * 4),
    ]
    tie_cent = spark.createDataFrame(c_rows, "cid long, c array<double>")
    pts = spark.createDataFrame(
        [(7, [0.5, 0.5, 0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    f = assign_clusters_quant(pts, tie_cent).collect()[0]
    b = assign_clusters_quant_blas(
        _unit_vectors(pts, "vec_id", "embedding"), tie_cent
    ).collect()[0]
    assert f.cid == 0 and b.cid == 0


def test_sized_blas_buckets_match_sized_fold_buckets(spark):
    # qs30 (quantized dgemm over auto-sized sign buckets) must produce
    # the same (query, neighbor, rank) triples as qs13 (hash-verified
    # fold over the SAME buckets + cap) — any diff is kernel-level,
    # and the 2^-20 quantization must not reorder ranks on this data
    from spotify_pipeline_gcp_spark.queries.similarity import (
        qs13_cosine_topk_bucketed_sized,
        qs30_cosine_topk_bucketed_blas_sized,
    )

    sf_dir = "/root/testdata/sf0.001"
    fold = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs13_cosine_topk_bucketed_sized(spark, sf_dir).collect()
    }
    blas = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in qs30_cosine_topk_bucketed_blas_sized(spark, sf_dir).collect()
    }
    assert fold == blas and len(fold) > 0


def _jvm_quant_topk(q_side, d_side, keys, k):
    """JVM reference for the packed-block kernels: (query_id,
    neighbor_id, cosine, rank) scored by the SQL fold over
    ``_unit_vectors``' u — quantized at 2^20, exact integer dot, /
    2^40 — for every (q, d) pair sharing the ``keys`` cell (q != d),
    ranked (cosine desc, neighbor_id). ``q_side``/``d_side`` are
    (id, u, *keys)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _ASSIGN_QSCALE,
        _qdot_exact,
        _quantize_vec,
    )

    q2 = float(_ASSIGN_QSCALE) ** 2
    q = q_side.select(
        F.col("id").alias("query_id"),
        _quantize_vec(F.col("u")).alias("qq"),
        *[F.col(c).alias(f"q_{c}") for c in keys],
    )
    d = d_side.select(
        F.col("id").alias("neighbor_id"),
        _quantize_vec(F.col("u")).alias("qd"),
        *[F.col(c).alias(f"d_{c}") for c in keys],
    )
    cond = [F.col(f"q_{c}") == F.col(f"d_{c}") for c in keys]
    pairs = q.join(d, cond).where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (_qdot_exact(F.col("qq"), F.col("qd")).cast("double") / F.lit(q2)).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def test_raw_pack_paths_bit_equal_jvm_unit_paths(spark):
    """The raw float32 packing (in-kernel normalize) of the three
    packed-block kernels must emit BIT-IDENTICAL rows to the JVM unit
    path — ``_unit_vectors``' fold normalize, then the SQL quantized
    integer dot over the same cells — so every score, rank and pair
    matches including the float bits (the hash-verification
    contract)."""
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _ASSIGN_QSCALE,
        _qdot_exact,
        _quantize_vec,
        _unit_vectors,
        cosine_topk_blas,
        cosine_topk_bucketed_blas,
        sign_bucket,
        sign_bucket_pairs_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150).cache()
    pts = _unit_vectors(emb, "vec_id", "embedding")

    a = sorted(map(tuple, cosine_topk_blas(emb, k=3).collect()))
    b = sorted(
        map(
            tuple,
            _jvm_quant_topk(
                pts.withColumn("all", F.lit(0)), pts.withColumn("all", F.lit(0)),
                ["all"], 3,
            ).collect(),
        )
    )
    assert a == b and len(a) > 0, "cosine_topk_blas"

    def bucketed(n_bits):
        # sign buckets on the RAW embedding, as the operators compute them
        codes = emb.select(
            F.col("vec_id").alias("id"),
            sign_bucket("embedding", n_bits).alias("bucket"),
        )
        return pts.join(codes, "id")

    cells = bucketed(4)
    a = sorted(
        map(tuple, cosine_topk_bucketed_blas(emb, k=3, n_bits=4).collect())
    )
    b = sorted(map(tuple, _jvm_quant_topk(cells, cells, ["bucket"], 3).collect()))
    assert a == b and len(a) > 0, "bucketed_blas"

    # threshold -1 keeps EVERY in-bucket pair: the assertion then
    # covers the full quantized score surface, not just high-cosine
    # survivors (random sf0.001 vectors have no 0.45+ neighbors)
    q2 = float(_ASSIGN_QSCALE) ** 2
    cells = bucketed(3).select(
        "id", "bucket", _quantize_vec(F.col("u")).alias("q")
    )
    ref = (
        cells.alias("a")
        .join(cells.alias("b"), "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (_qdot_exact(F.col("a.q"), F.col("b.q")).cast("double") / F.lit(q2)).alias(
                "cosine_q"
            ),
        )
    )
    a = sorted(
        map(
            tuple,
            sign_bucket_pairs_blas(emb, threshold=-1.0, n_bits=3).collect(),
        )
    )
    b = sorted(map(tuple, ref.collect()))
    assert a == b and len(a) > 0, "sign_bucket_pairs_blas"
    emb.unpersist()


def test_raw_pack_trained_paths_bit_equal_jvm_unit_paths(spark):
    """The trained/IMI BLAS operators (raw float32 through the
    assignment kernel + packing, normalize replayed in-kernel) must
    emit BIT-IDENTICAL rows to the JVM unit path over the SAME model:
    ``_unit_vectors``, the SQL quantized argmax assignment
    (``_argmax_assign_quant``; the float fold probe ranks for
    multiprobe, as the operator ranks them) and the SQL quantized
    integer dot within each cell — the hash-verified shapes the
    registered queries use (qs23/qs26/qs28/qs10)."""
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _argmax_assign_quant,
        _half_dim,
        _topn_probe_ranks_halves,
        _unit_vectors,
        cosine_topk_imi_blas,
        cosine_topk_imi_multiprobe_blas,
        cosine_topk_kmeans_blas,
        kmeans_centroids,
        kmeans_centroids_on_halves,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200).cache()
    pts = _unit_vectors(emb, "vec_id", "embedding")

    def check(got, q_side, d_side, keys, name):
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, _jvm_quant_topk(q_side, d_side, keys, 3).collect()))
        assert a == b and len(a) > 0, name

    cent = kmeans_centroids(emb, "vec_id", "embedding", k=4, n_iter=2)
    cells = _argmax_assign_quant(pts, cent).withColumnRenamed("cid", "bucket")
    check(
        cosine_topk_kmeans_blas(
            emb, k_neighbors=3, n_clusters=4, blas_assign=True, cent=cent
        ),
        cells, cells, ["bucket"], "cosine_topk_kmeans_blas",
    )

    h = _half_dim(emb, "embedding")
    cent1, cent2 = kmeans_centroids_on_halves(pts, h, k=3, n_iter=2)
    half1 = pts.select("id", F.slice("u", 1, h).alias("u"))
    half2 = pts.select("id", F.slice("u", h + 1, h).alias("u"))
    asg1 = _argmax_assign_quant(half1, cent1).select(
        "id", F.col("cid").alias("cid1")
    )
    asg2 = _argmax_assign_quant(half2, cent2).select(
        "id", F.col("cid").alias("cid2")
    )
    cells = pts.join(asg1, "id").join(asg2, "id")
    check(
        cosine_topk_imi_blas(emb, k_neighbors=3, cents=(cent1, cent2)),
        cells, cells, ["cid1", "cid2"], "cosine_topk_imi_blas",
    )

    probes = _topn_probe_ranks_halves(pts, cent1, cent2, h, 2).join(pts, "id")
    d_side = probes.select(
        "id", "u",
        F.col("t1")[0]["cid"].alias("cid1"),
        F.col("t2")[0]["cid"].alias("cid2"),
    )
    q_side = (
        probes.select("id", "u", F.explode("t1").alias("p1"), "t2")
        .select("id", "u", F.col("p1.cid").alias("cid1"), F.explode("t2").alias("p2"))
        .select("id", "u", "cid1", F.col("p2.cid").alias("cid2"))
    )
    check(
        cosine_topk_imi_multiprobe_blas(
            emb, k_neighbors=3, nprobe_each=2, cents=(cent1, cent2)
        ),
        q_side, d_side, ["cid1", "cid2"], "cosine_topk_imi_multiprobe_blas",
    )
    emb.unpersist()


def test_kernel_unit_rows_bit_equal_unit_vectors(spark):
    """kernels.unit_rows — the normalize every BLAS kernel runs on the
    raw float32 packing — must reproduce _unit_vectors' JVM fold
    chain BIT-FOR-BIT (repr of every double), so the kernels' scores
    are the ones the oracles replay. Covers sf0.001 plus hand-made
    rows with -0.0, float32-subnormal and large-magnitude
    components."""
    import numpy as np

    from spotify_pipeline_gcp_spark.operators import kernels
    from spotify_pipeline_gcp_spark.operators.similarity import _unit_vectors

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sub = float(np.float32(1e-45))  # smallest float32 subnormal
    big = float(np.finfo(np.float32).max)
    d = 64
    hand = [
        (-1, [-0.0] * (d - 1) + [1.0]),
        (-2, [sub] * d),
        (-3, [big] * d),
        (-4, [big, sub, -0.0, -big] + [0.25] * (d - 4)),
        (-5, [float(np.float32(3.0e-39)), -1.5e-3] * (d // 2)),
    ]
    df = emb.unionByName(spark.createDataFrame(hand, emb.schema))

    jvm = {
        r["id"]: [repr(x) for x in r["u"]]
        for r in _unit_vectors(df, "vec_id", "embedding").collect()
    }
    rows = df.collect()
    mat = kernels.unit_rows(kernels.matrix([r["embedding"] for r in rows]))
    ker = {
        r["vec_id"]: [repr(x) for x in u]
        for r, u in zip(rows, mat.tolist())
    }
    assert ker == jvm and len(jvm) == emb.count() + len(hand)


def test_ivfpq_encode_raw_bit_equal_jvm_unit(spark):
    """ivfpq_assign_encode_quant_blas(raw=True) — the kernel replaying
    _unit_vectors' chain on the raw corpus — must emit the identical
    (id, cid, codes) rows as the JVM-unit path (integer outputs, so
    bit-equality is plain row equality)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        ivfpq_assign_encode_quant_blas,
        kmeans_centroids_quant_on,
        pq_codebooks,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    cent = kmeans_centroids_quant_on(pts, k=4, n_iter=2)
    books = pq_codebooks(pts, m=4, d_sub=16, k_pq=8, n_iter=2)
    a = sorted(
        (r.id, r.cid, tuple(r.codes))
        for r in ivfpq_assign_encode_quant_blas(
            emb,
            cent,
            books,
            m=4,
            d_sub=16,
            id_col="vec_id",
            u_col="embedding",
            raw=True,
        ).collect()
    )
    b = sorted(
        (r.id, r.cid, tuple(r.codes))
        for r in ivfpq_assign_encode_quant_blas(
            pts, cent, books, m=4, d_sub=16
        ).collect()
    )
    assert a == b and len(a) == 150


def test_scan_bytes_est_guard_and_block_sizing(spark):
    # r15: the packed-BLAS block count derives from the optimizer's
    # file-backed size estimate — positive for (projections/filters
    # over) bare scans, None for derived frames (whose estimates can
    # be wrong by orders of magnitude), and the derived default never
    # changes output rows vs an explicit block count.
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _scan_bytes_est,
        cosine_topk_blas,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    est = _scan_bytes_est(emb)
    assert est is not None and est > 0
    # projections/filters keep the estimate; aggregates lose it
    assert _scan_bytes_est(emb.where(F.col("label") % 2 == 0)) is not None
    assert _scan_bytes_est(emb.groupBy("label").count()) is None
    # block count is a pure execution knob: derived default == any
    # explicit count, row for row (scores are integer-exact, so even
    # ties rank identically)
    small = emb.limit(60)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_blas(small, k=3).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_blas(small, k=3, n_blocks=11).collect()
    }
    assert want == got
