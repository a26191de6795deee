"""Embedding similarity search over ``array<float>`` columns.

Baseline: brute-force cosine top-k (exact). Scale path: bucketed
(sign-quantized) search that prunes the candidate space before any
dot product — the IVF/LSH shape where candidate generation is an
equi-join on a coarse code.

All arithmetic is built-in higher-order functions (``zip_with`` +
``aggregate``) on doubles, JVM-side codegen: a left-to-right fold
matching ANSI-SQL ``list_dot_product`` semantics exactly, so results
are oracle-checkable bit-for-bit. A distributed block-matmul BLAS
path is the drop-in replacement where throughput demands it (see
``cosine_topk_blas``); at 64 dims the codegen fold is competitive.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import math
import operator
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators import kernels
from spotify_pipeline_gcp_spark.operators.dedup import _derived_nodes, _row_count
from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers


# Trainer loops run with AQE ON, like every other path (r15 revert of
# the r14 ``_no_aqe`` scoping). r14 scoped AQE off inside the Lloyd
# loops to save 3-5 scheduler rounds per iteration (a win on the r14
# builder box, ~0.1 s fixed latency per job) — but with AQE off every
# trainer shuffle runs at the raw ``spark.sql.shuffle.partitions``
# (= cores) instead of coalescing to the handful of tasks the
# sample-sized frames need, and the driver's r14 bench regressed the
# whole family 21-41% (qs8 0.59x, qs10 0.72x, qs7 0.74x, qs11 0.79x)
# on a box ~20% FASTER than r13's. The r15 same-box isolation A/B
# (OPTIMIZATION_r15.md section 1, sf0.1, warmup + min-of-3, fresh
# session per variant) confirmed AQE-on wins at 32 cores and costs nothing at 8:
#   32c total: _no_aqe 25.24 s | AQE on 21.09 s | _no_aqe+parts=4 22.03 s
#     (qs7 4.05->3.07, qs8 3.28->2.29, qs10 2.97->2.50, qs11 5.63->4.00)
#   8c total:  _no_aqe 25.54 s | AQE on 25.62 s (noise-level)
# Worker-BLAS pinning (OPENBLAS_NUM_THREADS=1) was A/B'd in the same
# sweep and is SHARPLY worse (32c total 38.18 s): this numpy links
# OpenBLAS MAX_THREADS=2 and the 2-thread dgemm is a real win per
# kernel batch — rejected. Outputs are bit-identical under either AQE
# setting by the trainers' determinism contract (per-row fold dots,
# commutative struct-max argmax, quantized-integer cell sums).


def _dot(a: Column, b: Column) -> Column:
    """In-order double-precision dot product of two float arrays.

    Left-fold accumulation — bitwise-identical to an ANSI
    ``list_dot_product`` loop. NOTE: Spark's higher-order functions
    are CodegenFallback (interpreted per element), so this kernel is
    CPU-bound at ~10^5 dots/core/s; it is the *exactness* path. The
    throughput path is the BLAS kernel in ``cosine_topk_blas``.
    Callers on hot pair-joins should pre-cast vectors to
    ``array<double>`` once (see ``_double_base``) so the per-pair
    lambda does multiply-add only.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_pre(a: Column, b: Column) -> Column:
    """Dot product over pre-cast ``array<double>`` columns (no per-pair
    casts; ~30% faster in the interpreted HOF evaluator).

    Measured dead end (r8): unrolling a d=64 dot into 64 scalar
    ``element_at(a,i)*element_at(b,i)`` terms is 9× SLOWER than this
    fold (6.4e7 pairs: 17 s fold vs 152 s unrolled, identical sums) —
    the 128-element_at expression tree falls out of whole-stage
    codegen while the HOF fold runs one tight specialized loop.
    Unrolling only wins at SMALL static term counts (the m=8 ADC sum
    in ``cosine_topk_ivfpq``: 2.5 s unrolled vs 5.6–7.5 s zip_with on
    the same pair count). Keep d-dimensional dots on this fold; the
    throughput path remains the BLAS kernel."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _double_base(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, v: array<double>, norm) — cast + norm computed once per
    vector, before any pair join multiplies the row count.

    The scan is REPARTITIONED to full cluster width first (r8): the
    embeddings parquet splits into few, large input partitions
    (13 × ~9 MB at the 100× ladder point under 128 MB
    maxPartitionBytes), and every downstream interpreted-fold
    pipeline — assignment scoring, encode, pair scoring — FUSES into
    that stage, capping the engine's hottest CPU work at the scan's
    split count (measured: the dominant qs19 stage ran 727 s on 13
    of 32 cores). One linear n-row exchange here buys full-width
    parallelism for every fold stage above it; the explicit
    partition NUMBER keeps AQE from coalescing the exchange back
    down (vector bytes per partition are small — the cost downstream
    is CPU per row, which AQE's size heuristic cannot see)."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        df.repartition(n_part)
        .select(F.col(id_col).alias("id"), vd.alias("v"))
        .withColumn("norm", F.sqrt(_dot_pre(F.col("v"), F.col("v"))))
    )


# Target ON-SCAN bytes per packed BLAS block (r15, VERDICT r14 #3).
# One block is ONE ``collect_list`` row, so block bytes must stay
# bounded as the collection grows — a cores-derived block COUNT
# makes block SIZE grow linearly with n (unbounded at 100 TB). The
# 32 MB target bounds the packed cell, its shuffle record and its
# Arrow transfer, and the same figure bounds the kernel's float64
# score slab: a combo of two blocks would be a (rows_q x rows_d)
# matrix, quadratic in block rows (two 32 MB d=64 blocks, ~131 k rows
# each, would make a ~137 GB one), so ``kernels.topk_tiled`` scores
# query rows in tiles of at most this many slab bytes. A single row
# wider than the budget (a block past ~4 M rows) is still one tile.
_BLAS_BLOCK_BYTES = 32 << 20

# Scored rows per task before ``_widen_for_scoring`` widens a
# broadcast-scored point stream (~60 MB of struct-max sorter input).
_SCORED_ROWS_PER_TASK = 1_500_000


def _scan_bytes_est(df: DataFrame) -> int | None:
    """Optimizer-estimated input bytes for BLAS block sizing, ONLY
    when the plan is projections/filters over leaf relations (the
    ``_derived_nodes`` guard ``_sizing_count`` uses): there the
    estimate is backed by real file sizes, while derived plans (joins,
    aggregates, generates) carry estimates wrong by orders of
    magnitude in either direction — and a wrong block count costs B^2
    useless combos or an OOM-sized block. Returns None for derived
    frames; callers fall back to the cores floor (and can pass the
    block count explicitly). No job runs: statistics come from the
    file index."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if _derived_nodes(plan):
        return None
    return int(plan.stats().sizeInBytes())


def _derive_n_sub(df: DataFrame, n_cells: int) -> int:
    """Id-hash sub-splits per cell for the packed BLAS paths: the
    EXPECTED cell carries ``scan_bytes / n_cells``, so ``ceil(that /
    _BLAS_BLOCK_BYTES)`` keeps the average packed block near the
    target at any corpus size (1 for small inputs and for derived
    frames, which have no file-backed estimate). The split assumes
    the expected cell size: a skewed k-means cell or a hot sign
    bucket far above it is NOT bounded by ``n_sub`` (hot sign buckets
    are ``max_bucket``'s job; k-means cells have no cap). Output rows
    are invariant: every (query, neighbor) pair still meets in
    exactly one q-sub × d-sub combo of their shared cell, and the
    rank window is global."""
    est = _scan_bytes_est(df)
    return max(1, math.ceil(est / n_cells / _BLAS_BLOCK_BYTES)) if est else 1


def _cell_combos(asg: DataFrame, keys: list[str], n_sub: int = 1) -> DataFrame:
    """(q_items, d_items) block pairs that score every cell of ``asg``
    (id, v, *keys) against ITSELF — one packed ``collect_list`` row
    per cell (the cell IS the block, no candidate join), or with
    ``n_sub`` > 1 one row per (cell, id-hash sub) joined to the
    same cell's subs: n_sub² block pairs per cell."""
    if n_sub > 1:
        asg = asg.withColumn("sub", F.pmod(F.xxhash64("id"), F.lit(n_sub)))
        packed = asg.groupBy(*keys, "sub").agg(
            F.collect_list(F.struct("id", "v")).alias("items")
        )
        return (
            packed.alias("a")
            .join(packed.alias("b"), [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys])
            .select(F.col("a.items").alias("q_items"), F.col("b.items").alias("d_items"))
        )
    packed = asg.groupBy(*keys).agg(F.collect_list(F.struct("id", "v")).alias("items"))
    return packed.select(F.col("items").alias("q_items"), F.col("items").alias("d_items"))


def _fold_topk(pts: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the exact-fold top-k of an
    assigned point frame scored against ITSELF — the fold counterpart
    of ``_cell_combos`` + ``_blas_topk_from_combos``, and the one
    candidate/score/rank block every fold ANN path runs.

    ``pts`` is (id, u | v + norm, cells…, probe_rank…): ``u`` scores
    as the fold dot of unit vectors, ``v``/``norm`` as dot / (norm ·
    norm); columns named ``probe_rank…`` are probe ranks and every
    other column is a cell key. The self-join pairs points sharing
    all cells, drops self-pairs and keeps database rows at probe rank
    1 — inside the join condition, so both sides stay ONE subplan
    and, behind a caller's cell repartition, ReuseExchange scores the
    probe table once. ``cosine`` is ``fixed(cosine, 6)``, the value
    the oracles replay, ranked by (cosine desc, neighbor_id).

    The frame's shape picks the window:
    - no cells: one ``query_id`` window (exact all-pairs);
    - cells, one probe: a cell-local (cells…, query_id) window — all
      of a query's candidates share its cell, so the rank is global,
      and the join's cell partitioning satisfies the window: the
      candidate stream is never re-exchanged on query_id and
      WindowGroupLimit prunes during the local sort (r8);
    - cells and probe ranks: two-level top-k — the per-(cell, query)
      top-k with no exchange, then a global re-rank over ≤ nprobe·k
      rows per query. Each (query, neighbor) pair exists once (the
      neighbor's single rank-1 cell), so this equals the direct
      ``query_id`` window."""
    from pyspark.sql import Window as W

    from spotify_pipeline_gcp_spark.queries.compat import fixed

    ranks = [c for c in pts.columns if c.startswith("probe_rank")]
    cells = [c for c in pts.columns if c not in ("id", "u", "v", "norm", *ranks)]
    cond = functools.reduce(
        operator.and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in cells]
        + [F.col(f"b.{c}") == F.lit(1) for c in ranks]
        + [F.col("a.id") != F.col("b.id")],
    )
    if "u" in pts.columns:
        cos = _dot_pre(F.col("a.u"), F.col("b.u"))
    else:
        cos = _dot_pre(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    pairs = pts.alias("a").join(pts.alias("b"), cond).select(
        *[F.col(f"a.{c}").alias(c) for c in cells],
        F.col("a.id").alias("query_id"),
        F.col("b.id").alias("neighbor_id"),
        fixed(cos, 6).alias("cosine"),
    )
    order = (F.col("cosine").desc(), F.col("neighbor_id"))
    keys = [*cells, "query_id"]
    if cells and ranks:
        w_cell = W.partitionBy(*keys).orderBy(*order)
        pairs = (
            pairs.withColumn("crank", F.row_number().over(w_cell))
            .where(F.col("crank") <= k)
            .drop("crank", *cells)
        )
        keys = ["query_id"]
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _raw_points(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v): the RAW vectors for a kernel that unit-normalizes them
    itself (``kernels.unit_rows``), behind the cluster-width
    repartition ``_double_base`` applies — the parquet scan splits
    into few large partitions, and a kernel fused into the scan stage
    would inherit them (r8's measured fix)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )


def _model_matrix(cent: DataFrame | list[tuple]):
    """(cids int64, C float64 k×d) from one O(k·d) centroid collect of a
    (cid, c) frame, or from driver-held (cid, c) rows with no job,
    rows in ascending cid order — so a kernel's argmax-first breaks
    ties to the lowest cid, the fold's ``max(struct(dot, -cid))``."""
    import numpy as np

    if isinstance(cent, DataFrame):
        cent = [(r["cid"], r["c"]) for r in cent.collect()]
    rows = sorted((int(cid), list(c)) for cid, c in cent)
    cids = np.asarray([cid for cid, _ in rows], dtype="int64")
    return cids, kernels.matrix([c for _, c in rows])


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm of the embedding column."""
    v = F.col(vec_col)
    return df.withColumn("norm", F.sqrt(_dot(v, v)))


def cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs cosine similarity (doc_a < doc_b) — the exact kernel.

    O(n²) by construction; used directly only on bounded sets (a
    candidate pool, one LSH bucket). ``cosine_topk`` / bucketed
    variants bound n before this kernel runs.
    """
    base = _double_base(df, id_col, vec_col)
    a, b = base.alias("a"), base.alias("b")
    cos = _dot_pre(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cos.alias("cosine"),
    )


def cosine_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest neighbors per vector by cosine (qs2).

    Brute force: n² dot products, then a ranking window partitioned
    by the query id (``_fold_topk`` with no cells); ``cosine`` is the
    fixed-point score. Correctness baseline for the bucketed variant.
    At scale, broadcast one side in blocks (the classic block-matmul
    layout) or switch to ``cosine_topk_bucketed``.
    """
    return _fold_topk(_double_base(df, id_col, vec_col), k)


def index_size_for(n_vectors: int, target_cell: int = 256) -> int:
    """Cells (buckets or k-means clusters) an ANN index needs so the
    average cell holds ~``target_cell`` vectors. THE scale knob for
    every fixed-partition ANN shape here: within-cell candidate pairs
    grow as n²/cells, so cells must grow WITH the corpus or the
    self-join quietly goes quadratic — measured at the 10x scale
    bench (SCALE_BENCH_r05: qs3 with its 16 buckets pinned for the
    oracle went x77 on x10 data; the same query auto-sized stays
    ~linear). Rule of thumb: cells = n / target_cell, target sized so
    one cell's vectors fit a task's memory (256 x 64 doubles ≈ 128 KB
    — far below any executor budget; at 100 TB keep cells ≲ a few
    thousand rows and let AQE split stragglers)."""
    return max(1, n_vectors // max(1, target_cell))


def sign_bits_for(n_vectors: int, target_bucket: int = 256) -> int:
    """Sign-bucket bit count so the average bucket holds
    ~``target_bucket`` vectors (see ``index_size_for``), clamped to
    32 bits — ``1 << j`` must stay far from the BIGINT sign on both
    engines, and compat.SIZED_BITS_SQL bakes the same ``least(32,…)``
    into every oracle replay. The clamp lives HERE (not at call
    sites) so the Python sizing and the SQL replay cannot disagree:
    a pre-r10 caller that forgot its own ``min(32, …)`` would have
    silently drifted from the oracle at very large n."""
    return min(
        32, max(1, math.ceil(math.log2(index_size_for(n_vectors, target_bucket))))
    )


# Hot-bucket cap for every SIGN-BUCKET self-join: buckets holding more
# than this many vectors are DROPPED from candidate generation — the
# embedding-side analogue of qd3b's ``max_shingle_df`` posting cap and
# qd9b's ``max_bucket`` band cap. ``sign_bits_for`` right-sizes the
# AVERAGE bucket (~256) but sign bits are data-correlated, not hashed:
# a dense region keeps one bucket at a constant fraction of n no
# matter how many bits are added (r9's 1000x rung measured a 3,264-row
# max bucket at 13 bits — and sub-splitting to all 64 sign bits still
# left ~1,000-row sign-TIED groups), and one such bucket contributes
# size²/2 candidate pairs ON ONE REDUCER. The cap bounds worst-case
# candidate volume at cap·n/2 — linear by construction — at the
# standard LSH recall trade: pairs inside a dropped mega-bucket are
# not scored (boilerplate-dominated regions where near-dup signal is
# weakest). 4096 = 16x the target bucket: it binds ONLY on
# pathological skew, never at driver scale (sf0.01/sf0.1 corpora are
# ≤ 2,000 vectors total, so oracle-checked outputs are unchanged),
# and every oracle replays it via compat.SIZED_BUCKET_CAP_SQL.
MAX_SIGN_BUCKET = 4096


def drop_hot_buckets(
    base: DataFrame, max_bucket: int = MAX_SIGN_BUCKET, bucket_col: str = "bucket"
) -> DataFrame:
    """Remove rows in over-cap buckets before a bucketed self-join.

    One combinable groupBy (partial map-side agg → ~n_buckets rows)
    finds the hot bucket ids; the anti-join back is broadcast (the
    hot set is tiny by construction — at most n/cap ids). Cost: one
    extra scan of the (id, bucket) projection; payoff: the self-join
    is worst-case linear instead of worst-case quadratic."""
    hot = (
        base.groupBy(bucket_col)
        .count()
        .where(F.col("count") > max_bucket)
        .select(bucket_col)
    )
    return base.join(F.broadcast(hot), bucket_col, "left_anti")


def trained_cells_for(n_vectors: int) -> int:
    """Cell count for a TRAINED quantizer: k = floor(sqrt(n)) — the
    classic IVF balance. ``index_size_for``'s cells = n/target is
    right only when partitioning is free (sign buckets): it keeps
    search linear (n·target candidates) but a TRAINER that scores
    every vector against every centroid then costs n·k = n²/target —
    quadratic. k = √n balances trainer (n^1.5) against within-cell
    search (n²/k = n^1.5), the standard FAISS/IVF sizing. Computed
    as floor of the IEEE double sqrt so an SQL oracle running
    ``floor(sqrt(count(*)))`` reproduces it bit-for-bit."""
    return max(1, math.floor(math.sqrt(n_vectors)))


def imi_cells_for(n_vectors: int) -> int:
    """PER-QUANTIZER cell count for a two-level inverted MULTI-index
    (IMI, Babenko & Lempitsky 2012), sized for LINEAR search:
    k_each = ceil(sqrt(n/256)), so the PRODUCT grid has k_each² ≈
    n/256 cells and the average cell holds ~256 vectors — the same
    per-cell budget ``sign_bits_for`` gives the hash buckets. This is
    what makes the IMI the TRAINED index for the all-corpus self-join
    at scale: within-cell candidates stay ~256·n (linear, like qs13),
    while the product decomposition cuts quantizer cost to
    2·k_each = 2·√(n/256) scorings per vector — n^1.5/8 total, still
    Θ(n^1.5) asymptotically but with a 1/16 constant vs the
    single-level alternatives: a flat quantizer with n/256 cells
    would pay n²/256 in assignment, and the classic √n-cell IVF
    (``trained_cells_for``, qs14/qs16) pays n·√n in SEARCH on a
    self-join. (The retired k_each = n^(1/4) sizing was the shape
    whose assignment was O(n^1.25); the search-sized grid trades
    that back for linear search, which dominates on the self-join.) (Before r7 this
    returned n^(1/4): a √n-cell grid matching qs14's search cost; the
    search-sized grid replaces it because the self-join is exactly
    where an n^1.5 SEARCH term hurts.) Computed as ceil of the IEEE double sqrt
    of n/256.0 (an exact power-of-two division) so an SQL oracle
    running ``ceil(sqrt(count(*) / 256.0))`` reproduces it
    bit-for-bit. Clamped ≥2: a 1×1 grid is no index."""
    return max(2, math.ceil(math.sqrt(n_vectors / 256.0)))


def sign_bucket(vec_col: str, n_bits: int = 4) -> Column:
    """Coarse quantization code: sign bits of the first ``n_bits``
    components. A deterministic stand-in for trained IVF centroids —
    the partitioning shape is identical (code = cluster id).

    ``n_bits`` is a SCALE knob, not a constant: fix it and the
    within-bucket self-join grows n²/2^bits — size it with
    ``sign_bits_for`` (registered queries pin small values only so
    their oracles replay byte-identically at every sf)."""
    code = F.lit(0)
    for j in range(n_bits):
        code = code + F.when(
            F.element_at(F.col(vec_col), j + 1).cast("double") > 0.0,
            F.lit(2**j),
        ).otherwise(F.lit(0))
    return code.cast("long")


def cosine_topk_bucketed(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the same sign-bucket.

    The scale path: bucketing turns the n² join into per-bucket
    blocks (equi-join on the code), cutting candidate volume by
    ~2^n_bits for balanced buckets. Recall loss is the standard ANN
    trade; probe more buckets (multi-probe) to recover it. With
    trained coarse centroids this is exactly IVF-flat (qs3). Ranking is
    cell-local (``_fold_topk``): at the 100× ladder point that saves
    a query_id exchange of the entire candidate set (~256·n rows).
    """
    base = _double_base(df, id_col, vec_col).withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    return _fold_topk(base, k)


def cosine_topk_multiprobe(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """Multi-probe bucketed top-k: each query probes its own sign
    bucket AND every bucket at Hamming distance 1 (one sign bit
    flipped). Vectors near a quantization boundary sit in a
    neighboring cell; probing adjacent cells recovers most of the
    recall single-probe (qs3) loses, at (n_bits+1)× candidate cost —
    still ~2^n_bits/(n_bits+1) cheaper than brute force. This is the
    standard multi-probe LSH refinement; with trained centroids it is
    IVF nprobe>1 (qs5). Probes are generated by exploding XOR-flipped
    codes into ranked probe rows — rank 1 is the vector's own bucket,
    the one the database side keeps — so candidate generation stays a
    pure equi-join on the probe code, ranked by ``_fold_topk``'s
    two-level top-k.
    """
    base = _double_base(df, id_col, vec_col).withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    probe_codes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)],
    )
    probes = base.select(
        "id", "v", "norm", F.posexplode(probe_codes).alias("pos", "bucket")
    ).select(
        "id", "v", "norm", "bucket", (F.col("pos") + 1).alias("probe_rank")
    )
    return _fold_topk(probes, k)


def cosine_topk_blas(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k with a distributed block-matmul BLAS
    kernel — no driver collect, no whole-collection broadcast.

    Layout: the collection is hashed into ``n_blocks`` packed rows
    (one ``collect_list`` of (id, vector) per block), the packed
    table is cross-joined with itself (B² combo rows), and an Arrow-
    batched NumPy kernel computes each block×block slab as one matrix
    multiply, emitting a per-(query, block) partial top-k. A final
    ranking window merges partials into the global top-k — correct
    because every global neighbor is in some block's partial top-k.

    Scale accounting: shuffled bytes = 2·B·|collection| (each block
    participates in B combos). The default B (r15) is sized from DATA
    VOLUME — ``max(√(2·cores) floor, scan_bytes / _BLAS_BLOCK_BYTES)``
    — so B grows linearly with the collection, one packed block (one
    ``collect_list`` row, shuffle record and Arrow cell) stays near
    the 32 MB target, and the driver never touches vector data: the
    standard parallel dense GEMM decomposition. The kernel scores a
    combo in query-row tiles, so its float64 score slab stays within
    the same budget (see ``_BLAS_BLOCK_BYTES``). Block count changes
    no output row (every pair meets in exactly one combo; the rank
    merge is global), so the sizing is a pure execution knob. Compose with ``sign_bucket``
    (qs3) when n² slabs are no longer affordable at all and
    approximate recall is acceptable.

    Tie-break matches ``cosine_topk``: (cosine desc, neighbor_id).
    Scoring is QUANTIZED-EXACT: the packed blocks carry the RAW
    float32 embeddings (half the shuffle/Arrow bytes of float64 unit
    vectors); the kernel widens them (exact), replays
    ``_unit_vectors``'s normalize bit-exactly (``kernels.unit_rows``),
    rounds at ``_ASSIGN_QSCALE``, and the dgemm computes integer dots
    that are exact in float64 under ANY accumulation order (d=64 dot
    ≤ 2^46 < 2^53). The emitted ``cosine`` is the fixed-point value
    qdot / 2^40 — a dyadic rational both engines represent exactly —
    so the query is HASH-VERIFIABLE by a DuckDB oracle replaying the
    same quantized dots (the qs19b build discipline applied to
    search). ``cosine_topk`` is the raw-float exact-fold twin.
    """
    if n_blocks is None:
        # B² combos saturate the cluster already at B ≈ √(2·cores);
        # replication cost (2·B·|collection|) and per-combo unpack
        # overhead both grow linearly in B, so the FLOOR is the
        # smallest B that keeps every core busy. The DATA term (r15):
        # B ≥ scan_bytes / _BLAS_BLOCK_BYTES keeps one block (= one
        # collect_list row) near the target as n grows, computed from
        # the optimizer's file-backed stats instead of left to the
        # caller. max() of the two: small collections keep every core
        # busy, large collections keep packed blocks bounded. Derived
        # frames (no stats) keep the cores floor — pass ``n_blocks``
        # explicitly there.
        cores = df.sparkSession.sparkContext.defaultParallelism
        est = _scan_bytes_est(df)
        n_blocks = max(
            4,
            math.ceil(math.sqrt(2 * cores)),
            math.ceil(est / _BLAS_BLOCK_BYTES) if est else 0,
        )
    packed = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    combos = packed.select(
        F.col("items").alias("q_items")
    ).crossJoin(packed.select(F.col("items").alias("d_items")))
    return _blas_topk_from_combos(combos, k, raw=True)


def _blas_topk_from_combos(combos: DataFrame, k: int, raw: bool) -> DataFrame:
    """Shared BLAS tail: score each (q_items, d_items) block pair with
    ``kernels.topk_tiled`` — NumPy matmuls over query-row tiles whose
    float64 score slab stays within ``_BLAS_BLOCK_BYTES``, emitting the
    per-(query, block) partial top-k — then merge partials with a
    ranking window — correct because every global neighbor appears in
    some block's partial top-k.

    Scoring is quantized-exact: rows are rounded at ``_ASSIGN_QSCALE``
    and the exact integer dot is divided by QSCALE² — every emitted
    value is bit-exact against the SQL replay (see
    ``cosine_topk_blas``). ``raw`` names the row form, and each
    caller sets it: True — the RAW float32 embeddings, which the
    kernel unit-normalizes itself, bit-identical to
    ``_unit_vectors`` (``kernels.unit_rows``); False — unit vectors
    the JVM fold already normalized (qs8's fold-assigned cells)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import Window as W

    ensure_package_on_workers(combos.sparkSession)
    q2 = float(_ASSIGN_QSCALE) ** 2

    def _unpack(items):
        ids, mat = kernels.unpack(items)
        return ids, kernels.quantize(kernels.unit_rows(mat) if raw else mat)

    def kernel(batches):
        for batch in batches:
            parts = [(np.zeros(0, "int64"), np.zeros(0, "int64"), np.zeros(0))]
            for q_items, d_items in zip(batch.column("q_items"), batch.column("d_items")):
                q_ids, qm = _unpack(q_items.values)
                d_ids, dm = _unpack(d_items.values)
                parts.append(
                    kernels.topk_tiled((qm, dm), q_ids, d_ids, k, _BLAS_BLOCK_BYTES)
                )
            q, d, s = (np.concatenate(c) for c in zip(*parts))
            # qdot / 2^40 — exact (power-of-two scaling of an
            # integer-valued float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(q), pa.array(d), pa.array(s / q2)],
                names=["query_id", "neighbor_id", "cosine"],
            )

    partials = combos.mapInArrow(
        kernel, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return partials.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def cosine_topk_bucketed_blas(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
    n_sub: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """IVF-with-BLAS: the production ANN shape. Candidate pruning from
    ``cosine_topk_bucketed`` (sign-bucket code ≈ IVF cluster id) +
    the Arrow/NumPy matmul kernel from ``cosine_topk_blas`` — each
    bucket packs into one block row and scores against ITSELF, so
    candidate generation needs no join at all (the bucket IS the
    block) and total FLOPs drop ~2^n_bits vs brute force while each
    FLOP runs at BLAS speed instead of the interpreted fold.

    ``n_sub`` sub-splits each bucket by id-hash into n_sub² block
    pairs for when one cluster outgrows a task (skewed clusters are
    exactly the salting problem — n_sub is the salt). Default (None):
    derived from data volume by ``_derive_n_sub`` over the 2^n_bits
    buckets. Outlier buckets far above the expectation are
    ``max_bucket``'s job, not n_sub's. Recall == single-probe
    bucketing (qs3) by construction; compose with the multi-probe
    trick (qs5) for boundary recall.

    Scoring is quantized-exact over the raw float32 packing (see
    ``cosine_topk_blas``), hash-verifiable; the fold twin (qs3) is
    the raw-float exactness baseline. Sign buckets are computed on
    the RAW embedding — identical codes, since sign(u_i) == sign(v_i),
    and the oracles replay raw-sign buckets.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", sign_bucket("v", n_bits))
    if max_bucket is not None:
        # the sized shape's hot-bucket cap (qs13's r10 move): a dense
        # region's bucket is dropped BEFORE packing, which bounds both
        # the candidate volume (cap·n) and the per-task score matrix
        # (≤ cap² × 8 B transient) — without it one mega-bucket block
        # is a quadratic dgemm on one task
        base = drop_hot_buckets(base, max_bucket)
    if n_sub is None:
        n_sub = _derive_n_sub(df, 1 << n_bits)
    return _blas_topk_from_combos(_cell_combos(base, ["bucket"], n_sub), k, raw=True)


def sign_bucket_pairs_blas(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup PAIRS (id_a < id_b, cosine_q >= threshold) with one
    integer dgemm per sign bucket — the throughput twin of the
    fold-scored bucketed pair self-join (qd7b's shape).

    Same candidate space as the self-join: auto-sized sign buckets
    (``sign_bits_for`` — avg ~256 members at any scale), hot buckets
    dropped (``MAX_SIGN_BUCKET`` — worst-case candidates linear). But
    instead of an equi-join that re-materializes both sides and
    scores each pair with an interpreted HOF fold (measured 177 s of
    qd7b's 199 s at the 5 M-doc rung), each bucket packs into ONE row
    (``collect_list`` — bounded by the cap, ≤4096×d doubles) and an
    Arrow-batched NumPy kernel scores the whole bucket against itself
    as a single matmul: candidate generation needs no join at all —
    the bucket IS the block — and every FLOP runs at BLAS speed.

    Scoring is QUANTIZED-EXACT (the qs4/qs26 discipline, see
    ``cosine_topk_blas``): the packed buckets carry the RAW float32
    embeddings — sign buckets are computed on the raw vector
    (identical codes: sign(u_i) == sign(v_i), and the oracle replays
    raw-sign buckets) and the kernel replays ``_unit_vectors``'s
    normalize bit-exactly (``kernels.unit_rows``) before quantizing,
    so the JVM never materializes unit vectors (two transient
    array<double> per row) and the packing shuffle + Arrow boundary
    carry HALF the bytes. The kernel rounds at ``_ASSIGN_QSCALE`` and
    the dgemm's integer dots are exact in float64 under any
    accumulation order (d=64 dot ≤ 2^46 < 2^53). Emitted
    ``cosine_q`` = qdot / 2^40 — a dyadic rational both engines
    represent exactly — so the threshold cut and every value are
    hash-verifiable by a DuckDB oracle replaying the same quantized
    dots. The 2^-20 quantization moves only pairs within ~1e-6 of
    the threshold, identically in every engine; the fold twin (qd7b)
    remains the raw-float exactness anchor.

    Per-task memory: one bucket's score matrix ≤ cap² × 8 B
    (134 MB transient at the 4096 cap, freed per bucket; typical
    buckets are ~256 → ~0.5 MB). At 100 TB the packed-bucket table
    is n/256 rows of ~128 KB — the same accounting as the IVF-BLAS
    search kernels.
    """
    import numpy as np
    import pyarrow as pa

    if n_bits is None:
        n_bits = sign_bits_for(_row_count(df) if n_docs is None else n_docs)
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", sign_bucket("v", n_bits))
    packed = drop_hot_buckets(base).groupBy("bucket").agg(
        F.collect_list(F.struct("id", "v")).alias("items")
    )
    ensure_package_on_workers(df.sparkSession)
    q2 = float(_ASSIGN_QSCALE) ** 2

    def kernel(batches):
        for batch in batches:
            parts = [(np.zeros(0, "int64"), np.zeros(0, "int64"), np.zeros(0))]
            for items in batch.column("items"):
                if len(items.values) < 2:
                    continue
                ids, mat = kernels.unpack(items.values)
                qm = kernels.quantize(kernels.unit_rows(mat))
                sims = (qm @ qm.T) / q2
                iu, ju = np.triu_indices(len(ids), k=1)
                keep = sims[iu, ju] >= threshold
                ia, ib = ids[iu[keep]], ids[ju[keep]]
                # bucket member order is collect_list order, not id
                # order — normalize each pair to (min, max) by VALUE
                parts.append(
                    (np.minimum(ia, ib), np.maximum(ia, ib), sims[iu[keep], ju[keep]])
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(c)) for c in zip(*parts)],
                names=["id_a", "id_b", "cosine_q"],
            )

    return packed.mapInArrow(
        kernel, schema="id_a long, id_b long, cosine_q double"
    )


# Fixed-point scale for deterministic distributed mean aggregation:
# quantizing each component to round(val * 1e9) makes the per-cell sum
# an INTEGER sum, which commutes exactly — the aggregate is map-side
# combinable and partition-order-independent, unlike a float sum whose
# result shifts at ulp level with partial-aggregation order. |val| <= 1
# (unit vectors), so a BIGINT sum holds ~9.2e9 members per cell before
# overflow; the 5e-10 quantization error on the mean is far below the
# 1e-6 fixed-point rounding every oracle output applies.
_QSCALE = 10**9


def _cell_means(
    assigned: DataFrame, group_col: str | list[str] = "cid"
) -> DataFrame:
    """(group_col, mv: array<double>, n): per-cell mean vectors via a
    fully distributed positional aggregate.

    Shape: ``posexplode(u)`` → ``groupBy(group, pos)`` quantized-long
    sums (map-side combinable — the shuffle carries k·d·partitions
    partial rows, never member vectors) → per-group re-assembly of the
    d means ordered by position. No row ever holds more than d scalars,
    so a cell with 10^9 members costs the same per-row memory as one
    with 10 — this replaces the previous ``sort_array(collect_list(u))``
    row-local fold, which packed every member vector of a cell into ONE
    aggregation row (n/k × d doubles: an OOM at 100× scale).

    Determinism/oracle parity: both engines compute
    ``sum(floor(val*1e9 + 0.5)::BIGINT)`` — identical IEEE multiply/
    add/floor per element, then exact integer addition in any order —
    so the means are bitwise-reproducible and replayable in ANSI SQL
    (DuckDB: positional unnest + BIGINT sums + ``list(... ORDER BY
    pos)``).
    """
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    expl = assigned.select(*gcols, F.posexplode("u").alias("pos", "val"))
    qsums = expl.groupBy(*gcols, "pos").agg(
        F.sum(
            F.floor(F.col("val") * F.lit(float(_QSCALE)) + F.lit(0.5))
        ).alias("qsum"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("qsum").cast("double") / (F.lit(float(_QSCALE)) * F.col("n"))
    return (
        qsums.withColumn("mean", mean)
        .groupBy(*gcols)
        .agg(
            # d scalar structs per group — O(d) row width, sorted by the
            # unique pos so assembly order is deterministic
            F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"),
            F.max("n").alias("n"),
        )
        .select(
            *gcols,
            F.transform("pm", lambda s: s["mean"]).alias("mv"),
            "n",
        )
    )


def label_centroids_wide(
    df: DataFrame, group_col: str, vec_col: str, dim: int
) -> DataFrame:
    """(group_col, mv: array<double>, n): per-group mean of the
    group's UNIT vectors — ``_cell_means``' quantized positional
    aggregate fused into ONE wide groupBy for a statically known
    dimension (the embedding dim is part of the data contract, so
    ``dim`` sibling sum columns are available at plan time — the same
    wide-aggregation trick ``simhash`` uses for its per-bit sums).

    vs the posexplode shape: normalization happens inline per element
    (``v[j]/norm`` — no second scan building a unit-vector array),
    there is no d× row fan-out, and the single map-side-combinable
    aggregation shuffles one ``d+1``-scalar row per (partition,
    group) instead of d rows — one exchange instead of two. Row width
    is bounded by d (model property, never data volume), so the shape
    holds at any corpus scale; for very large or runtime-variable d,
    ``_cell_means``' positional shape is the generic fallback.

    Quantization is identical to ``_cell_means`` (per-element
    ``floor((v[j]/norm)*1e9 + 0.5)`` then exact BIGINT sums), so the
    result is bitwise-reproducible and replays in ANSI SQL unchanged.
    """
    base = _double_base(df, group_col, vec_col)
    qsums = [
        F.sum(
            F.floor(
                (F.element_at("v", j + 1) / F.col("norm"))
                * F.lit(float(_QSCALE))
                + F.lit(0.5)
            )
        ).alias(f"q{j}")
        for j in range(dim)
    ]
    agg = base.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *qsums)
    mv = F.array(
        *[
            F.col(f"q{j}").cast("double") / (F.lit(float(_QSCALE)) * F.col("n"))
            for j in range(dim)
        ]
    )
    return agg.select(
        F.col("id").alias(group_col), mv.alias("mv"), "n"
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: (id, scale_r,
    max_abs_err_r, mean_abs_err_r) — the storage/compute compression
    step every large vector corpus applies (4x smaller than float32,
    SIMD-friendly dot products), emitted with its reconstruction
    error so the recall cost is measured, not assumed.

    scale = max|v|/127 (zero vectors keep scale 1 to avoid 0/0);
    codes are ``floor(x/scale + 0.5)`` — explicit half-up, the
    engine-portable rounding this repo standardizes on — and errors
    are recomputed per element as ``|x - code*scale|``. Everything is
    a row-local array expression: no shuffle, no UDF; the mean error
    folds left-to-right so both engines accumulate identically."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))
    max_abs = F.array_max(F.transform(F.col("v"), F.abs))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    base = base.withColumn("scale", scale)
    err = F.transform(
        F.col("v"),
        lambda x: F.abs(
            x - F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale")
        ),
    )
    base = base.withColumn("err", err)
    mean_err = F.aggregate(
        F.col("err"), F.lit(0.0), lambda acc, e: acc + e
    ) / F.size(F.col("err"))
    return base.select(
        "id",
        F.col("scale").alias("scale_raw"),
        F.array_max("err").alias("max_abs_err_raw"),
        mean_err.alias("mean_abs_err_raw"),
    )


def _seeded_init(pts: DataFrame, k: int) -> DataFrame:
    """(cid, c): the k vectors ranked first by ``md5(id)`` — a seeded
    pseudo-random draw both engines compute identically. The global
    rank is taken with ``orderBy(...).limit(k)`` (TakeOrdered: per-
    partition top-k, then a k-row merge), NOT a row_number window over
    the full table — the window form single-partition-sorts all n rows.
    The residual window here orders only the k survivors."""
    from pyspark.sql import Window as W

    top = (
        pts.select("id", "u", F.md5(F.col("id").cast("string")).alias("ik"))
        .orderBy("ik", "id")
        .limit(k)
    )
    return (
        top.withColumn("rn", F.row_number().over(W.orderBy("ik", "id")))
        .select((F.col("rn") - 1).cast("long").alias("cid"), F.col("u").alias("c"))
    )


def _argmax_assign(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, u, cid): nearest centroid by fold dot product, ties →
    lowest cid. The argmax is a ``max(struct(dot, -cid))`` aggregate,
    NOT a ranking window: a struct max is partial-aggregable, so the
    n·k scored rows collapse map-side and the exchange carries one
    row per point instead of shuffling every (point × centroid) pair
    WITH its vector payload through a sort (measured ~25% off
    training wall-clock; at scale it is the difference between an
    O(n) and an O(n·k) shuffle of vector-width rows).

    The scored stream drops ``u`` BEFORE the aggregate and joins it
    back by id afterwards (r8): carrying the d-double payload through
    the n·k join→project→agg pipeline as a ``first(u)`` buffer made
    every scored row and every partial-agg buffer vector-width —
    measured 141 s vs 79 s for the u-free agg + join-back at the
    100× ladder point, with assignments verified identical row for
    row. The join shuffles n vector-width rows — the same volume the
    old agg exchange carried — so nothing gets heavier downstream."""
    best = (
        pts.crossJoin(F.broadcast(centroids))
        .select(
            "id", _dot_pre(F.col("u"), F.col("c")).alias("dot"), "cid"
        )
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("dot"), (-F.col("cid")).alias("ncid"))
            ).alias("best")
        )
        .select("id", (-F.col("best.ncid")).cast("long").alias("cid"))
    )
    return pts.join(best, "id").select("id", "u", "cid")


def _lloyd(
    pts: DataFrame,
    k: int,
    n_iter: int,
    m: int = 1,
    d_sub: int | None = None,
    spherical: bool = True,
    quant: bool = False,
) -> list[DataFrame]:
    """The one Lloyd loop every quantizer here trains with: ``m``
    (cid, c: array<double>) frames, sorted by cid — one per slice of
    the (id, u) points (``d_sub`` None: the whole vector, m = 1;
    otherwise m slices of ``d_sub``, trained jointly).

    Every step is deterministic AND engine-portable, so the trained
    model replays bit-for-bit as a finite ANSI-SQL CTE chain:

    - init: the k points ranked first by ``md5(id)`` (``_seeded_init``);
      the rank ignores the slice, so every slice seeds from the same k
      points' slices;
    - assign: argmax score per (slice, point), ties → lowest cid —
      ``max(struct(score, -cid))`` over a u-free scored stream joined
      back on (s, id) (``_argmax_assign`` has the shuffle accounting).
      The score is the fold dot (spherical), ``dot − ½‖c‖²`` (L2: the
      argmin Euclidean distance, ‖u‖² being constant per point), or,
      with ``quant``, the 2^20-quantized integer dot on the dgemm
      kernel (``assign_clusters_quant_blas``, whole vector only);
    - update: ``_cell_means`` grouped by (s, cid) — quantized-integer
      sums that commute exactly — then L2-renormalized (spherical:
      unit centroids for cosine/IP search) or kept as is (L2: PQ
      codewords approximate the subvector, magnitude included);
    - a FIXED ``n_iter`` (no convergence test). A centroid that wins
      no point has no mean and drops out of the next round.

    Degenerate input: a spherical cell whose members sum to the zero
    vector (say (1, 0) and (−1, 0) with k = 1) divides by a zero norm
    and the job aborts with ``DIVIDE_BY_ZERO`` (ANSI mode). The SQL
    oracles replay the same division, which DuckDB answers with NULL:
    the centroid comes back all-NULL and the next assignment over it
    raises (``list_dot_product`` rejects NULL elements), so both sides
    abort, with different errors. L2 keeps the zero codeword.

    The points persist (MEMORY_AND_DISK) for the loop — each round's
    collect is a separate job that would otherwise re-run the scan
    lineage (the reason MLlib's KMeans caches its input; at scale the
    trained set is a sample). Centroids — O(m·k·d) model state — go
    to the driver each round and are re-broadcast, which also keeps
    the plans flat."""
    from pyspark import StorageLevel

    def tag(col: str) -> list[Column]:
        if d_sub is None:
            return [F.lit(0).alias("s"), F.col(col)]
        slices = [F.slice(col, s * d_sub + 1, d_sub) for s in range(m)]
        return [F.posexplode(F.array(*slices)).alias("s", col)]

    def model_rows(model: DataFrame) -> list[tuple]:
        return [(r["s"], r["cid"], list(r["c"])) for r in model.collect()]

    spark = pts.sparkSession
    pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # seeded from the PERSISTED points: the unpersisted frame would
        # re-run _double_base's repartition for the seed alone
        cent = _seeded_init(pts, k).select("cid", *tag("c"))
        rows = None if n_iter else model_rows(cent)
        subs = pts.select("id", *tag("u"))
        for _ in range(n_iter):
            if quant:
                on, best = ["id"], assign_clusters_quant_blas(subs, cent)
            else:
                score = _dot_pre(F.col("u"), F.col("c"))
                if not spherical:
                    cent = cent.withColumn("cc", _dot_pre(F.col("c"), F.col("c")))
                    score = score - F.lit(0.5) * F.col("cc")
                ncid = (-F.col("cid")).alias("ncid")
                on, best = ["s", "id"], (
                    subs.join(F.broadcast(cent), "s")
                    .select("s", "id", "cid", score.alias("score"))
                    .groupBy("s", "id")
                    .agg(F.max(F.struct("score", ncid)).alias("best"))
                    .select(
                        "s", "id", (-F.col("best.ncid")).cast("long").alias("cid")
                    )
                )
            mv = F.col("mv")
            if spherical:
                norm = F.sqrt(_dot_pre(mv, mv))
                mv = F.transform(mv, lambda x: x / norm)
            means = _cell_means(subs.join(best, on), ["s", "cid"])
            rows = model_rows(means.select("s", "cid", mv.alias("c")))
            # the quantized kernel takes the driver-held rows as they are
            # (``_model_matrix``); a frame of them would be collected back
            # by one more job per round
            cent = (
                [(cid, c) for _, cid, c in rows]
                if quant
                else spark.createDataFrame(rows, "s int, cid long, c array<double>")
            )
    finally:
        pts.unpersist(blocking=False)
    return [
        spark.createDataFrame(
            sorted((cid, c) for s, cid, c in rows if s == i),
            "cid long, c array<double>",
        )
        for i in range(m)
    ]


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, u: array<double>) — L2-normalized vectors. Division by the
    fold-computed norm, element order preserved, so both engines (and
    every downstream dot product) see bitwise-identical unit vectors."""
    base = _double_base(df, id_col, vec_col)
    return base.select(
        "id", F.transform("v", lambda x: x / F.col("norm")).alias("u")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Trained IVF coarse quantizer: seeded spherical k-means over the
    unit vectors of ``df`` (``kmeans_centroids_on``). Returns (cid, c:
    array<double>) with unit-norm centroids; ``_lloyd`` states the
    determinism contract that makes it oracle-replayable."""
    pts = _unit_vectors(df, id_col, vec_col)
    return kmeans_centroids_on(pts, k=k, n_iter=n_iter)


def kmeans_centroids_on(pts: DataFrame, k: int, n_iter: int = 2) -> DataFrame:
    """Spherical ``_lloyd`` over a PRE-BUILT point frame (id, u:
    array<double>) — so quantizers train on derived views (digest
    samples for sample-trained IVF) with the same replayable steps.
    ``u`` need not be unit norm: assignment is argmax dot, equal to
    the cosine argmax once the centroids are unit."""
    return _lloyd(pts, k, n_iter)[0]


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, u, cid): nearest-centroid assignment by fold dot product
    over unit vectors (ties → lowest cid). Broadcast cross-join +
    partial-aggregable struct-max argmax (see ``_argmax_assign``) —
    n·k scored rows collapse map-side, never n², never sorted."""
    pts = _unit_vectors(df, id_col, vec_col)
    return _argmax_assign(pts, centroids)


# Fixed-point scale for QUANTIZED-EXACT assignment and search: integer
# dots exact in float64 under any accumulation order (see
# ``kernels.QSCALE``), so dgemm kernels stay hash-verified.
_ASSIGN_QSCALE = kernels.QSCALE


def _quantize_vec(col: Column) -> Column:
    """array<double> → array<long> via round-half-up at 2^20 — the
    floor(x*Q + 0.5) form every engine (Spark, DuckDB, NumPy)
    evaluates identically for all x."""
    return F.transform(
        col,
        lambda x: F.floor(
            x * F.lit(float(_ASSIGN_QSCALE)) + F.lit(0.5)
        ).cast("long"),
    )


def _qdot_exact(a: Column, b: Column) -> Column:
    """Integer dot product over quantized vectors — exact, order-free."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _argmax_assign_quant(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, u, cid): nearest centroid by QUANTIZED integer dot (ties →
    lowest cid) — ``_argmax_assign`` with ``_qdot_exact`` scores. Same
    u-free scored stream + struct-max + join-back shape (see that
    docstring for the shuffle accounting); the only change is that the
    score is an exact int64, so this fold form and the dgemm form
    (``assign_clusters_quant_blas``) are bit-identical by construction."""
    qc = centroids.select("cid", _quantize_vec(F.col("c")).alias("qc"))
    best = (
        pts.select("id", _quantize_vec(F.col("u")).alias("qu"))
        .crossJoin(F.broadcast(qc))
        .select("id", _qdot_exact(F.col("qu"), F.col("qc")).alias("qdot"), "cid")
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("qdot"), (-F.col("cid")).alias("ncid"))
            ).alias("best")
        )
        .select("id", (-F.col("best.ncid")).cast("long").alias("cid"))
    )
    return pts.join(best, "id").select("id", "u", "cid")


def assign_clusters_quant(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, u, cid): quantized-exact nearest-centroid assignment — the
    native-expression form, used where the input is delta/batch-sized
    (maintenance deltas, streaming micro-batches) so the JVM fold is
    cheap and no Python worker round-trip is warranted. Corpus-sized
    assignments route through ``assign_clusters_quant_blas`` — same
    scores bit-for-bit (see ``_ASSIGN_QSCALE``)."""
    pts = _unit_vectors(df, id_col, vec_col)
    return _argmax_assign_quant(pts, centroids)


def ivfpq_assign_encode_quant_blas(
    pts: DataFrame,
    cent: DataFrame,
    books: "list[DataFrame]",
    m: int,
    d_sub: int,
    id_col: str = "id",
    u_col: str = "u",
    raw: bool = False,
) -> DataFrame:
    """(id, cid, codes): the ENTIRE IVFPQ corpus-side build in ONE
    Arrow pass — coarse-cell assignment AND all m PQ code selections
    per batch, every score a quantized integer a dgemm computes
    bit-identically to the SQL replay (``_ASSIGN_QSCALE``). This is
    FAISS's ``index.add()`` shape: one pass over the vectors produces
    the full inverted-list entry. The previous staged build ran the
    assignment and a separate JVM-side encode aggregate as two more
    corpus passes plus an id join; at the 2 M / 4 g rung the encode's
    128 M-row struct-max SortAggregate and the join stacked enough
    retained heap on the trainer's to kill the executor — one fused
    kernel pass has no aggregate, no join, and no second scan.

    Code selection replays the L2 rule ``argmax(dot − ‖c‖²/2)`` in
    quantized form, ``argmax(2·qdot(u_s, c) − qdot(c, c))`` — a
    positive-scaled shift of the float rule, exact in int64/float64
    (|score| ≤ 2^45), ties → lowest code id (argmax-first over
    ascending ids = the SQL ``ORDER BY score DESC, cid``). The ADC
    serving tables stay float-trained and 1e9-quantized exactly as
    before — only WHICH code represents each subvector moves (by at
    most one quantization-boundary neighbor), and the oracle replays
    the same quantized selection.

    ``raw=True``: ``pts`` is the RAW table (``u_col`` names the raw
    embedding column) and the kernel unit-normalizes it bit-exactly
    itself (``kernels.unit_rows``) before quantizing — no JVM HOF
    normalize, float32 across Arrow; emitted (cid, codes) integers
    are bit-identical."""
    import numpy as np

    cids, C = _model_matrix(cent)
    C = kernels.quantize(C)
    subs = []
    for s in range(m):
        bids, Bq = _model_matrix(books[s])
        Bq = kernels.quantize(Bq)
        subs.append((bids, Bq, (Bq * Bq).sum(axis=1)))

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = kernels.matrix(pdf[u_col])
            U = kernels.quantize(kernels.unit_rows(V) if raw else V)
            cells = cids[np.argmax(U @ C.T, axis=1)]
            codes = np.empty((len(pdf), m), dtype="int64")
            for s, (bids, Bq, qcc) in enumerate(subs):
                Us = U[:, s * d_sub : (s + 1) * d_sub]
                codes[:, s] = bids[
                    np.argmax(2.0 * (Us @ Bq.T) - qcc[None, :], axis=1)
                ]
            yield pd.DataFrame(
                {"id": pdf[id_col], "cid": cells, "codes": codes.tolist()}
            )

    ensure_package_on_workers(pts.sparkSession)
    src = pts.select(
        F.col(id_col).alias(id_col), F.col(u_col).alias(u_col)
    )
    if raw:
        # the cluster-width repartition _double_base would have
        # applied — the fused n·(k + m·k_pq) kernel must not inherit
        # a few fat scan splits
        src = src.repartition(
            pts.sparkSession.sparkContext.defaultParallelism
        )
    return src.mapInPandas(_run, schema="id long, cid long, codes array<long>")


def kmeans_centroids_quant_on(
    pts: DataFrame, k: int, n_iter: int = 2
) -> DataFrame:
    """``kmeans_centroids_on`` with every round's assignment on the
    QUANTIZED dgemm kernel — the throughput trainer that stays
    hash-verified (the oracle chain replays quantized dots at every
    iteration). Used by the maintenance/IVFPQ-store builds, where the
    sample×k assignment (45k × 1414 cells at the 2 M rung) is the
    build cost the fold evaluator cannot afford; the fold trainer
    remains the form the qs7/qs14/qs16 oracle family replays."""
    return _lloyd(pts, k, n_iter, quant=True)[0]


def kmeans_centroids_quant(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """``kmeans_centroids`` on the quantized-throughput Lloyd loop
    (``kmeans_centroids_quant_on``)."""
    return kmeans_centroids_quant_on(
        _unit_vectors(df, id_col, vec_col), k=k, n_iter=n_iter
    )


def assign_clusters_quant_blas(
    pts: DataFrame,
    cent: DataFrame | list[tuple],
    id_col: str = "id",
    u_col: str = "u",
    raw: bool = False,
) -> DataFrame:
    """(id, cid): quantized-exact assignment at dgemm throughput — the
    BUILD-time kernel for n·k corpus routing that stays HASH-VERIFIED.
    Quantizes both sides at 2^20 and scores each Arrow batch as one
    float64 matmul; every score is an integer below 2^46, so the BLAS
    accumulation order cannot shift it (see ``_ASSIGN_QSCALE``) and
    the result is bit-identical to ``assign_clusters_quant``'s fold —
    unlike a raw-float dgemm (the r10 form this superseded), whose
    reordered accumulation flips near-ties at ulp level and forced
    consumers to rows-only. Ties break to the
    lowest cid (argmax-first over ascending-cid rows — the fold's
    ``max(struct(dot, -cid))`` order).

    ``raw=True``: ``pts`` is the RAW table (``u_col`` names the raw
    embedding column) and the kernel computes the unit vectors itself
    — bit-exactly replaying ``_unit_vectors`` (``kernels.unit_rows``)
    before quantizing. This removes the JVM HOF normalize (two
    transient array<double> allocations per corpus row — 182 s of GC
    in the 56 s manifest-build assignment stage at the 2 M rung) and
    ships float32 across Arrow instead of float64; it adds the
    cluster-width repartition ``_double_base`` would have applied,
    since the caller's ``_unit_vectors`` is skipped. The default
    unit-vector input serves the trainer ``kmeans_centroids_quant_on``,
    whose point frame is already unit vectors.

    ``cent`` is a (cid, c) frame or the same rows already held on the
    driver (``_lloyd``'s rounds), which the kernel takes with no job."""
    import numpy as np

    cids, C = _model_matrix(cent)
    C = kernels.quantize(C)

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = kernels.matrix(pdf[u_col])
            U = kernels.quantize(kernels.unit_rows(V) if raw else V)
            best = cids[np.argmax(U @ C.T, axis=1)]
            yield pd.DataFrame({"id": pdf[id_col], "cid": best})

    ensure_package_on_workers(pts.sparkSession)
    src = pts.select(
        F.col(id_col).alias(id_col), F.col(u_col).alias(u_col)
    )
    if raw:
        src = src.repartition(
            pts.sparkSession.sparkContext.defaultParallelism
        )
    return src.mapInPandas(_assign, schema="id long, cid long")


def cosine_topk_kmeans(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """IVF proper: top-k cosine neighbors with candidates restricted
    to the same TRAINED k-means cell — ``cosine_topk_bucketed`` with
    learned centroids instead of sign bits. Data-adaptive cells beat
    fixed sign-hyperplanes on clustered embeddings (recall at equal
    candidate volume); candidate generation stays a pure equi-join on
    the cluster id. Cosine over unit vectors = the fold dot product,
    so results stay oracle-checkable end-to-end, training included
    (qs7)."""
    cent = kmeans_centroids(df, id_col, vec_col, k=n_clusters, n_iter=n_iter)
    # hash-repartition by the join key: both self-join sides then
    # demand the SAME exchange, so ReuseExchange computes the
    # assignment subplan once (the same trick ngram_jaccard_pairs
    # uses on its posting list) — free at scale, where the equi-join
    # would shuffle on cid anyway
    asg = assign_clusters(df, cent, id_col, vec_col).repartition(F.col("cid"))
    return _fold_topk(asg, k_neighbors)


def cell_fill_report(
    centroids: DataFrame,
    n_old: DataFrame,
    n_new: DataFrame,
    expected: int,
) -> DataFrame:
    """Per-cell fill accounting shared by the self-contained qs22
    query and the manifest-backed maintainer, so both produce the
    IDENTICAL report schema/values: (cid, n_indexed, n_delta,
    n_total, overfull) where ``overfull = n_total > 2·expected`` —
    the integer-exact drift signal that the O(n) sample trainer
    should re-run. ``n_old``/``n_new`` are (cid, n_indexed) /
    (cid, n_delta) count frames; both joins are left from the k-row
    centroid table, so the report is index-sized (k ≈ √n rows) at
    any corpus size."""
    total = F.coalesce(F.col("n_indexed"), F.lit(0)) + F.coalesce(
        F.col("n_delta"), F.lit(0)
    )
    return (
        centroids.select("cid")
        .join(n_old, "cid", "left")
        .join(n_new, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n_indexed"), F.lit(0)).cast("long").alias(
                "n_indexed"
            ),
            F.coalesce(F.col("n_delta"), F.lit(0)).cast("long").alias(
                "n_delta"
            ),
            total.cast("long").alias("n_total"),
            (total > F.lit(2 * expected)).cast("long").alias("overfull"),
        )
    )


def write_index_manifest(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta: dict | None = None,
) -> None:
    """Persist the trained-IVF INDEX MANIFEST at build time — the
    stored state that makes recurring maintenance delta-proportional
    (the qd11 signature-store pattern, ``dedup.py:826``, applied to
    the ANN lifecycle): ``path/centroids`` holds the O(k·d) model,
    ``path/cells`` the per-cell ``n_indexed`` counts (k rows — the
    corpus-side accounting paid ONCE here, at build, where the n·k
    assignment pass is already being run to route vectors), and
    ``path/meta.json`` the sizing arithmetic (n, k, expected, plus
    caller extras) a maintainer needs to evaluate the overfull
    threshold without touching the corpus. FAISS deployments persist
    exactly this state between add-without-train loops; a 100 TB
    maintainer then pays O(|delta|·k) per batch instead of the ×149
    corpus recount the self-contained qs22 query measures. The
    staged write and atomic swap are ``_write_store``'s.

    Worker-side dependency: the corpus assignment routes through
    ``assign_clusters_quant_blas`` (``mapInPandas`` dgemm — bit-exact
    vs the SQL fold, see ``_ASSIGN_QSCALE``), so Python workers need
    NumPy/pandas/Arrow at build time; ``ensure_package_on_workers``
    ships this package. Callers with delta-sized corpora that must
    stay pure-JVM can assign via ``assign_clusters_quant`` and write
    the same layout."""
    # the ONE n·k pass in the manifest lifecycle — at 2 M × √n cells
    # the interpreted fold form is the >600 s build wall
    # (SCALE_BENCH_r10's qst7 timeout); quantized-exact dgemm scores
    # are bit-identical to the fold, so routing the build through
    # BLAS keeps the drained report hash-verified (_ASSIGN_QSCALE)
    ensure_package_on_workers(corpus.sparkSession)
    # raw=True: the kernel unit-normalizes bit-exactly itself — no JVM
    # HOF pass over the corpus, float32 across the Arrow boundary
    # (session-4 rung A/B: build 86.4 -> see OPTIMIZATION_r14.md)
    asg = assign_clusters_quant_blas(
        corpus, centroids, id_col=id_col, u_col=vec_col, raw=True
    )
    cells = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_indexed")
    )
    _write_store(path, {"centroids": centroids, "cells": cells}, meta or {})


def read_index_manifest(spark, path: str):
    """(centroids_df, cells_df, meta_dict) from a
    ``write_index_manifest`` directory; the meta read absorbs a
    concurrent replacer's swap (``_read_store_meta``)."""
    meta = _read_store_meta(path)
    cent, cells = (
        spark.read.parquet(os.path.join(path, part))
        for part in ("centroids", "cells")
    )
    return cent, cells, meta


def _store_dir(sf_dir: str, name: str) -> str:
    """``<root>/<name>_<md5(abspath(sf_dir))[:16]>``: the deterministic
    per-corpus location of a persisted serving store, which lets a
    later process (a bench's timed reps after its warm-up, a deployed
    maintainer) REUSE the one-time build. The root is
    ``SPARK_GRAFT_MANIFEST_DIR``, default
    ``$TMPDIR/spark_graft_manifests``; a deployment pins it to durable
    storage. ``name`` carries the layout version, so a layout change
    is a new name, never a misread store."""
    root = os.environ.get("SPARK_GRAFT_MANIFEST_DIR") or os.path.join(
        tempfile.gettempdir(), "spark_graft_manifests"
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    return os.path.join(root, f"{name}_{key}")


def _read_store_meta(path: str) -> dict | None:
    """The ``meta.json`` of a ``_write_store`` directory, or None when
    there is none. A store that is missing while a ``<path>.old.*``
    sibling exists is a concurrent replacer between its two renames
    (see ``_write_store``): one retry absorbs that transient, and a
    store that was never built costs no wait."""
    for retry in (False, True):
        try:
            with open(os.path.join(path, "meta.json")) as fh:
                return json.load(fh)
        except OSError:
            if retry or not glob.glob(glob.escape(path) + ".old.*"):
                return None
            time.sleep(0.2)


def _write_store(path: str, frames: dict[str, DataFrame], meta: dict) -> None:
    """The one staged write + atomic swap of every persisted store
    (index manifest, PQ and IVFPQ serving stores, trained models):
    each named frame lands as parquet ``path/<name>`` and ``meta``
    as ``path/meta.json``.

    Everything is staged into a uuid-suffixed ``<path>.tmp.<token>``
    that renames into place, so a reader never sees a HALF-WRITTEN
    store and a concurrent builder loses only its redundant copy. A
    write that raises (a failed part, a dead executor, the lazy build
    itself) removes the staging dir and re-raises, leaving the
    previous generation in place. Replacing a stale store is two
    renames (old aside, new in) — POSIX rename cannot replace a
    non-empty directory, so a reader racing exactly between them can
    see the path MISSING for a moment (never partial);
    ``_read_store_meta`` absorbs that transient with one retry. The
    aside-dir is deleted only AFTER the new store is live, so
    mid-read file handles on the old generation stay valid through
    the swap on POSIX semantics."""
    token = uuid.uuid4().hex[:12]
    tmp = f"{path}.tmp.{token}"
    try:
        for name, frame in frames.items():
            frame.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = f"{path}.old.{token}"
    try:
        os.rename(path, old)
    except OSError:
        old = None  # first build: nothing to move aside
    try:
        os.rename(tmp, path)
    except OSError:
        # lost a build race: a complete store is already in place
        shutil.rmtree(tmp, ignore_errors=True)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)


def maintain_index(
    spark,
    manifest_path: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The RECURRING maintenance step against a stored manifest: the
    production add-without-retrain loop whose per-batch cost is
    O(|delta|·k) assignment + a k-row join — NOTHING corpus-sized.
    Reads the trained centroids + per-cell ``n_indexed`` from the
    manifest (``write_index_manifest``), assigns the new batch to the
    stored cells via one broadcast scoring pass, and emits the same
    (cid, n_indexed, n_delta, n_total, overfull) fill report as the
    self-contained qs22 audit — byte-identical semantics via the
    shared ``cell_fill_report``, with the corpus side read from
    state instead of recounted."""
    cent, cells, meta = read_index_manifest(spark, manifest_path)
    n_new = (
        assign_clusters_quant(delta, cent, id_col, vec_col)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    )
    return cell_fill_report(cent, cells, n_new, int(meta["expected"]))


def _topn_probe_ranks(
    pts: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """SKINNY probe table (id, cid, probe_rank) — ``_topn_probes``
    without the u join-back, for callers that attach payloads
    themselves (or need the rank table twice — it is three longs per
    row, checkpointable at any scale)."""
    # u-free scored stream (the _argmax_assign r8 fix)
    scored = pts.crossJoin(F.broadcast(centroids)).select(
        "id", _dot_pre(F.col("u"), F.col("c")).alias("dot"), "cid"
    )
    best = scored.groupBy("id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("dot")).alias("nd"), F.col("cid")))
            ),
            1,
            nprobe,
        ).alias("top")
    )
    return best.select(
        "id", F.posexplode("top").alias("pos", "p")
    ).select(
        "id",
        F.col("p.cid").alias("cid"),
        (F.col("pos") + 1).cast("long").alias("probe_rank"),
    )


def _topn_probe_ranks_halves(
    pts: DataFrame,
    cent1: DataFrame,
    cent2: DataFrame,
    d_half: int,
    nprobe: int,
) -> DataFrame:
    """(id, t1, t2): BOTH halves' top-``nprobe`` probe lists from ONE
    scored stream — ``imi_assign``'s tagged-union trick generalized
    from argmax to top-n. The two sub-quantizers' centroids union
    into one broadcast table tagged ``q`` ∈ {1, 2}; each point scores
    all 2·k_each in a single crossJoin, and ONE map-side-combinable
    aggregation collects both halves' (−dot, cid) lists (``when`` →
    null → collect_list skips), sorts, and slices. Same dots, same
    per-half tie order (ties → lowest cid) as two separate
    ``_topn_probe_ranks`` passes — but one scan, one unit-vector
    build, one exchange instead of two of each (the r14 qs28
    stageprof measured each separate half-chain at ~80 s on 2 M
    vectors). ``t[0]`` is the assigned cell (probe rank 1).

    This fold form is the reference the vectorized twin
    ``_topn_probe_ranks_halves_blas`` is pinned against
    (tests/test_similarity.py); the tagged union doubles per-task
    scored rows vs a separate per-half pass — the qs25 r11
    partial-SortAggregate OOM class at the 2 M-vector rung — so it is
    not a corpus-scale path."""
    c1 = cent1.select(F.lit(1).alias("q"), "cid", "c")
    c2 = cent2.select(F.lit(2).alias("q"), "cid", "c")
    cents = c1.unionByName(c2)
    halved = pts.select(
        "id",
        F.slice("u", 1, d_half).alias("u1"),
        F.slice("u", d_half + 1, d_half).alias("u2"),
    )
    scored = halved.crossJoin(F.broadcast(cents)).select(
        "id",
        "q",
        "cid",
        F.when(F.col("q") == 1, _dot_pre(F.col("u1"), F.col("c")))
        .otherwise(_dot_pre(F.col("u2"), F.col("c")))
        .alias("dot"),
    )
    entry = F.struct((-F.col("dot")).alias("nd"), F.col("cid"))
    return scored.groupBy("id").agg(
        F.slice(
            F.array_sort(F.collect_list(F.when(F.col("q") == 1, entry))),
            1,
            nprobe,
        ).alias("t1"),
        F.slice(
            F.array_sort(F.collect_list(F.when(F.col("q") == 2, entry))),
            1,
            nprobe,
        ).alias("t2"),
    )


def _topn_probe_ranks_halves_blas(
    pts: DataFrame,
    cent1: DataFrame,
    cent2: DataFrame,
    d_half: int,
    nprobe: int,
) -> DataFrame:
    """``_topn_probe_ranks_halves`` as a vectorized per-row map over
    RAW (id, v) points (``_raw_points``) — the BIT-EXACT fold twin
    (not the quantized kernel): emits the same (t1, t2) probe lists,
    same double bits, same tie order, so qs28's hash-verified oracle
    (which replays the FLOAT fold chain) is untouched while the
    Θ(n·2k·d) scoring runs as NumPy array ops instead of a 2k-way
    crossJoin + interpreted HOF fold + struct SortAggregate (the
    measured ~100 s term of the qs28 rung row).

    Bit-exactness argument: the kernel unit-normalizes the raw
    vectors itself, bit-identical to ``_unit_vectors``
    (``kernels.unit_rows``). ``_dot_pre`` is ``aggregate(zip_with(a,
    b, x*y), 0.0, acc+v)`` — each product rounded once, then a
    SEQUENTIAL left-to-right sum, each add rounded once. The kernel
    replays exactly that: one elementwise multiply per dimension,
    accumulated in dimension order with one rounded add each (never
    ``U @ C.T``, whose accumulation order differs at ulp level), the
    ``0.0`` init reproduced as ``p0 + 0.0`` (normalizes a ``-0.0``
    first product the way the fold's ``0.0 + p0`` does — IEEE
    addition commutes bitwise). Probe selection replays
    ``array_sort``'s struct order ((nd, cid) ascending,
    Double.compare semantics) via an IEEE total-order int64 key
    (−0.0 < +0.0, NaN greatest) with a stable argsort over
    cid-ascending columns. Pinned kernel == fold on sf0.001 by
    tests/test_similarity.py; qs28 stays hash-verified.

    No exchange: the fold form's scored stream needed a groupBy (2k
    scored rows per point through a partial SortAggregate — the
    ``_widen_for_scoring`` OOM class); here each point's probe lists
    are computed row-locally. Model
    side is one k-bounded collect per half. Per-task transient is
    chunked to ~4M score cells regardless of k.

    The raw vector passes through UNTOUCHED as ``v`` (no numeric
    conversion), so qs28's two packing sides read (id, v, probes)
    from the ONE checkpointed kernel output instead of joining the
    corpus back, and the checkpoint and both packing exchanges carry
    float32; the scoring kernel re-normalizes bit-exactly."""
    import numpy as np
    import pandas as pd

    cids1, c1m = _model_matrix(cent1)
    cids2, c2m = _model_matrix(cent2)
    take1, take2 = min(nprobe, len(cids1)), min(nprobe, len(cids2))
    # per-chunk transient: rows × (k1 + k2) float64 score cells ≈ 32 MB
    chunk = max(1, 4_000_000 // max(len(cids1) + len(cids2), 1))

    def _fold_dots(u_mat, c_mat):
        # sequential multiply-add, one rounding per op — _dot_pre's bits
        acc = u_mat[:, 0][:, None] * c_mat[None, :, 0] + 0.0
        for i in range(1, c_mat.shape[1]):
            acc = acc + u_mat[:, i][:, None] * c_mat[None, :, i]
        return acc

    def _tok(a):
        # IEEE-754 total-order int64 key: monotone with Double.compare
        # (−0.0 < +0.0, NaN above all) — what array_sort uses on nd
        bits = a.view(np.int64)
        return np.where(bits >= 0, bits, np.int64(-1) - (bits - np.int64(-(2**63))))

    def _top(u_mat, cids, c_mat, take):
        nd = -_fold_dots(u_mat, c_mat)
        idx = np.argsort(_tok(nd), axis=1, kind="stable")[:, :take]
        vals = np.take_along_axis(nd, idx, axis=1)
        return [
            [{"nd": float(v), "cid": int(c)} for v, c in zip(vr, cr)]
            for vr, cr in zip(vals, cids[idx])
        ]

    def kernel(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                u_mat = kernels.unit_rows(kernels.matrix(part["v"]))
                yield pd.DataFrame({
                    "id": part["id"].to_numpy(),
                    "v": part["v"].to_numpy(),
                    "t1": _top(u_mat[:, :d_half], cids1, c1m, take1),
                    "t2": _top(u_mat[:, d_half:], cids2, c2m, take2),
                })

    ensure_package_on_workers(pts.sparkSession)
    v_type = pts.schema["v"].dataType.simpleString()
    t_type = "array<struct<nd: double, cid: bigint>>"
    return pts.mapInPandas(
        kernel, schema=f"id bigint, v {v_type}, t1 {t_type}, t2 {t_type}"
    )


def _topn_probes(pts: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """(id, u, cid, probe_rank): each point's top-``nprobe`` nearest
    cells by dot product (ties → lowest cid) — ``_argmax_assign``
    generalized to n probes. The per-point top-n is a groupBy
    aggregate over the k scored rows: collect the k tiny (−dot, cid)
    structs row-local, sort, slice — partial-aggregable like the
    struct-max, so there is no ranking window and no sort of the n·k
    scored table; the row payload is bounded by k (the centroid
    count), never by data. Negating dot for the ascending sort is
    exact (IEEE sign flip) and cid stays positive, so ties break to
    the LOWEST cid — the same total order the assignment argmax uses,
    which guarantees ``probe_rank`` 1 == the assigned cell (so
    callers needing the assignment filter on it instead of scoring
    the points a second time)."""
    probes = _topn_probe_ranks(pts, centroids, nprobe)
    return pts.join(probes, "id").select("id", "u", "cid", "probe_rank")


def cosine_topk_kmeans_multiprobe(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    """Trained IVF with nprobe > 1 — the production recall/cost knob.

    ``cosine_topk_kmeans`` (qs7) probes exactly the assigned cell; a
    query sitting near a cell boundary misses neighbors filed one
    cell over. Here each query probes its ``nprobe`` nearest TRAINED
    centroids (``_topn_probes``) while the database side stays in its
    single assigned cell, so candidate volume grows ~linearly in
    nprobe while recall climbs toward exact (nprobe = k IS brute
    force). This composes the qs5 multi-probe trick with the qs7
    learned quantizer — the missing rung between them. Candidate
    generation remains a pure equi-join on the cell id; each (query,
    neighbor) pair arises at most once because the database vector
    lives in exactly one cell. Exact fold verification inside the
    probed cells keeps the whole query oracle-checkable, training
    included.

    The database side's single-cell assignment is NOT a second
    scoring pass: probe rank 1 IS the argmax assignment (same total
    order — see ``_topn_probes``), so both join sides are the SAME
    ranked-probes subplan behind the SAME cid repartition, with the
    ``probe_rank = 1`` restriction applied as a join-side filter
    ABOVE the exchange. ReuseExchange then computes the n·k scoring
    once and the second side replays the shuffle files — the shuffle
    carries n·nprobe rows instead of n, a small trade for halving
    the dominant cross-join+fold cost (qs11)."""
    cent = kmeans_centroids(df, id_col, vec_col, k=n_clusters, n_iter=n_iter)
    pts = _unit_vectors(df, id_col, vec_col)
    probes = _topn_probes(pts, cent, nprobe).repartition(F.col("cid"))
    return _fold_topk(probes, k_neighbors)


def _assign_raw_quant(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cells: dict[str, tuple[DataFrame, slice]],
) -> DataFrame:
    """(id, v, *cells): quantized-exact nearest cell for each named
    centroid set, scored over a slice of the dimensions, in ONE
    Arrow/NumPy pass over the RAW table — the
    ``assign_clusters_quant_blas`` arithmetic (the kernel
    unit-normalizes bit-exactly itself, then one ``argmax(U @ Cᵀ)``
    over 2^20-rounded integers per set; ties → lowest cid) with the
    raw float32 vector passed through as ``v`` for the packed search
    blocks, so neither the assignment boundary nor the packing
    shuffle carries float64. ``cells`` maps an output column to
    (centroids, dims): one full-width set for trained IVF, one per
    half for the IMI grid."""
    import numpy as np

    models = []
    for col, (cent, dims) in cells.items():
        cids, C = _model_matrix(cent)
        models.append((col, dims, cids, kernels.quantize(C)))

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            U = kernels.quantize(kernels.unit_rows(kernels.matrix(pdf["v"])))
            out = {"id": pdf["id"], "v": pdf["v"]}
            for col, dims, cids, C in models:
                out[col] = cids[np.argmax(U[:, dims] @ C.T, axis=1)]
            yield pd.DataFrame(out)

    ensure_package_on_workers(df.sparkSession)
    v_type = df.schema[vec_col].dataType.simpleString()
    cell_types = "".join(f", {col} long" for col in cells)
    return _raw_points(df, id_col, vec_col).mapInPandas(
        _assign, schema=f"id long, v {v_type}{cell_types}"
    )


def cosine_topk_kmeans_blas(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    n_iter: int = 2,
    n_sub: int | None = None,
    train_df: DataFrame | None = None,
    blas_assign: bool = False,
    cent: DataFrame | None = None,
) -> DataFrame:
    """Trained IVF at BLAS speed: the production composition. k-means
    cells from ``kmeans_centroids`` provide the candidate pruning
    (each cell packs into one block and scores against itself — no
    candidate join at all, the cell IS the block) and the Arrow/NumPy
    matmul kernel provides the throughput, exactly
    ``cosine_topk_bucketed_blas`` with learned cells instead of sign
    bits. ``n_sub`` sub-splits oversized cells by id-hash (the salt
    for skewed clusters); default ``_derive_n_sub`` over the
    ``n_clusters`` cells. The packed cells are scored with the
    QUANTIZED-EXACT kernel (``_blas_topk_from_combos``) — integer
    dots of 2^20-rounded unit vectors, bit-replayable by the oracle;
    ``cosine_topk_kmeans`` is the raw-float exactness twin over the
    SAME cells. ``train_df`` (a digest sample in the production
    shape — qs23) restricts the trainer's input; assignment and
    search stay full-corpus. ``cent`` accepts a PRE-TRAINED centroid
    frame (the train-once-serve-many split; qs23 passes the memoized
    shared 'ivf:' model).

    ``blas_assign`` moves the n·k assignment scoring into the
    quantized dgemm (``_assign_raw_quant``) — with k = √n cells the
    assignment is the OTHER n^1.5 term, so at scale it needs the
    matmul constant as much as the search does — and both n^1.5
    terms stay hash-verified. The assignment kernel takes the RAW
    embedding table and passes the raw float32 vector through to the
    packed search blocks, whose kernel re-normalizes the same way:
    no JVM HOF normalize, float32 across both boundaries. Without it
    the cells come from the fold ``assign_clusters`` (qs8's shape),
    whose unit vectors the search kernel only rounds."""
    if cent is None:
        cent = kmeans_centroids(
            train_df if train_df is not None else df,
            id_col,
            vec_col,
            k=n_clusters,
            n_iter=n_iter,
        )
    if blas_assign:
        asg = _assign_raw_quant(
            df, id_col, vec_col, {"bucket": (cent, slice(None))}
        )
    else:
        asg = assign_clusters(df, cent, id_col, vec_col).select(
            "id", F.col("u").alias("v"), F.col("cid").alias("bucket")
        )
    if n_sub is None:
        n_sub = _derive_n_sub(df, n_clusters)
    return _blas_topk_from_combos(
        _cell_combos(asg, ["bucket"], n_sub), k_neighbors, raw=blas_assign
    )


def _widen_for_scoring(
    df: DataFrame, work_rows: int | None
) -> DataFrame:
    """Widen a point stream that is about to be broadcast-scored so
    the scored stream's PER-TASK slice stays sort/spill-friendly.

    The broadcast cross-join multiplies each input row by k model
    rows; the argmax that follows is a struct-max (SortAggregate —
    structs have no mutable hash buffer), so each task SORTS its
    whole scored slice. At cluster-width partitioning the 2 M × 178
    IMI scoring stream is ~11 M skinny rows (~440 MB of sorter
    pressure) per task × 32 concurrent — the measured 4 g executor
    death in qs25's r11 rung re-run (heap OOM inside the partial
    SortAggregate). Capping the slice at ``_SCORED_ROWS_PER_TASK``
    scored rows (~60 MB) makes every sorter in-memory. On a real cluster
    reading 100 TB the scan's own input splits already provide this
    width — the guard binds only when work density per input split
    is extreme (small corpus × √n-scale k in one 550 MB file), so it
    widens and never narrows; the exchange it adds is one pass over
    the SKINNY point stream, paid only when the scoring volume
    justifies it."""
    if work_rows is None:
        return df
    want = math.ceil(work_rows / _SCORED_ROWS_PER_TASK)
    base = df.sparkSession.sparkContext.defaultParallelism
    if want <= base:
        return df
    return df.repartition(want)


def imi_assign(
    pts: DataFrame, cent1: DataFrame, cent2: DataFrame, d_half: int,
    work_rows: int | None = None,
) -> DataFrame:
    """(id, u, cid1, cid2): two-level IMI cell assignment in ONE pass.

    Both sub-quantizers' centroids are unioned into one broadcast
    table tagged ``q`` ∈ {1, 2}; each point is scored against all
    2·k_each of them in a single broadcast cross-join, and ONE
    map-side-combinable aggregation extracts both argmaxes with
    conditional struct-max (``max(when(q=1, struct(dot, -cid)))``).
    The corpus is never shuffled and never joined back to itself on
    id — the two assignments that a naive two-pass implementation
    would compute (and then re-join, two corpus shuffles) fall out of
    one O(n·2k) scored stream that collapses map-side to one row per
    point. At 100 TB this is the difference between zero corpus
    exchanges and two. ``work_rows`` (= corpus rows × 2·k_each, which
    callers already know — no counting job) lets the scored stream
    pre-widen so the struct-max SortAggregate's per-task slice stays
    bounded — see ``_widen_for_scoring``."""
    c1 = cent1.select(F.lit(1).alias("q"), "cid", "c")
    c2 = cent2.select(F.lit(2).alias("q"), "cid", "c")
    cents = c1.unionByName(c2)
    # the scored stream carries ONLY (id, q, cid, dot) — the full
    # vector and both half-slices are dropped before the aggregate
    # and u is joined back by id afterwards (the _argmax_assign r8
    # fix: a first(u) buffer made every scored row and agg buffer
    # vector-width; here the naive stream carried u AND u1 AND u2)
    halved = _widen_for_scoring(
        pts.select(
            "id",
            F.slice("u", 1, d_half).alias("u1"),
            F.slice("u", d_half + 1, d_half).alias("u2"),
        ),
        work_rows,
    )
    scored = halved.crossJoin(F.broadcast(cents)).select(
        "id",
        "q",
        "cid",
        F.when(F.col("q") == 1, _dot_pre(F.col("u1"), F.col("c")))
        .otherwise(_dot_pre(F.col("u2"), F.col("c")))
        .alias("dot"),
    )
    best = (
        scored.groupBy("id")
        .agg(
            F.max(
                F.when(
                    F.col("q") == 1,
                    F.struct(F.col("dot"), (-F.col("cid")).alias("ncid")),
                )
            ).alias("b1"),
            F.max(
                F.when(
                    F.col("q") == 2,
                    F.struct(F.col("dot"), (-F.col("cid")).alias("ncid")),
                )
            ).alias("b2"),
        )
        .select(
            "id",
            (-F.col("b1.ncid")).cast("long").alias("cid1"),
            (-F.col("b2.ncid")).cast("long").alias("cid2"),
        )
    )
    return pts.join(best, "id").select("id", "u", "cid1", "cid2")


def cosine_topk_imi(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int | None = None,
    n_iter: int = 2,
) -> DataFrame:
    """Two-level inverted multi-index (IMI) ANN — the next rung above
    single-level IVF (``cosine_topk_kmeans``), per Babenko &
    Lempitsky, "The Inverted Multi-Index" (CVPR 2012): the vector is
    split into two halves, each half gets its OWN k_each-cell trained
    quantizer, and the index cell is the PRODUCT (cid1, cid2) —
    k_each² cells for 2·k_each centroid scorings per vector. With
    k_each = ceil(√(n/256)) (``imi_cells_for``, the r7 search-sized
    grid) the product has ≈n/256 cells — ~256 vectors per cell, so
    the within-cell self-join stays LINEAR (~256·n candidates, the
    qs13 budget with trained cells) while assignment costs
    2·√(n/256) scorings per vector; a SINGLE-level quantizer with
    n/256 cells would pay n²/256 in assignment, and the √n-cell IVF
    pays n·√n in self-join search — the product decomposition is
    what lets cell count grow linearly with the corpus without the
    quantizer exploding (measured at the 100× replica, single-level
    full-train IVF spent 2 582 s dominated by its n·√n quantizer).

    Every stage is the deterministic machinery of qs14/qs16 —
    seeded-md5 init, fold dot products, quantized-integer means — run
    per half, so the ENTIRE two-quantizer pipeline replays in ANSI
    SQL and is hash-verified end to end (qs17). Candidates stay a
    pure equi-join on the two cell ids; ties → lowest cid per level.
    """
    d_half = _half_dim(df, vec_col)
    if k_each is None:
        k_each = imi_cells_for(_row_count(df))
    pts = _unit_vectors(df, id_col, vec_col)
    cent1, cent2 = kmeans_centroids_on_halves(
        pts, d_half, k=k_each, n_iter=n_iter
    )
    asg = imi_assign(pts, cent1, cent2, d_half).repartition("cid1", "cid2")
    return _fold_topk(asg, k_neighbors)


def kmeans_centroids_on_halves(
    pts: DataFrame, d_half: int, k: int, n_iter: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Both IMI half-quantizers: spherical ``_lloyd`` over the two
    ``d_half`` slices, trained jointly. Per half the math is that of an
    independent ``kmeans_centroids_on`` run on the half-vectors, which
    qs17's SQL oracle replays; the jobs are those of one run."""
    c1, c2 = _lloyd(pts, k, n_iter, m=2, d_sub=d_half)
    return c1, c2


def pq_codebooks(
    pts: DataFrame, m: int, d_sub: int, k_pq: int, n_iter: int = 2
) -> list[DataFrame]:
    """One L2-trained codebook per ``d_sub`` slice (the PQ
    sub-quantizers): L2 ``_lloyd`` over the m slices, trained jointly.
    Per slice the math is that of an independent L2 run, which the SQL
    oracles replay; the jobs are those of one run (measured 17 s ->
    ~5 s for qs18 at sf0.1 against m separate loops, where fixed
    per-job overhead dominated)."""
    return _lloyd(pts, k_pq, n_iter, m=m, d_sub=d_sub, spherical=False)


def _tagged_books(books: list[DataFrame]) -> DataFrame:
    """(q, cid, c, cc): all sub-codebooks unioned with their
    sub-quantizer index ``q`` and precomputed ‖c‖² — the broadcast
    model table every PQ stage scores against."""
    tagged = None
    for s, b in enumerate(books):
        t = b.select(
            F.lit(s).alias("q"),
            "cid",
            "c",
            _dot_pre(F.col("c"), F.col("c")).alias("cc"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    return tagged


def pq_encode(
    pts: DataFrame, books: list[DataFrame], m: int, d_sub: int,
    work_rows: int | None = None,
) -> DataFrame:
    """(id, codes: array<long>): PQ encoding — each subvector mapped
    to its nearest (L2) codebook entry, ALL ``m`` assignments in one
    broadcast-scored pass with conditional struct-max aggregation
    (the ``imi_assign`` shape generalized to m quantizers): the
    corpus is scored against the m·k tagged codebook rows, collapses
    map-side to one row per vector, and is never shuffled or
    self-joined. 64 float dims become m small ints — the compressed
    representation a 100 TB index actually stores."""
    tagged = _tagged_books(books)
    # the scored stream carries only the m half-slices — not the full
    # vector, which the codes output never uses (the r8 vector-payload
    # rule: nothing data-sized rides through an n·k aggregate); with
    # a known corpus count the stream pre-widens so the struct-max
    # SortAggregate's per-task slice stays bounded (_widen_for_scoring)
    withsubs = _widen_for_scoring(
        pts.select(
            "id",
            *[
                F.slice("u", s * d_sub + 1, d_sub).alias(f"u{s}")
                for s in range(m)
            ],
        ),
        work_rows,
    )
    score = None
    for s in range(m):
        branch = _dot_pre(F.col(f"u{s}"), F.col("c")) - F.lit(0.5) * F.col("cc")
        score = (
            F.when(F.col("q") == s, branch)
            if score is None
            else score.when(F.col("q") == s, branch)
        )
    scored = withsubs.crossJoin(F.broadcast(tagged)).withColumn("score", score)
    aggs = [
        F.max(
            F.when(
                F.col("q") == s,
                F.struct(F.col("score"), (-F.col("cid")).alias("ncid")),
            )
        ).alias(f"b{s}")
        for s in range(m)
    ]
    return (
        scored.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(
                *[(-F.col(f"b{s}.ncid")).cast("long") for s in range(m)]
            ).alias("codes"),
        )
    )


def pq_adc_topk(
    queries_pts: DataFrame,
    corpus_codes: DataFrame,
    books: list[DataFrame],
    m: int,
    d_sub: int,
    k_neighbors: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: score(q, x) = Σ_s
    dot(q_s, c[s, code_s(x)]) — the query stays full-precision, the
    corpus is m codes, per-pair cost m table lookups instead of a
    d-dim dot (Jégou, Douze & Schmid, "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011).

    Shape (r8, the qs19 memory-bounded recipe): each query folds its
    ENTIRE quantized lookup table into one broadcast
    ``array<array<long>>`` row (m sub-tables × k_pq entries — exact
    BIGINT partials, same trick as ``_cell_means``), the corpus code
    column streams through ONE broadcast join (the m-int codes, never
    the vectors, never exploded), and the per-pair ADC total is an
    inline sum UNROLLED over the m literal sub-quantizers — plain
    scalar codegen, no n·m row explode, no (sub, code) join fan-out,
    no |Q|·n-group hash aggregate (the prior shape's 2.6e8-row
    intermediate at 100×). The per-query rank<=k filter lets Spark
    infer a PARTIAL WindowGroupLimit below the exchange, so each map
    task ships only its local top-k per query. Scores are fixed-point
    rounded BEFORE ranking (engine-independent cut); ties →
    neighbor_id. Values are bitwise-identical to the explode/join
    shape: the same qt integers are summed, exactly, in any order."""
    from pyspark.sql import Window as W

    # per-query quantized lookup table as ONE projection over the
    # LITERAL codebooks (exact BIGINT partials — the per-pair Σ_s is
    # a commutative integer sum, deterministic under any order and
    # replayable in SQL); see _qt_all_literal for why there is no
    # crossJoin/groupBy assembly
    qtab = queries_pts.select(
        F.col("id").alias("query_id"),
        _qt_all_literal(books, m, d_sub).alias("qt_all"),
    )
    adc_long = sum(
        (
            F.element_at(
                F.element_at(F.col("qt_all"), s + 1),
                (F.element_at(F.col("codes"), s + 1) + F.lit(1)).cast("int"),
            )
            for s in range(m)
        ),
        F.lit(0).cast("long"),
    )
    adc = F.col("adc_l").cast("double") / F.lit(float(_QSCALE))
    rounded = F.floor(
        adc * F.lit(float(10**round_digits)) + F.lit(0.5)
    ) / F.lit(float(10**round_digits))
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_r").desc(), F.col("neighbor_id")
    )
    return (
        corpus_codes.select(F.col("id").alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(qtab))
        .select("query_id", "neighbor_id", adc_long.alias("adc_l"))
        .select("query_id", "neighbor_id", rounded.alias("adc_r"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neighbors)
    )


def _qt_all_literal(
    books: list[DataFrame], m: int, d_sub: int, u_col: str = "u"
) -> Column:
    """Per-point quantized ADC lookup table ``qt_all[s][code]`` as ONE
    projection over literal codebooks — no crossJoin, no groupBy.

    The r8 pre-literal build crossJoined every point with the m·k_pq
    tagged codebook rows and re-assembled the table with
    ``groupBy(id).agg(sort_array(collect_list(...)))`` — measured at
    the 100× ladder point, that aggregate alone was ~600 s of
    qs19/qs27's ~870 s wall (the scored stream itself: 15 s). The
    codebooks are O(m·k_pq·d_sub) MODEL state (4·16·16 doubles here),
    so they belong in the plan as literals — the same collect-the-
    model convention as every trainer. Each entry replays the exact
    oracle arithmetic: floor(fold(slice(u) · c) · QSCALE + 0.5), with
    the same left-to-right fold over the same doubles, so every
    hash-verified consumer stays bit-identical.

    r14 construction rewrite (values unchanged): the original form
    built m·k_pq per-entry expressions, each with its own d_sub
    ``F.lit`` calls — ~1.4k py4j round-trips, measured at ~5 s of
    DRIVER time per call on a 2 ms-roundtrip box, paid per qst8
    MICRO-BATCH. Now each sub-table is ONE SQL-parsed literal
    k_pq×d_sub matrix (``F.expr`` — a single round-trip; ``repr``
    floats parse back to the identical float64, both parsers are
    correctly rounded) folded by ONE ``transform`` lambda, ~50
    round-trips total. Per entry the evaluated ops are the same
    zip_with/aggregate/floor chain over the same doubles. Dead slots
    (a sub-codebook missing a mid-range cid to an empty Lloyd
    cluster — codes that can never appear in pq_encode output) are
    all-zero vectors: the fold is exactly 0.0 and floor(0.5) = 0,
    the same long 0 the per-entry form emitted (an EMPTY array would
    be wrong — zip_with null-pads the shorter side and the fold
    would yield NULL)."""
    rows: dict[tuple[int, int], list[float]] = {}
    k_pq = 0
    for s, b in enumerate(books):
        for r in b.collect():
            rows[(s, int(r["cid"]))] = [float(x) for x in r["c"]]
            k_pq = max(k_pq, int(r["cid"]) + 1)

    def _dlit(x: float) -> str:
        # repr() is the shortest round-tripping decimal; Spark's
        # parser (Java parseDouble) is correctly rounded, so the
        # parsed double is bit-identical to the collected one
        return repr(float(x)) + "D"

    def table(s: int) -> Column:
        cells = []
        for code in range(k_pq):
            c = rows.get((s, code)) or [0.0] * d_sub
            cells.append("array(" + ",".join(_dlit(x) for x in c) + ")")
        mat = F.expr("array(" + ",".join(cells) + ")")
        return F.transform(
            mat,
            lambda c: F.floor(
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col(u_col), s * d_sub + 1, d_sub),
                        c,
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
                * F.lit(float(_QSCALE))
                + F.lit(0.5)
            ).cast("long"),
        )

    return F.array(*[table(s) for s in range(m)])


def _ivfpq_gather_topk(
    qtab: DataFrame,
    cand: DataFrame,
    k_neighbors: int,
    round_digits: int,
) -> DataFrame:
    """Per-cell cogroup + int64 table-gather ADC top-k (the
    ``gather_kernel=True`` tail of ``cosine_topk_ivfpq``; see that
    docstring for why this is bit-identical to the declarative
    shape). One Arrow exchange per side keyed on the coarse cell;
    inside each cell the kernel gathers ``scores[q, c] = Σ_s
    QT[q, s, codes[c, s]]`` as NumPy int64 (exact — order-free),
    applies the same IEEE double rounding, and emits the per-query
    top-k with the (adc desc, neighbor_id asc) tie-break, splitting
    value ties by neighbor_id BEFORE the cut so the boundary matches
    row_number semantics. Queries are chunked so the score matrix
    stays ≤ ~64 MB per block regardless of cell size."""
    import numpy as np
    import pandas as pd

    qscale = float(_QSCALE)
    rd = float(10**round_digits)
    k = k_neighbors

    def _score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "adc_r": pd.Series(dtype="float64"),
                "rank": pd.Series(dtype="int64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        q_ids = left["query_id"].to_numpy(dtype="int64")
        QT = np.stack(
            [
                np.stack([np.asarray(t, dtype="int64") for t in row])
                for row in left["qt_all"]
            ]
        )  # (nq, m, k_pq)
        n_ids = right["neighbor_id"].to_numpy(dtype="int64")
        CD = np.stack(
            [np.asarray(c, dtype="int64") for c in right["codes"]]
        )  # (nc, m)
        nc, m = CD.shape
        parts = []
        block = max(1, (1 << 23) // nc)  # ≤ 64 MB of int64 scores
        for lo in range(0, len(q_ids), block):
            hi = min(lo + block, len(q_ids))
            nb = hi - lo
            scores = QT[lo:hi, 0][:, CD[:, 0]].copy()
            for s in range(1, m):
                scores += QT[lo:hi, s][:, CD[:, s]]
            adc = np.floor(scores.astype("float64") / qscale * rd + 0.5) / rd
            adc[q_ids[lo:hi, None] == n_ids[None, :]] = -np.inf
            # fully vectorized per-row top-k with row_number tie
            # semantics: keep every entry >= the row's k-th value
            # (ties included), lexsort by (row, -adc, neighbor_id),
            # rank by position within row, cut at k — no per-query
            # Python loop (the loop was ~ms per query: the measured
            # wall at 200k queries)
            mask = np.isfinite(adc)
            if nc > k:
                kth = np.argpartition(-adc, k - 1, axis=1)[:, k - 1]
                thresh = adc[np.arange(nb), kth]
                mask &= adc >= thresh[:, None]
            ri, ci = np.nonzero(mask)
            if len(ri) == 0:
                continue
            vals = adc[ri, ci]
            nids = n_ids[ci]
            order = np.lexsort((nids, -vals, ri))
            ri, vals, nids = ri[order], vals[order], nids[order]
            starts = np.searchsorted(ri, np.arange(nb))
            ranks = np.arange(len(ri)) - starts[ri] + 1
            keep = ranks <= k
            parts.append(
                pd.DataFrame(
                    {
                        "query_id": q_ids[lo + ri[keep]],
                        "neighbor_id": nids[keep],
                        "adc_r": vals[keep],
                        "rank": ranks[keep].astype("int64"),
                    }
                )
            )
        if not parts:
            return empty
        return pd.concat(parts, ignore_index=True)

    return (
        qtab.groupby("cell")
        .cogroup(cand.groupby("cell"))
        .applyInPandas(
            _score,
            schema="query_id long, neighbor_id long, adc_r double, rank long",
        )
    )


def cosine_topk_ivfpq(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    m: int = 4,
    d_sub: int = 16,
    k_pq: int = 16,
    n_iter: int = 2,
    round_digits: int = 6,
    train_df: DataFrame | None = None,
    gather_kernel: bool = False,
    cent: DataFrame | None = None,
    books: list[DataFrame] | None = None,
    asg: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ — the composed index (FAISS ``IVFx,PQy``, Jégou et al.
    2011): a TRAINED coarse quantizer bounds candidates to same-cell
    pairs (n²/k, the IVF property) and product-quantization ADC
    scores them in the COMPRESSED domain — per candidate pair, m
    table lookups instead of a d-dim dot (16× fewer flops at
    m=4, d=64), over a corpus stored as m small ints per vector.
    This is the shape a 100 TB vector corpus actually serves from:
    both the memory bound (codes, not floats) and the compute bound
    (cells × lookups) scale.

    Plan shape (r8 — the memory-bounded rewrite): each point carries
    its FULL quantized lookup table as one array<array<long>> column
    (m·k_pq longs ≈ 64 values — built by a linear n·m·k_pq-row
    aggregate that collapses map-side), the candidate pairs come
    from ONE equi-join on the coarse cell, and the per-pair ADC
    score is a zip_with/element_at fold computed INLINE on the pair
    row — no per-(query, neighbor) aggregate ever materializes. The
    previous shape joined on (cell, sub, code) and re-aggregated
    n²/k·m exploded rows (~4×10⁹ at the 100× ladder point) through a
    giant hash-agg — the measured 16 GiB heap floor (r7 verdict
    "What's wrong" #3); this one streams n²/k pair rows straight
    into the top-k window. The window partitions by (cell, query_id):
    every query's candidates live entirely in its own cell, so the
    rank is identical to a query_id window, and the cell equi-join's
    hash-partitioning already satisfies the clustering — the top-k
    adds a per-partition sort but NO further exchange. No broadcast
    of anything data-sized: codebooks (m·k_pq·d_sub) and centroids
    (k·d) are the only models shipped. This variant encodes raw
    vectors, not residuals — residual encoding needs a per-cell
    codebook train that breaks nothing here but buys little at these
    dims; documented trade, same search topology.

    The quantized per-sub integers, their sum, and the fixed-point
    rounding are bit-identical to the previous shape, so the SQL
    oracle replays unchanged — only the physical plan moved.

    ``gather_kernel=True`` (qs27) swaps the pair-join + window tail
    for a per-cell cogroup + NumPy table-gather kernel — FAISS's
    actual per-inverted-list scan. UNLIKE the float BLAS twins this
    stays HASH-VERIFIED against the same oracle: the ADC partials are
    exact int64, so their sum is accumulation-order-independent, and
    the final double rounding is the same IEEE op sequence — the
    kernel cannot change a single output bit. What it changes is the
    physical cost: no n²/k joined pair ROWS are ever materialized
    (the join output row carries the ~0.5 kB qt_all payload per pair
    — ~500 GB of row traffic at the 100× point — and the top-k sorts
    the full pair stream); the kernel gathers scores as one
    (queries × candidates) int64 matrix per cell, block-chunked to
    ~64 MB so per-task memory is flat in cell size.
    """
    from pyspark.sql import Window as W

    if n_clusters is None:
        n_clusters = trained_cells_for(_row_count(df))
    pts = _unit_vectors(df, id_col, vec_col)
    # Both trainers (coarse quantizer AND PQ codebooks) run over
    # ``train_df`` when given — a digest sample in the production
    # shape (qs19), keeping trainer cost O(sample·k) while encoding
    # and assignment stay full-corpus. Default: train on the corpus.
    tpts = (
        _unit_vectors(train_df, id_col, vec_col)
        if train_df is not None
        else pts
    )
    # ``cent``/``books`` accept a PRE-TRAINED model (the FAISS serving
    # split: train once, search many — qs19/qs27 share one memoized
    # 'ivfpq:' model this way); when absent, train here on ``tpts``.
    if cent is None:
        cent = kmeans_centroids_on(tpts, k=n_clusters, n_iter=n_iter)
    # ``asg``/``codes`` accept PRE-COMPUTED corpus state (id, cid) /
    # (id, codes) — the store-served split (qs19b): assignment and
    # encoding happen ONCE at store build; serving injects them here
    # and pays only the cell join + ADC + top-k.
    if asg is None:
        asg = _argmax_assign(pts, cent)
    else:
        asg = pts.join(asg.withColumnRenamed("id", "_aid"),
                       F.col("id") == F.col("_aid")).select("id", "u", "cid")
    if books is None:
        books = pq_codebooks(tpts, m=m, d_sub=d_sub, k_pq=k_pq, n_iter=n_iter)
    if codes is None:
        codes = pq_encode(pts, books, m=m, d_sub=d_sub)
    # per-point quantized lookup table as ONE projection over the
    # LITERAL codebooks (qt_all[s][code], 1-based inner index) — see
    # _qt_all_literal for the measured reason there is no crossJoin
    # and no groupBy here
    qtab = asg.select(
        F.col("id").alias("query_id"),
        F.col("cid").alias("cell"),
        _qt_all_literal(books, m, d_sub).alias("qt_all"),
    )
    cand = codes.join(
        asg.select("id", F.col("cid").alias("cell")), "id"
    ).select(F.col("id").alias("neighbor_id"), "cell", "codes")
    if gather_kernel:
        return _ivfpq_gather_topk(qtab, cand, k_neighbors, round_digits)
    # one equi-join on the coarse cell; ADC is an inline sum on the
    # pair row, UNROLLED over the m literal sub-quantizers — plain
    # scalar codegen (two element_at per term), no zip_with
    # intermediate array allocated per pair on the 10⁹-row hot path
    # (measured 2.2–3× faster than the zip_with fold at 6.4e7 pairs;
    # unrolling only wins at small m — see _dot_pre's docstring)
    adc_long = sum(
        (
            F.element_at(
                F.element_at(F.col("qt_all"), s + 1),
                (F.element_at(F.col("codes"), s + 1) + F.lit(1)).cast("int"),
            )
            for s in range(m)
        ),
        F.lit(0).cast("long"),
    )
    adc = F.col("adc_l").cast("double") / F.lit(float(_QSCALE))
    rounded = F.floor(
        adc * F.lit(float(10**round_digits)) + F.lit(0.5)
    ) / F.lit(float(10**round_digits))
    # (cell, query_id) clustering is already satisfied by the join's
    # hash-partitioning on cell (query→cell is functional), so this
    # window exchanges NOTHING — per-partition sort only; rank equals
    # the query_id rank because all of a query's pairs share its cell
    w = W.partitionBy("cell", "query_id").orderBy(
        F.col("adc_r").desc(), F.col("neighbor_id")
    )
    return (
        qtab.join(cand, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("cell", "query_id", "neighbor_id", adc_long.alias("adc_l"))
        .select("cell", "query_id", "neighbor_id", rounded.alias("adc_r"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "adc_r", "rank")
    )


def _half_dim(df: DataFrame, vec_col: str) -> int:
    """Half the (static) vector dimension, from one row's array length
    — a metadata-scale peek, not a data scan (LIMIT 1). Odd dims are
    rejected loudly rather than silently dropping the last component."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    d = int(row[0]["d"]) if row else 0
    if d % 2 != 0:
        raise ValueError(f"IMI needs an even vector dim, got {d}")
    return d // 2


def cosine_topk_kmeans_blas_trained(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    n_iter: int = 2,
    n_sub: int | None = None,
) -> DataFrame:
    """End-to-end BLAS trained ANN: a matmul trainer feeding the
    bucket-packed BLAS search — training AND search vectorized, the
    full-throughput production path (qs10's graduated r12 shape): the
    ``kmeans_centroids_quant_on`` trainer — every Lloyd assignment a
    QUANTIZED dgemm — then quantized dgemm corpus assignment and
    quantized-exact packed search via ``cosine_topk_kmeans_blas``:
    the ONLY fully-dgemm pipeline in the family (train + assign +
    search), and every score an integer the SQL oracle replays, so
    it is hash-verified end to end. The all-DataFrame qs7 is the
    raw-float exactness twin."""
    cent = kmeans_centroids_quant_on(
        _unit_vectors(df, id_col, vec_col), k=n_clusters, n_iter=n_iter
    )
    return cosine_topk_kmeans_blas(
        df,
        k_neighbors=k_neighbors,
        id_col=id_col,
        vec_col=vec_col,
        n_clusters=n_clusters,
        n_sub=n_sub,
        blas_assign=True,
        cent=cent,
    )


def cosine_topk_imi_multiprobe_blas(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 4,
    n_iter: int = 2,
    nprobe_each: int = 2,
    train_df: DataFrame | None = None,
    cents: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Multiprobe IMI at BLAS throughput — the last cell of the
    recall-knob × kernel matrix: qs24's 2×2 product probe grid (each
    query probes its top-``nprobe_each`` cells PER HALF, database
    vectors stay in their single assigned product cell, candidates
    ~nprobe²·256·n — still LINEAR) executed as per-cell dgemm blocks
    instead of the codegen fold. Unlike the single-probe BLAS twins
    the q/d sides of a block DIFFER: the database side of cell
    (c1, c2) is its assigned members, the query side is every point
    whose probe grid contains (c1, c2) — ``_blas_topk_from_combos``
    already handles asymmetric (q_items, d_items) blocks and merges
    the per-block partial top-k under a global per-query window (a
    query's ≤nprobe² probed cells are distinct and each database
    point lives in exactly one cell, so a pair arises in at most one
    block — the same uniqueness argument as the fold multiprobe).
    qs28's graduated r12 shape: the assignment and probe rankings
    replay the FLOAT fold (already oracle-replayed — qs24's chain)
    and the blocks are scored with the QUANTIZED-EXACT kernel, making
    the query hash-verified; ``cosine_topk_imi`` multiprobe (qs24) is
    the fold twin over the SAME model and probe grid, agreement
    pytest-pinned. ``cents`` accepts the pre-trained half-quantizers
    (qs28 passes the memoized shared 'imi:' model)."""
    from pyspark import StorageLevel

    h = _half_dim(df, vec_col)
    if cents is not None:
        cent1, cent2 = cents
    else:
        tpts = _unit_vectors(
            train_df if train_df is not None else df, id_col, vec_col
        )
        cent1, cent2 = kmeans_centroids_on_halves(
            tpts, h, k=k_each, n_iter=n_iter
        )
    # ONE scoring pass total (r14 — the qs28 stageprof attributed
    # ~280 s of the 377.8 s rung row to THREE fold scoring chains):
    # both halves' top-n probe lists come from ONE row-local pass of
    # the bit-exact vectorized fold twin, and the assignment is
    # ``t[0]`` (probe rank 1 — the ranking's (−dot, cid) order is
    # identical to the assignment argmax's, ``_topn_probes``'
    # documented contract). The per-id probe row (id, raw v, two
    # ≤nprobe struct arrays) is consumed twice (all rank combos →
    # query side, rank-1 pair → database side); a DISK_ONLY
    # localCheckpoint pins it so neither consumer re-runs the
    # scoring, and neither joins the corpus back (measured: the two
    # join-side stages were 52 s + 43 s of the 102 s rung row).
    both = _topn_probe_ranks_halves_blas(
        _raw_points(df, id_col, vec_col), cent1, cent2, h, nprobe_each
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    d_side = both.select(
        "id",
        "v",
        F.col("t1")[0]["cid"].alias("cid1"),
        F.col("t2")[0]["cid"].alias("cid2"),
    )
    q_side = (
        both.select("id", "v", F.explode("t1").alias("p1"), "t2")
        .select("id", "v", F.col("p1.cid").alias("cid1"), F.explode("t2").alias("p2"))
        .select("id", "v", "cid1", F.col("p2.cid").alias("cid2"))
    )
    d_packed = d_side.groupBy("cid1", "cid2").agg(
        F.collect_list(F.struct("id", "v")).alias("d_items")
    )
    q_packed = q_side.groupBy("cid1", "cid2").agg(
        F.collect_list(F.struct("id", "v")).alias("q_items")
    )
    combos = q_packed.join(d_packed, ["cid1", "cid2"]).select(
        "q_items", "d_items"
    )
    return _blas_topk_from_combos(combos, k_neighbors, raw=True)


def cosine_topk_imi_blas(
    df: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 4,
    n_iter: int = 2,
    train_df: DataFrame | None = None,
    cents: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The search-sized IMI at BLAS throughput — ``cosine_topk_imi``'s
    model (same half-quantizer trainer, so with the same ``train_df``
    the trained centroids are IDENTICAL) searched with the
    bucket-packed Arrow/NumPy matmul kernel instead of the codegen
    fold: each product cell (~256 vectors at the search sizing) packs
    into one block that scores against itself in a single dgemm — no
    candidate join at all, the ``cosine_topk_kmeans_blas_trained``
    recipe with the (cid1, cid2) product grid as the bucket key. The
    self-join search stays LINEAR (~256·n multiply-adds — the IMI
    property); the kernel changes the constant, exactly the
    qs16→qs23 move applied to the index family whose search term
    already scales.

    qs26's graduated r12 shape: the Θ(n^1.5/16) half-assignment
    scoring — what dominates this operator's wall once the search is
    dgemm — runs in the same NumPy kernel family
    (``_assign_raw_quant``, one 2^20-rounded ``argmax(U @ Cᵀ)`` per
    half, ties to the lowest cid), and the within-cell search scores
    QUANTIZED integer dots too — bit-replayable by the SQL oracle
    under any dgemm accumulation order, so the query is hash-verified
    end to end. Because the assignment argmax is quantized, the
    product cells can differ from ``imi_assign``'s float fold where
    two cells' dots sit within 2^-20 — identically in every engine;
    ``imi_assign``'s fold and its oracle consumers (qs17/qs24/qs25)
    are untouched."""
    h = _half_dim(df, vec_col)
    if cents is not None:
        # pre-trained half-quantizers (the train-once-serve-many
        # split; qs26 passes the memoized 'imi:' model here)
        cent1, cent2 = cents
    else:
        tpts = _unit_vectors(
            train_df if train_df is not None else df, id_col, vec_col
        )
        cent1, cent2 = kmeans_centroids_on_halves(
            tpts, h, k=k_each, n_iter=n_iter
        )
    asg = _assign_raw_quant(
        df,
        id_col,
        vec_col,
        {"cid1": (cent1, slice(None, h)), "cid2": (cent2, slice(h, None))},
    )
    return _blas_topk_from_combos(
        _cell_combos(asg, ["cid1", "cid2"]), k_neighbors, raw=True
    )
