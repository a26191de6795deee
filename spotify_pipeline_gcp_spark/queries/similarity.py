"""Similarity-search queries (operators/similarity.py) with oracles.

Dot products are in-order left-fold double accumulation on both
sides (Spark ``aggregate`` over ``zip_with``; DuckDB
``list_dot_product`` over ``::DOUBLE[]``), so cosine values agree
bitwise; results are additionally rounded fixed-point before ranking
so the top-k cut is engine-independent.
"""

from __future__ import annotations

import hashlib
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.similarity import (
    _ASSIGN_QSCALE,
    _dot_pre,
    _double_base,
    _fold_topk,
    _read_store_meta,
    _store_dir,
    _write_store,
    cosine_topk,
    cosine_topk_bucketed,
    cosine_topk_multiprobe,
    drop_hot_buckets,
    sign_bits_for,
    sign_bucket,
    with_norm,
)
from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import (
    SIZED_BITS_SQL,
    SIZED_BUCKET_CAP,
    fixed,
    sql_fixed,
    sql_word_ngrams,
    table,
)

# Index-sizing arithmetic the auto-sized oracles mirror — shared from
# queries/compat.py (qd7b/qd10's semantic-dedup oracles replay the
# same rule, so it cannot drift per family).
_SIZED_BITS_SQL = SIZED_BITS_SQL

DOT_AB = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
NORM = "sqrt(list_dot_product({0}.embedding::DOUBLE[], {0}.embedding::DOUBLE[]))"

# The exact integer digest fold shared with the sampling family
# (queries/sampling.py::_UNIT_FOLD): uniform [0,1) from the first 8
# hex digits of a salted md5, engine-identical.
_IVF_UNIT_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substring(_d, {j + 1}, 1)) - 1)"
    f" * {16 ** (7 - j)}::BIGINT"
    for j in range(8)
)

_QA = float(_ASSIGN_QSCALE)  # the fixed-point scale of every quantized dot


def _qd(u_expr: str, c_expr: str) -> str:
    """Integer dot of two lists rounded half-up at 2^20 — exact in
    float64 (``operators/similarity.py::_ASSIGN_QSCALE``)."""
    return (
        f"list_dot_product(list_transform({u_expr}, x -> floor(x * {_QA} + 0.5)),"
        f" list_transform({c_expr}, x -> floor(x * {_QA} + 0.5)))"
    )


# the (vec_id, u) unit-vector view the trained-index oracles start from
_U_CTE = """u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[]))) AS u
      FROM embeddings
    )"""

# fixed-point fold cosine of the raw embeddings of a and b
_FOLD_COS = sql_fixed(f"{DOT_AB} / ({NORM.format('a')} * {NORM.format('b')})", 6)

# pinned 4-bit sign-bucket code (qs3/qs5/qs6/qs21)
_SIGN4 = """((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END))::BIGINT"""

# auto-sized sign-bucket code: the first (SELECT bits FROM nb) signs
_SIZED_BUCKET = """CAST(list_sum(list_transform(range(1, (SELECT bits FROM nb) + 1),
                  j -> CASE WHEN embedding[j] > 0 THEN 1 << (j - 1) ELSE 0 END))
                  AS BIGINT)"""

# ``kept``: the ``coded`` rows outside hot buckets (> SIZED_BUCKET_CAP
# members, ``drop_hot_buckets``)
_DROP_HOT = f"""hot AS (
      SELECT bucket FROM coded GROUP BY bucket
      HAVING count(*) > {SIZED_BUCKET_CAP}
    ),
    kept AS (
      SELECT c.* FROM coded c ANTI JOIN hot h ON c.bucket = h.bucket
    ),"""

# corpus count, floor(sqrt(n)) trained cells, and the ~32·k training
# fraction (trained_cells_for / _train_frac)
_SIZEN = "sizen AS (SELECT count(*)::BIGINT AS n FROM embeddings)"
_SIZEK = (
    "sizek AS (SELECT greatest(1, CAST(floor(sqrt(n)) AS BIGINT)) AS k FROM sizen)"
)
_TRAIN_FRAC_SQL = (
    "least(1.0, (32.0 * (SELECT k FROM sizek)) / (SELECT n FROM sizen))"
)


def _with(ctes: list[str], tail: str) -> str:
    """A generated oracle: ``WITH`` the CTE chain, then ``tail``."""
    return "WITH " + ",\n    ".join(ctes) + tail


def _ranked(col: str, src: str, topk: int) -> str:
    """The closing top-k of every search oracle: per query_id, the
    ``topk`` rows of ``src`` by ``col`` descending, ties to the lowest
    neighbor_id."""
    return f"""
    SELECT query_id, neighbor_id, {col},
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {col} DESC, neighbor_id)::BIGINT AS rank
    FROM {src}
    QUALIFY rank <= {topk}
    """


def _sample_cte(name: str, src: str, salt: str, frac_sql: str) -> str:
    """CTE selecting a deterministic digest sample of a (vec_id, u)
    view: rows whose salted-md5 unit fold lands below ``frac_sql``.
    This is the oracle replay of ``_digest_sample`` below — every
    trained index (qs14/qs16/qs17/qs18/qs19) now trains on such a
    sample so the TRAINER is O(sample·k), never O(n·k); the sample
    membership itself is part of the hash-verified pipeline."""
    return (
        f"""{name} AS (
      SELECT vec_id, u FROM (
        SELECT vec_id, u, md5('{salt}' || vec_id::VARCHAR) AS _d FROM {src}
      ) WHERE ({_IVF_UNIT_FOLD}) / 4294967296.0 < {frac_sql}
    )"""
    )


def _digest_sample(emb: DataFrame, salt: str, frac: float) -> DataFrame:
    """Deterministic training sample: keep rows whose salted-md5
    digest fold (an exact-integer uniform [0,1), the sampling
    family's ``digest_unit``) lands below ``frac``. Engine-portable:
    the oracle replays the same fold (``_sample_cte``), so WHICH rows
    trained the model is hash-verified, not just the model's output.
    At small sf the fraction saturates at 1.0 and sample == corpus."""
    from spotify_pipeline_gcp_spark.operators.sampling import digest_unit

    return (
        emb.withColumn(
            "_d",
            F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))),
        )
        .where(digest_unit("_d") < F.lit(frac))
        .drop("_d")
    )


def _train_frac(n: int, k: int, per_centroid: int = 32) -> float:
    """Training-sample fraction: ~``per_centroid``·k of n vectors —
    the FAISS practice (x points per centroid), making every trainer
    O(per·k²) = O(n) at k=√n and O(1) at fixed k, vs n·k = n^1.5 for
    full-corpus training (measured x281 on x100 data, r6)."""
    return min(1.0, (per_centroid * float(k)) / n) if n else 1.0


# Process-level memo for COLLECTED model state (trained centroid /
# codebook literal frames). The trainers are deterministic functions
# of (corpus content, salt, sizing params); within one Spark session
# the corpus behind a given (sf_dir, n) cannot change (testdata is
# immutable; test corpora get fresh tmp dirs), so re-running a
# trainer in the same session reproduces the exact same literal
# model — only the ~10 small trainer-collect jobs' fixed overhead is
# paid again. Serving systems train ONCE and search many times (the
# manifest path makes that durable across processes; this memo is
# the in-session equivalent), so repeated bench/test invocations of
# qs18/qs19/qs25/qs27 should pay the trainer once. Keyed by
# applicationId so a restarted session (dead literal frames) never
# resurrects stale handles. Values are identical frames, so every
# hash-verified oracle is untouched.
_MODEL_MEMO: dict[tuple, object] = {}


# The per-corpus serving stores' on-disk names (``_store_dir``); each
# name carries its layout version.
_manifest_dir = partial(_store_dir, name="ivfm_v3")
_pq_store_dir = partial(_store_dir, name="pqstore_v1")
_ivfpq_store_dir = partial(_store_dir, name="ivfpqstore_v4")


def _content_probe(df: DataFrame) -> dict:
    """Content-sensitive staleness fingerprint shared by every
    persisted model/manifest/store (qs22b's discipline): count +
    vec_id checksum + quantized first-component sum + label sum —
    four cheap column aggregates, no vector-width shuffle. Count and
    id checksum alone would silently reuse a stale model after the
    corpus is REGENERATED with the same ids but different vectors."""
    probe = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vec_id").cast("long").alias("ck"),
        F.sum(F.floor(F.element_at("embedding", 1).cast("double") * 1e9))
        .cast("long")
        .alias("cv"),
        F.sum("label").cast("long").alias("cl"),
    ).collect()[0]
    return {
        "n": int(probe["n"]),
        "ck": int(probe["ck"] or 0),
        "cv": int(probe["cv"] or 0),
        "cl": int(probe["cl"] or 0),
    }


def _memo_model(spark: SparkSession, key: tuple, build, src: DataFrame | None = None):
    """Model-state cache with two layers.

    Default (driver/bench): the in-process memo above — byte-identical
    behavior to r9, no extra jobs.

    With ``SPARK_GRAFT_MODEL_STORE`` set (production serving / the
    scale ladder's fresh-session rows): trained literal frames persist
    as parquet under ``$SPARK_GRAFT_MODEL_STORE/model_<md5(key)>`` and
    every call LOADS from the store instead of the process memo — the
    "train once, serve many" split qs22b/qst8 already implement for
    their manifest/PQ stores, extended to the 'ivf:'/'ivfpq:'/'pqtr:'
    model families (r9 verdict item #3: a fresh session previously
    paid the full trainer before its first query). Staleness is
    content-fingerprinted via ``_content_probe`` over ``src`` (the
    table the trainer samples from) when provided; parquet round-trips
    the float64 centroid/codebook entries exactly (the read_pq_store
    precedent, hash-verified by qst8), so stored-model serving is
    bit-identical to in-line training. The write is the one persisted
    store path, ``operators/similarity.py::_write_store``."""
    store = os.environ.get("SPARK_GRAFT_MODEL_STORE")
    if store:
        return _store_model(spark, store, key, build, src)
    full = (spark.sparkContext.applicationId,) + key
    if full not in _MODEL_MEMO:
        _MODEL_MEMO[full] = build()
    return _MODEL_MEMO[full]


def _store_model(
    spark: SparkSession, store: str, key: tuple, build, src: DataFrame | None
):
    path = os.path.join(
        store, "model_" + hashlib.md5(repr(key).encode()).hexdigest()[:16]
    )
    fingerprint = _content_probe(src) if src is not None else None
    meta = _read_store_meta(path) or {}
    if meta.get("key") != repr(key) or (
        fingerprint is not None and meta.get("fingerprint") != fingerprint
    ):
        val = build()
        frames = list(val) if isinstance(val, (list, tuple)) else [val]
        meta = {
            "key": repr(key),
            "n_parts": len(frames),
            "kind": (
                "list"
                if isinstance(val, list)
                else "tuple" if isinstance(val, tuple) else "single"
            ),
            "fingerprint": fingerprint,
        }
        # literal model frames are O(k*d) — one file keeps the
        # round-trip row order deterministic
        _write_store(
            path, {f"part{i}": f.coalesce(1) for i, f in enumerate(frames)}, meta
        )
    # serve THIS call from the persisted frames too, so first-call and
    # recurring-call values share one code path (and one row order)
    frames = [
        spark.read.parquet(os.path.join(path, f"part{i}"))
        for i in range(int(meta["n_parts"]))
    ]
    if meta["kind"] == "single":
        return frames[0]
    return tuple(frames) if meta["kind"] == "tuple" else frames


def _lloyd_ctes(
    sfx: str, src: str, k: int | str, n_iter: int, d: int, dot: str,
    spherical: bool = True,
) -> list[str]:
    """The oracle side of ``operators/similarity.py::_lloyd``: its
    seeded training replayed as a finite CTE chain over the
    (vec_id, u) view ``src`` — ``cent0{sfx}`` then ``n_iter`` rounds
    ending in ``cent{n_iter}{sfx}`` (cid, c).

    The chain is exact because the engine fixes the iteration count
    and removes every nondeterminism: the init is the k points ranked
    first by ``md5(vec_id)``; each round's assignment ``asg{i}{sfx}``
    is the argmax of ``dot`` (a fold or ``_qd`` dot spherical, the
    ``_L2_SCORE`` L2), ties to the lowest cid; the means are
    quantized-integer positional sums,
    ``sum(floor(val*1e9+0.5)::BIGINT)`` per (cid, pos), which commute
    exactly, so a cell mean is identical under any summation order
    (``operators/similarity.py::_cell_means``). ``spherical`` renormalizes the means (four CTEs
    per round); L2 keeps them (two). A centroid that wins no point
    has no mean and drops out, as in the engine. A zero-mean
    spherical cell divides by zero: DuckDB answers with NULL, so its
    centroid comes back all-NULL and the next assignment over it
    raises."""
    ctes = [
        f"""cent0{sfx} AS (
      SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::BIGINT AS cid,
             u AS c
      FROM {src}
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= {k}
    )"""
    ]
    for i in range(n_iter):
        ctes.append(_argmax_cte(f"asg{i}{sfx}", src, f"cent{i}{sfx}", dot))
        if spherical:
            ctes += [
                f"""expl{i}{sfx} AS (
      SELECT cid, j AS pos, u[j] AS val
      FROM asg{i}{sfx} CROSS JOIN (SELECT unnest(range(1, {d + 1})) AS j)
    )""",
                f"""qsum{i}{sfx} AS (
      SELECT cid, pos,
             (sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT)))::BIGINT AS qsum,
             count(*)::BIGINT AS n
      FROM expl{i}{sfx} GROUP BY cid, pos
    )""",
                f"""mv{i}{sfx} AS (
      SELECT cid, list(qsum::DOUBLE / (1000000000.0 * n) ORDER BY pos) AS mv
      FROM qsum{i}{sfx} GROUP BY cid
    )""",
                f"""cent{i + 1}{sfx} AS (
      SELECT cid, list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv))) AS c
      FROM mv{i}{sfx}
    )""",
            ]
        else:
            ctes += [
                f"""qsum{i}{sfx} AS (
      SELECT cid, j AS pos,
             (sum(CAST(floor(u[j] * 1000000000.0 + 0.5) AS BIGINT)))::BIGINT AS qsum,
             count(*)::BIGINT AS n
      FROM asg{i}{sfx} CROSS JOIN (SELECT unnest(range(1, {d + 1})) AS j)
      GROUP BY cid, pos
    )""",
                f"""cent{i + 1}{sfx} AS (
      SELECT cid, list(qsum::DOUBLE / (1000000000.0 * n) ORDER BY pos) AS c
      FROM qsum{i}{sfx} GROUP BY cid
    )""",
            ]
    return ctes


def _argmax_cte(
    name: str, src: str, cent: str, dot: str, keep_u: bool = True, rnk: str = "= 1"
) -> str:
    """CTE ``name``: each point of ``src`` with the cells of ``cent``
    whose rank by ``dot`` (descending, ties to the lowest cid) is
    ``rnk`` — an assignment (``= 1``) or a probe list (``<= n``)."""
    u, pu = ("u, ", "p.u, ") if keep_u else ("", "")
    return f"""{name} AS (
      SELECT vec_id, {u}cid FROM (
        SELECT p.vec_id, {pu}c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dot} DESC, c.cid) AS rnk
        FROM {src} p CROSS JOIN {cent} c) t
      WHERE rnk {rnk}
    )"""


def _cell_dot(quant: bool) -> str:
    """A point's score against a spherical centroid: the quantized
    integer dot (the dgemm routes) or the fold dot."""
    return _qd("p.u", "c.c") if quant else "list_dot_product(p.u, c.c)"


def _pair_score(quant_pairs: bool) -> tuple[str, str]:
    """(column, expression) of a within-cell pair score over unit
    vectors ``a.u``/``b.u``: the quantized-exact ``cosine_q`` = qdot /
    2^40 of the BLAS twins, or the fixed-point fold ``cosine_r``."""
    if quant_pairs:
        return "cosine_q", f"{_qd('a.u', 'b.u')} / {_QA * _QA}"
    return "cosine_r", "floor(list_dot_product(a.u, b.u) * 1000000 + 0.5) / 1000000"


def _ivf_kmeans_oracle(
    k: int | str,
    n_iter: int,
    d: int,
    topk: int,
    nprobe: int = 1,
    extra_cte: str = "",
    post_u_cte: str = "",
    train_src: str = "u",
    quant_pairs: bool = False,
    quant_final: bool = False,
    quant_iters: bool = False,
) -> str:
    """DuckDB replay of seeded spherical k-means (``_lloyd_ctes``) +
    IVF search: every point assigned to its cell (``asgf``), each
    query probing its top-``nprobe`` cells.

    ``k`` may be an SQL expression (a scalar subquery over a sizing
    CTE passed via ``extra_cte``), so a data-adaptive index size
    replays from the same count arithmetic the engine runs.
    ``post_u_cte``/``train_src``: a CTE defined after ``u`` becomes
    the training set (a digest sample); final assignment and probing
    stay over the full ``u``. ``quant_pairs`` scores pairs as
    ``cosine_q`` (``_pair_score``); ``quant_final`` scores the final
    assignment and probes, ``quant_iters`` the Lloyd rounds, with
    ``_qd`` (the dgemm routes)."""
    ctes = ([extra_cte] if extra_cte else []) + [_U_CTE]
    if post_u_cte:
        ctes.append(post_u_cte)
    ctes += _lloyd_ctes("", train_src, k, n_iter, d, _cell_dot(quant_iters))
    # query side: top-nprobe cells per point (probe rank 1 == the
    # assigned cell, same total order); database side stays asgf, so
    # each (query, neighbor) pair arises at most once
    cent, dot = f"cent{n_iter}", _cell_dot(quant_final)
    ctes.append(_argmax_cte("asgf", "u", cent, dot))
    ctes.append(_argmax_cte("probes", "u", cent, dot, rnk=f"<= {nprobe}"))
    col, score = _pair_score(quant_pairs)
    ctes.append(
        f"""pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {score} AS {col}
      FROM probes a JOIN asgf b ON a.cid = b.cid AND a.vec_id <> b.vec_id
    )"""
    )
    return _with(ctes, _ranked(col, "pairs", topk))


def _imi_half_chain(
    sfx: str, src: str, k: str, n_iter: int, d: int,
    assign_src: str | None = None,
    quant_final: bool = False,
    quant_iters: bool = False,
) -> list[str]:
    """One spherical quantizer (suffix ``sfx``): ``_lloyd_ctes`` over
    the training view ``src``, then the final assignment
    ``asgf{sfx}`` (vec_id, cid) over ``assign_src`` (default ``src``;
    the full corpus when training is sampled). ``quant_final`` /
    ``quant_iters`` score the final / per-round assignments with
    ``_qd``."""
    return _lloyd_ctes(sfx, src, k, n_iter, d, _cell_dot(quant_iters)) + [
        _argmax_cte(
            f"asgf{sfx}", assign_src or src, f"cent{n_iter}{sfx}",
            _cell_dot(quant_final), keep_u=False,
        )
    ]


def _imi_cells(
    d: int, n_iter: int, sfx: str, quant_final: bool = False
) -> list[str]:
    """The 'imi:' two-level index (qs17's model) as CTEs: sizing
    k_each = ceil(sqrt(n/256)), the unit view ``u``, the digest
    training sample, the half views ``uh1``/``uh2`` (``uh1t``/``uh2t``
    over the sample) and one ``_imi_half_chain`` per half, suffixed
    ``{sfx}1`` and ``{sfx}2``."""
    h = d // 2
    ctes = [
        _SIZEN,
        "sizek AS (SELECT greatest(2, CAST(ceil(sqrt(n / 256.0)) AS BIGINT))"
        " AS k FROM sizen)",
        _U_CTE,
        _sample_cte("utrain", "u", "imi:", _TRAIN_FRAC_SQL),
        f"uh1 AS (SELECT vec_id, u[1:{h}] AS u FROM u)",
        f"uh2 AS (SELECT vec_id, u[{h + 1}:{d}] AS u FROM u)",
        f"uh1t AS (SELECT vec_id, u[1:{h}] AS u FROM utrain)",
        f"uh2t AS (SELECT vec_id, u[{h + 1}:{d}] AS u FROM utrain)",
    ]
    for half in "12":
        ctes += _imi_half_chain(
            sfx + half, f"uh{half}t", "(SELECT k FROM sizek)", n_iter, h,
            assign_src=f"uh{half}", quant_final=quant_final,
        )
    return ctes


# qs14/qs16/qs23's sized IVF: k = floor(sqrt(n)) cells trained on the
# 'ivf:' digest sample
_IVF_SIZED = dict(
    extra_cte=f"{_SIZEN},\n    {_SIZEK}",
    post_u_cte=_sample_cte("utrain", "u", "ivf:", _TRAIN_FRAC_SQL),
    train_src="utrain",
)


# the product cell (cid1, cid2) of every point, with its unit vector
_IMI_ASG = """asg AS (
      SELECT a1.vec_id, u.u, a1.cid AS cid1, a2.cid AS cid2
      FROM asgf_1 a1
      JOIN asgf_2 a2 ON a1.vec_id = a2.vec_id
      JOIN u ON u.vec_id = a1.vec_id
    )"""


def _imi_oracle(
    d: int,
    n_iter: int,
    topk: int,
    nprobe_each: int = 1,
    quant_pairs: bool = False,
    quant_final: bool = False,
) -> str:
    """DuckDB replay of the ENTIRE two-level IMI pipeline — sizing
    (k_each = ceil(sqrt(n/256))), the digest training sample, both
    half-vector quantizer trainings over it, the full-corpus
    product-cell assignment, and the within-cell search — as one
    finite CTE chain (``_imi_cells``). ``nprobe_each`` > 1 probes each
    query's top-n cells PER HALF (an n×n product probe grid) while
    the database side stays in its single assigned product cell —
    the qs11 multiprobe convention lifted to the two-level index.

    ``quant_final`` replays the final HALF-assignments (and probe
    rankings) with quantized integer dots — the dgemm assignment
    route of the graduated BLAS twins; ``quant_pairs`` replays the
    quantized-exact within-cell search (fixed-point ``cosine_q`` =
    qdot / 2^40). Training iterations stay float folds (the shared
    memoized 'imi:' model)."""
    ctes = _imi_cells(d, n_iter, "_", quant_final) + [_IMI_ASG]
    if nprobe_each > 1:
        for half in "12":
            ctes.append(
                _argmax_cte(
                    f"probes_{half}", f"uh{half}", f"cent{n_iter}_{half}",
                    _cell_dot(quant_final), keep_u=False,
                    rnk=f"<= {nprobe_each}",
                )
            )
        ctes.append(
            """qprod AS (
      SELECT p1.vec_id, u.u, p1.cid AS cid1, p2.cid AS cid2
      FROM probes_1 p1
      JOIN probes_2 p2 ON p1.vec_id = p2.vec_id
      JOIN u ON u.vec_id = p1.vec_id
    )"""
        )
        query_side = "qprod"
    else:
        query_side = "asg"
    col, score = _pair_score(quant_pairs)
    ctes.append(
        f"""pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {score} AS {col}
      FROM {query_side} a JOIN asg b
        ON a.cid1 = b.cid1 AND a.cid2 = b.cid2 AND a.vec_id <> b.vec_id
    )"""
    )
    return _with(ctes, _ranked(col, "pairs", topk))


@register("qs7_cosine_topk_ivf_kmeans", oracle=_ivf_kmeans_oracle(16, 2, 64, 5))
def qs7_cosine_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINNED FULL-TRAIN BASELINE — use qs16 (sized cells, sample
    trainer) or qs14 (same + multiprobe) at scale; this query exists
    as the exactness anchor every sized/sampled variant verifies
    against. k=16 is pinned (candidates grow n²/16, measured x8.6 on
    x10 data) and the trainer scores the full corpus.

    IVF with a TRAINED coarse quantizer: seeded spherical k-means
    (k=16, 2 Lloyd's rounds, pure DataFrame ops) replaces qs3's fixed
    sign-hyperplanes; search restricts candidates to the learned cell
    (equi-join on cluster id) before the exact fold kernel. The
    oracle replays the full training as a CTE chain — init ranking,
    argmax assignment, sorted-fold means — so even the model is
    hash-verified, not just the search. Data-adaptive cells beat
    fixed sign-cuts on clustered data at equal candidate volume
    (recall asserted vs qs2 in tests/test_similarity.py); qs8 is the
    BLAS-kernel throughput twin of this same search."""
    from spotify_pipeline_gcp_spark.operators.similarity import cosine_topk_kmeans

    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_kmeans(
        emb, k_neighbors=5, n_clusters=16, n_iter=2
    ).withColumnRenamed("cosine", "cosine_r")


@register(
    "qs11_cosine_topk_ivf_kmeans_multiprobe",
    oracle=_ivf_kmeans_oracle(16, 2, 64, 5, nprobe=2),
)
def qs11_cosine_topk_ivf_kmeans_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PINNED FULL-TRAIN BASELINE — use qs14 at scale: the same
    multiprobe search with k sized from the corpus count and the
    O(n) digest-sample trainer (k=16 pinned here, measured x13.9 on
    x10 data); this query exists as the exactness anchor.

    Trained IVF with nprobe=2 — the recall/cost knob of a
    production IVF index (operators/similarity.py::
    cosine_topk_kmeans_multiprobe). Each query probes its TWO nearest
    trained cells (``_topn_probes``: partial-aggregable per-point
    top-n, no ranking window) while database vectors stay in their
    one assigned cell; candidate volume ~doubles vs qs7 and recall
    climbs toward exact (qs2). Completes the ladder qs3 (fixed cells,
    1 probe) → qs5 (fixed cells, multi-probe) → qs7 (trained cells,
    1 probe) → qs11 (trained cells, multi-probe). The oracle replays
    training AND probe ranking as one CTE chain.

    The database side's assignment is probe rank 1 of the SAME
    ranked-probes subplan (identical total order — see
    ``_topn_probes``), filtered in the join condition above the
    shared cid exchange, so ReuseExchange runs the n·k scoring pass
    once instead of twice."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans_multiprobe,
    )

    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_kmeans_multiprobe(
        emb, k_neighbors=5, n_clusters=16, n_iter=2, nprobe=2
    ).withColumnRenamed("cosine", "cosine_r")


@register(
    "qs1_embed_norms",
    oracle=f"""
    SELECT vec_id, label,
           {sql_fixed('sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))', 6)} AS norm_r
    FROM embeddings
    """,
)
def qs1_embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms of the embedding column — the array-arithmetic kernel
    (zip_with/aggregate fold, pure codegen)."""
    emb = table(spark, sf_dir, "embeddings")
    return with_norm(emb).select(
        "vec_id", "label", fixed(F.col("norm"), 6).alias("norm_r")
    )


@register(
    "qs2_cosine_topk",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ){_ranked("cosine_r", "pairs", 5)}""",
)
def qs2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-5 per vector.

    n² dot products + ranking window. The correctness reference for
    the bucketed scale path (qs3)."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, k=5).withColumnRenamed("cosine", "cosine_r")


@register(
    "qs3_cosine_topk_bucketed",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding,
             {_SIGN4} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM coded a JOIN coded b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ){_ranked("cosine_r", "pairs", 5)}""",
)
def qs3_cosine_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINNED BASELINE — use qs13_cosine_topk_bucketed_sized at
    scale; this query exists as the byte-stable correctness anchor.

    Approximate ANN: sign-quantized bucketing (IVF shape) restricts
    candidates to the same coarse cell before the exact kernel —
    the join volume drops ~16x at 4 bits. 4 bits is pinned so the
    oracle replays byte-identically at every sf, but fixed buckets
    grow candidates n²/16 (measured x43.6 on x10 data). qs13 is this
    exact query with bits sized from the corpus count."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_bucketed(emb, k=5, n_bits=4).withColumnRenamed(
        "cosine", "cosine_r"
    )


@register(
    "qs5_cosine_topk_multiprobe",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding,
             {_SIGN4} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id, embedding, xor(bucket, p) AS probe
      FROM coded CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS p)
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM probes a JOIN coded b ON b.bucket = a.probe AND a.vec_id <> b.vec_id
    ){_ranked("cosine_r", "pairs", 5)}""",
)
def qs5_cosine_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN (operators/similarity.py::cosine_topk_multiprobe
    shape): each query also probes the n_bits buckets one sign-flip
    away, recovering boundary-loss recall at (n_bits+1)x candidate
    cost — the IVF nprobe>1 pattern. Candidate generation remains an
    equi-join on the probe code, ranked two-level (per-(probe, query)
    top-5, then a global re-rank over ≤ 5·5 rows per query)."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_multiprobe(emb, k=5, n_bits=4).withColumnRenamed(
        "cosine", "cosine_r"
    )


@register(
    "qs4_cosine_topk_blas",
    # HASH-VERIFIED (r12): scoring is quantized-exact (the qs19b
    # build discipline applied to SEARCH) — the dgemm computes
    # integer dots of 2^20-rounded unit vectors, exact in float64
    # under any accumulation order, and the oracle replays the same
    # quantized dots. cosine_q = qdot / 2^40, a dyadic rational both
    # engines represent bit-identically.
    oracle=f"""
    WITH unitv AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS u
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             list_transform(u, x -> floor(x * {_QA} + 0.5)) AS qu
      FROM unitv
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.qu, b.qu) / {_QA * _QA} AS cosine_q
      FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
    ){_ranked("cosine_q", "pairs", 5)}""",
)
def qs4_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput ANN path: distributed block-matmul with an Arrow-
    batched NumPy kernel (operators/similarity.py::cosine_topk_blas).
    Fully distributed — packed block table cross-joined with itself,
    one BLAS slab per combo, window merge of partial top-k; the
    driver never holds vector data.

    Graduated from rows-only to HASH-VERIFIED in r12 via
    quantized-exact scoring, the operator's only mode: the packed
    blocks carry the raw float32 embeddings, the kernel unit-normalizes
    them bit-exactly like the JVM fold, rounds at 2^20, and scores by a
    dgemm whose integer dots are exact in float64 (d=64 dot ≤ 2^46 <
    2^53) — so the DuckDB oracle replays every score bit-for-bit and
    the rank order is deterministic. The 2^-20 quantization moves only pairs
    within ~1e-6 of a rank boundary, identically in every engine;
    qs2 remains the raw-float exact-fold baseline (agreement pinned
    in tests/test_similarity.py)."""
    from spotify_pipeline_gcp_spark.operators.similarity import cosine_topk_blas

    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_blas(emb, k=5).withColumnRenamed(
        "cosine", "cosine_q"
    )


@register(
    "qs6_cosine_topk_ivf_blas",
    # HASH-VERIFIED (r12): same quantized-exact graduation as qs4 —
    # sign buckets are engine-exact (sign(u_i) == sign(v_i)), and
    # within-bucket dgemm scores are integer dots the oracle replays.
    oracle=f"""
    WITH unitv AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS u
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             {_SIGN4} AS bucket,
             list_transform(u, x -> floor(x * {_QA} + 0.5)) AS qu
      FROM unitv
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.qu, b.qu) / {_QA * _QA} AS cosine_q
      FROM qv a JOIN qv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ){_ranked("cosine_q", "pairs", 5)}""",
)
def qs6_cosine_topk_ivf_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN shape: IVF-style candidate pruning (qs3's
    sign-bucket code) fused with the Arrow/NumPy block kernel (qs4's
    throughput) — operators/similarity.py::cosine_topk_bucketed_blas.
    Each bucket packs to one block and scores against itself, so
    candidate generation needs no join at all; FLOPs drop ~2^n_bits
    vs brute force AND each FLOP runs at BLAS speed.

    Graduated from rows-only to HASH-VERIFIED in r12 (with qs4):
    quantized-exact within-bucket scoring — the oracle replays the
    sign buckets (raw-sign, engine-exact) and the integer dots
    bit-for-bit. qs3 remains the raw-float fold baseline over the
    same buckets (agreement pinned in tests/test_similarity.py)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_bucketed_blas,
    )

    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_bucketed_blas(emb, k=5, n_bits=4).withColumnRenamed(
        "cosine", "cosine_q"
    )


@register(
    "qs8_cosine_topk_ivf_kmeans_blas",
    # HASH-VERIFIED (r12): qs7's trained cells (float-fold Lloyd chain,
    # already oracle-replayed) + quantized-exact within-cell dgemm
    # scoring (the qs4 graduation applied to the trained index).
    oracle=_ivf_kmeans_oracle(16, 2, 64, 5, quant_pairs=True),
)
def qs8_cosine_topk_ivf_kmeans_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF at BLAS speed — k-means cells (qs7's trained
    quantizer) fused with the Arrow/NumPy block kernel (qs4/qs6's
    throughput): each learned cell packs to one block and scores
    against itself, no candidate join. The end state of the ANN
    ladder: learned pruning AND vectorized scoring.

    Graduated from rows-only to HASH-VERIFIED in r12: training and
    cell assignment are qs7's float-fold steps (the oracle replays
    that chain verbatim), and the within-cell search runs the
    quantized-exact kernel (integer dots of 2^20-rounded unit
    vectors — exact in float64 under any dgemm accumulation order,
    emitted as fixed-point ``cosine_q``). qs7 remains the raw-float
    fold twin over the SAME cells (agreement asserted in
    tests/test_similarity.py)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans_blas,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_kmeans_blas(
        emb, k_neighbors=5, n_clusters=16, n_iter=2
    ).withColumnRenamed("cosine", "cosine_q")


@register(
    "qs9_filtered_ann",
    oracle=f"""
    WITH filtered AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0
    ),
    nb AS (
      SELECT {_SIZED_BITS_SQL} AS bits FROM filtered
    ),
    coded AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM filtered
    ),
    {_DROP_HOT}
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM kept a JOIN kept b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ){_ranked("cosine_r", "pairs", 3)}""",
)
def qs9_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search at the scale shape: a metadata
    predicate (label % 2 = 0) prunes the base table BEFORE bucketed
    candidate generation — filter, then bucket, then in-cell top-k.
    Dedicated vector stores struggle here (post-filtering an ANN
    result loses recall when the filter is selective; pre-filtering
    breaks their index); in a relational engine the predicate simply
    composes — Catalyst pushes it into the parquet scan and recall
    over the filtered universe equals unfiltered single-probe recall
    by construction. The same composition applies in front of the
    multi-probe / k-means / BLAS variants. Buckets are AUTO-SIZED
    over the FILTERED universe (sign_bits_for — the filter halves n,
    so the index is one bit narrower than qs13's; the oracle replays
    the sizing from the filtered count) and hot buckets are dropped
    (MAX_SIGN_BUCKET, oracle-replayed — see qs13)."""
    emb = table(spark, sf_dir, "embeddings").where(F.col("label") % 2 == 0)
    n_bits = sign_bits_for(emb.count())
    base = drop_hot_buckets(
        _double_base(emb, "vec_id", "embedding").withColumn(
            "bucket", sign_bucket("v", n_bits)
        )
    )
    return _fold_topk(base, 3).withColumnRenamed("cosine", "cosine_r")


@register(
    "qe1_label_centroids",
    oracle="""
    WITH u AS (
      SELECT label,
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[]))) AS u
      FROM embeddings
    ),
    expl AS (
      SELECT label, j AS pos, u[j] AS val
      FROM u CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
    ),
    qsum AS (
      SELECT label, pos,
             (sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT)))::BIGINT AS qsum,
             count(*)::BIGINT AS n_vecs
      FROM expl GROUP BY label, pos
    ),
    m AS (
      SELECT label,
             list(qsum::DOUBLE / (1000000000.0 * n_vecs) ORDER BY pos) AS mv,
             max(n_vecs) AS n_vecs
      FROM qsum GROUP BY label
    )
    SELECT label, n_vecs,
           floor(sqrt(list_dot_product(mv, mv)) * 1000000 + 0.5) / 1000000 AS mean_norm_r,
           floor(mv[1] * 1000000 + 0.5) / 1000000 AS c1_r,
           floor(mv[2] * 1000000 + 0.5) / 1000000 AS c2_r,
           floor(mv[3] * 1000000 + 0.5) / 1000000 AS c3_r,
           floor(mv[4] * 1000000 + 0.5) / 1000000 AS c4_r
    FROM m
    """,
)
def qe1_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ANALYTICS: per-label class prototypes — the mean of
    each label's unit vectors, via the trainer's quantized-BIGINT
    aggregation FUSED into one wide groupBy
    (``label_centroids_wide``: normalization inline per element, d
    sibling sums, one exchange — the embedding dim is statically
    known, so no posexplode fan-out is needed); the prototype stays
    hash-verified and map-side combinable — no row ever holds a
    label's full member list. Emits the mean's norm (a
    class-coherence signal: near 1 = tight cluster, near 0 =
    dispersed) and the first four components, fixed-point rounded."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _dot_pre,
        label_centroids_wide,
    )

    emb = table(spark, sf_dir, "embeddings")
    m = label_centroids_wide(emb, "label", "embedding", dim=64).select(
        "label", "mv", F.col("n").alias("n_vecs")
    )
    return m.select(
        "label",
        "n_vecs",
        fixed(F.sqrt(_dot_pre(F.col("mv"), F.col("mv"))), 6).alias("mean_norm_r"),
        *[
            fixed(F.element_at("mv", j + 1), 6).alias(f"c{j + 1}_r")
            for j in range(4)
        ],
    )


@register(
    "qs12_embedding_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
      FROM (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM v
      )
    ),
    e AS (
      SELECT vec_id, scale,
             list_transform(v,
               x -> abs(x - floor(x / scale + 0.5) * scale)) AS err
      FROM s
    )
    SELECT vec_id,
           {sql_fixed('scale', 9)} AS scale_r,
           {sql_fixed('list_max(err)', 9)} AS max_abs_err_r,
           {sql_fixed('(0.0 + list_reduce(err, (a, b) -> a + b)) / len(err)', 9)}
             AS mean_abs_err_r
    FROM e
    """,
)
def qs12_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale plus max
    and mean absolute reconstruction error — the compression step a
    100 TB vector corpus applies before serving, shipped WITH its
    measured error (operators/similarity.py::quantize_int8). Pure
    row-local array expressions; explicit half-up rounding and a
    left-to-right error fold keep both engines bitwise-identical."""
    from spotify_pipeline_gcp_spark.operators.similarity import quantize_int8

    emb = table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "vec_id", "embedding")
    return out.select(
        F.col("id").alias("vec_id"),
        fixed(F.col("scale_raw"), 9).alias("scale_r"),
        fixed(F.col("max_abs_err_raw"), 9).alias("max_abs_err_r"),
        fixed(F.col("mean_abs_err_raw"), 9).alias("mean_abs_err_r"),
    )


@register(
    "qs10_ann_full_blas",
    # HASH-VERIFIED (r12): the whole pipeline — Lloyd iterations,
    # corpus assignment, AND search — scores quantized integer dots a
    # dgemm computes bit-identically to this replay.
    oracle=_ivf_kmeans_oracle(
        16, 2, 64, 5, quant_pairs=True, quant_final=True, quant_iters=True
    ),
)
def qs10_ann_full_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-throughput trained ANN: every stage a matmul — the
    quantized-throughput trainer (``kmeans_centroids_quant_on``: each
    Lloyd assignment one dgemm pass, driver combines O(k·d) model
    state), quantized dgemm corpus assignment, and the bucket-packed
    quantized-exact BLAS search. qs7 is the float-fold all-DataFrame
    twin, qs8 the half-step (fold trainer + dgemm search).

    Graduated from rows-only to HASH-VERIFIED in r12: with every
    score an integer dot of 2^20-rounded unit vectors (exact in
    float64 under any accumulation order), the SQL oracle replays
    training, assignment, and search bit-for-bit — the qs19b store
    discipline now covering the ONLY fully-dgemm pipeline in the
    family.

    PINNED 16 cells like qs7/qs8 — a kernel demonstration, not the
    scale shape: within-cell search grows n²/16 (the r9 ladder
    measured ×32.8 wall for ×10 data at the 100× point — the row
    exists to make the class visible). At scale use the SIZED BLAS
    paths: qs23 (√n-cell IVF, same dgemm) or qs26/qs28 (linear IMI
    grid); decision table in COVERAGE.md."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans_blas_trained,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_kmeans_blas_trained(
        emb, k_neighbors=5, n_clusters=16, n_iter=2
    ).withColumnRenamed("cosine", "cosine_q")


@register(
    "qs13_cosine_topk_bucketed_sized",
    oracle=f"""
    WITH nb AS (
      SELECT {_SIZED_BITS_SQL} AS bits FROM embeddings
    ),
    coded AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM embeddings
    ),
    {_DROP_HOT}
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM kept a JOIN kept b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ){_ranked("cosine_r", "pairs", 5)}""",
)
def qs13_cosine_topk_bucketed_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SIZED sign-bucket ANN — qs3's shape with the index
    grown from the corpus size instead of pinned: bits =
    ``sign_bits_for(count)`` so the average bucket holds ~256 vectors
    at ANY scale. This is the production shape: with buckets pinned,
    within-bucket candidates grow n²/2^bits (SCALE_BENCH_r05 measured
    qs3's pinned 16 buckets at x77 on x10 data; auto-sized the same
    query stays ~linear). The oracle replays the SAME sizing
    arithmetic from the same count — ceil(log2(n // 256)) is exact
    integer-input math in both engines — so the data-adaptive index
    is hash-verified, not just the search. The count() is one
    footer-stats job producing a single scalar; at 100 TB it is noise
    next to the candidate join it right-sizes. Since r10 the self-join
    also drops HOT buckets (> MAX_SIGN_BUCKET = 4096 members, replayed
    by the oracle): sign bits are data-correlated, so auto-sizing
    bounds the AVERAGE bucket but not a dense region's — the cap makes
    worst-case candidates linear (cap*n/2). Never binds at driver
    scale, so oracle rows are unchanged where the driver checks them;
    queries inside a dropped mega-bucket return no neighbors (the
    qd3b/qd9b posting-cap recall trade)."""
    emb = table(spark, sf_dir, "embeddings")
    n_bits = sign_bits_for(emb.count())
    base = drop_hot_buckets(
        _double_base(emb, "vec_id", "embedding").withColumn(
            "bucket", sign_bucket("v", n_bits)
        )
    )
    return _fold_topk(base, 5).withColumnRenamed("cosine", "cosine_r")


@register(
    "qs30_cosine_topk_bucketed_blas_sized",
    # HASH-VERIFIED: qs13's sizing + cap arithmetic replayed, with
    # quantized-exact within-bucket scoring (the qs4/qs6 discipline)
    oracle=f"""
    WITH nb AS (
      SELECT {_SIZED_BITS_SQL} AS bits FROM embeddings
    ),
    coded AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
             {_SIZED_BUCKET} AS bucket
      FROM embeddings
    ),
    {_DROP_HOT}
    qb AS (
      SELECT vec_id, bucket,
             list_transform(v, x -> floor((x / norm) * {_QA} + 0.5)) AS qu
      FROM kept
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.qu, b.qu) / {_QA * _QA} AS cosine_q
      FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ){_ranked("cosine_q", "pairs", 5)}""",
)
def qs30_cosine_topk_bucketed_blas_sized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The AUTO-SIZED sign-bucket self-join at BLAS throughput — the
    missing cell next to qs13 (sized fold, 270 s at the 1000× rung in
    r10): same index arithmetic (bits = ``sign_bits_for(count)``, hot
    buckets > ``MAX_SIGN_BUCKET`` dropped — both replayed by the
    oracle), but each bucket packs into one row and scores against
    itself as a single quantized-exact dgemm (the qd7c/qs6 kernel;
    the cap also bounds the per-task score matrix at cap² × 8 B).
    Hash-verified: ``cosine_q`` = qdot/2^40, dyadic in both engines.
    qs13 remains the raw-float fold anchor over the same buckets —
    this is the shape the 100 TB all-corpus hash-cell self-join
    actually runs."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        MAX_SIGN_BUCKET,
        cosine_topk_bucketed_blas,
        sign_bits_for,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    n_bits = sign_bits_for(emb.count())
    return cosine_topk_bucketed_blas(
        emb,
        k=5,
        n_bits=n_bits,
        max_bucket=MAX_SIGN_BUCKET,
    ).withColumnRenamed("cosine", "cosine_q")


@register(
    "qs14_cosine_topk_ivf_kmeans_sized",
    oracle=_ivf_kmeans_oracle(
        "(SELECT k FROM sizek)", 2, 64, 5, nprobe=2, **_IVF_SIZED
    ),
)
def qs14_cosine_topk_ivf_kmeans_sized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION trained IVF, converged on the O(n) trainer
    (r6 verdict item #1): k = ``trained_cells_for(count)`` = floor(√n)
    cells, k-means trained on the ~32·k digest SAMPLE (the exact
    sample qs16 trains on — same 'ivf:' salt, so qs14 and qs16 share
    one hash-verified index model; trainer cost 32k² = O(n), vs the
    retired full-corpus trainer's n·k = n^1.5, measured x281 on x100
    data in SCALE_BENCH_r06), searched with nprobe=2 MULTIPROBE —
    each query probes its two nearest trained cells while the corpus
    side stays in its single assigned cell (qs11's recall knob,
    previously available only with a pinned full-trained k=16). Both
    join sides are the SAME ranked-probes subplan behind one cid
    repartition (``probe_rank = 1`` IS the assignment — same total
    order), so ReuseExchange scores the n·k table once. The oracle
    replays sizing, sample membership, training, assignment, and the
    two-cell probing from the same count arithmetic — the full
    data-adaptive model is hash-verified end to end. qs7 remains the
    registered full-train pinned-k exactness baseline; qs16 the
    single-probe twin."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _topn_probes,
        _unit_vectors,
        kmeans_centroids,
        trained_cells_for,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    sample = _digest_sample(emb, "ivf:", _train_frac(n, k))
    # the memoized shared 'ivf:' model (qs14/qs16/qs23 — one
    # in-session trainer run serves all three; values identical)
    cent = _memo_model(
        spark,
        ("ivf-cent", sf_dir, n, k, 2),
        lambda: kmeans_centroids(sample, "vec_id", "embedding", k=k, n_iter=2),
        src=emb,
    )
    pts = _unit_vectors(emb, "vec_id", "embedding")
    probes = _topn_probes(pts, cent, 2).repartition(F.col("cid"))
    # two-level top-k: the n·√n·2 pair stream is cut to ≤ 2·5 rows
    # per query before the one query_id exchange
    return _fold_topk(probes, 5).withColumnRenamed("cosine", "cosine_r")


# the L2 Lloyd score: argmin Euclidean distance, |u|^2 being constant
# per point
_L2_SCORE = "list_dot_product(p.u, c.c) - 0.5 * list_dot_product(c.c, c.c)"


def _pq_sub_chain(
    s: int, k: int, n_iter: int, d_sub: int, train_src: str, quant_enc: bool
) -> list[str]:
    """One PQ sub-quantizer over slice ``s`` (``d_sub`` wide): the
    slice view ``sub_{s}`` of the training view ``train_src``, the L2
    ``_lloyd_ctes``, the corpus encoding ``enc_{s}`` over ``cview``
    and the query table ``tq_{s}`` over ``qview``. ``quant_enc``
    scores the ENCODING with the quantized integer form
    ``2·qdot(u_s, c) − qdot(c, c)`` (exact in float64, a
    positive-scaled shift of the float rule — the fused dgemm build
    kernel's selection); training and the float ADC query tables are
    unchanged."""
    sfx = f"_{s}"
    lo, hi = s * d_sub + 1, (s + 1) * d_sub
    enc_score = (
        f"(2 * {_qd('p.u', 'c.c')} - {_qd('c.c', 'c.c')})" if quant_enc else _L2_SCORE
    )
    return [
        f"sub{sfx} AS (SELECT vec_id, u[{lo}:{hi}] AS u FROM {train_src})",
        *_lloyd_ctes(sfx, f"sub{sfx}", k, n_iter, d_sub, _L2_SCORE, spherical=False),
        f"""enc{sfx} AS (
      SELECT vec_id, {s} AS s, cid AS code FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {enc_score} DESC, c.cid) AS rnk
        FROM (SELECT vec_id, u[{lo}:{hi}] AS u FROM cview) p
        CROSS JOIN cent{n_iter}{sfx} c) t
      WHERE rnk = 1
    )""",
        f"""tq{sfx} AS (
      SELECT q.vec_id AS query_id, {s} AS s, c.cid AS code,
             CAST(floor(list_dot_product(q.u[{lo}:{hi}], c.c)
                        * 1000000000.0 + 0.5) AS BIGINT) AS qt
      FROM qview q CROSS JOIN cent{n_iter}{sfx} c
    )""",
    ]


def _pq_books(
    d: int, m: int, k_pq: int, n_iter: int, train_src: str, quant_enc: bool = False
) -> list[str]:
    """The m ``_pq_sub_chain``s trained on ``train_src``, then their
    unions ``enc`` (vec_id, s, code) and ``tq`` (query_id, s, code,
    qt)."""
    ctes = []
    for s in range(m):
        ctes += _pq_sub_chain(s, k_pq, n_iter, d // m, train_src, quant_enc)
    for name in ("enc", "tq"):
        union = " UNION ALL ".join(f"SELECT * FROM {name}_{s}" for s in range(m))
        ctes.append(f"{name} AS ({union})")
    return ctes


def _adc_oracle(ctes: list[str], joins: str, topk: int) -> str:
    """``ctes`` (ending in ``_pq_books``), then the ADC total of every
    (query, neighbor) pair of ``enc e`` + ``joins`` — exact-integer
    partial sums, rounded once — and its top-``topk``."""
    adc = f"""adc AS (
      SELECT t.query_id, e.vec_id AS neighbor_id,
             floor((sum(t.qt)::BIGINT)::DOUBLE / 1000000000.0 * 1000000.0 + 0.5)
               / 1000000.0 AS adc_r
      FROM enc e{joins}
      GROUP BY t.query_id, e.vec_id
    )"""
    return _with(ctes + [adc], _ranked("adc_r", "adc", topk))


def _pq_oracle(d: int, m: int, k_pq: int, n_iter: int, topk: int) -> str:
    """DuckDB replay of the full PQ pipeline — m L2 sub-quantizer
    trainings over the ~32·k_pq digest SAMPLE (an O(1)-size training
    set at fixed k_pq — the qs16 convergence applied to PQ),
    full-corpus encoding, and the asymmetric-distance (ADC) search
    with exact-integer partial-score sums — finite CTE chain, same
    portability arguments as ``_lloyd_ctes``."""
    ctes = [
        _SIZEN,
        _U_CTE,
        _sample_cte(
            "utrain",
            "u",
            "pqtr:",
            f"least(1.0, (32.0 * {k_pq}) / (SELECT n FROM sizen))",
        ),
        # fixed-size digest-ordered query batch: ADC's per-pair cost
        # is m lookups but the PAIR COUNT is |Q|·n — a query slice
        # proportional to the corpus makes the scoring quadratic-ish
        # (measured x19.9 on x10 data before this bound)
        "qview AS (SELECT u.vec_id, u.u FROM u JOIN embeddings e"
        " ON e.vec_id = u.vec_id WHERE e.label % 10 = 0"
        " ORDER BY md5('pq:' || u.vec_id::VARCHAR) LIMIT 64)",
        "cview AS (SELECT u.vec_id, u.u FROM u JOIN embeddings e"
        " ON e.vec_id = u.vec_id WHERE e.label % 10 <> 0)",
        *_pq_books(d, m, k_pq, n_iter, "utrain"),
    ]
    return _adc_oracle(ctes, " JOIN tq t ON e.s = t.s AND e.code = t.code", topk)


# qview/cview of the self-join ADC oracles: every vector both sides
_ALL_VIEWS = [
    "qview AS (SELECT vec_id, u FROM u)",
    "cview AS (SELECT vec_id, u FROM u)",
]


def _ivfpq_oracle(
    d: int, m: int, k_pq: int, n_iter: int, topk: int,
    quant_assign: bool = False,
) -> str:
    """DuckDB replay of IVF+PQ: the sized spherical coarse chain
    trained on the ~32·√n digest sample (via ``_imi_half_chain`` over
    the full vector, full-corpus final assignment), the m L2 PQ
    sub-chains trained on the SAME sample, and the same-cell ADC
    ranking with exact-integer partial sums. ``quant_assign`` replays
    the QUANTIZED final coarse assignment (the store build's dgemm
    routing — bit-exact, see ``_ASSIGN_QSCALE``): qs19b's form."""
    ctes = [
        _SIZEN,
        _SIZEK,
        _U_CTE,
        _sample_cte("utrain", "u", "ivfpq:", _TRAIN_FRAC_SQL),
        *_ALL_VIEWS,
        # the shared 'ivfpq:' coarse model trains on the QUANTIZED
        # throughput trainer (qs19/qs27/qs19b replay the same
        # iteration dots); the FINAL corpus assignment stays per-query
        # — float fold for the in-session qs19/qs27, quantized for
        # qs19b's store
        *_imi_half_chain(
            "_c", "utrain", "(SELECT k FROM sizek)", n_iter, d,
            assign_src="u", quant_final=quant_assign, quant_iters=True,
        ),
        *_pq_books(d, m, k_pq, n_iter, "utrain", quant_enc=quant_assign),
    ]
    return _adc_oracle(
        ctes,
        """
      JOIN asgf_c be ON be.vec_id = e.vec_id
      JOIN tq t ON e.s = t.s AND e.code = t.code
      JOIN asgf_c qe ON qe.vec_id = t.query_id AND qe.cid = be.cid
      WHERE t.query_id <> e.vec_id""",
        topk,
    )


@register("qs19_cosine_topk_ivfpq", oracle=_ivfpq_oracle(64, 4, 16, 2, 5))
def qs19_cosine_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed index (see
    ``operators/similarity.py::cosine_topk_ivfpq``): sized trained
    coarse cells bound candidates to n²/√n pairs, PQ ADC scores them
    with m lookups per pair over a corpus stored as m small ints —
    the memory AND compute shape a 100 TB vector index serves from.
    As of r7 BOTH trainers (coarse quantizer and the four PQ
    sub-quantizers) run on one shared ~32·√n digest sample (salt
    'ivfpq:', the qs16 convergence — was the repo's two heaviest
    full-corpus trainers composed); the corpus is only assigned and
    encoded against the trained models. The oracle replays the
    sample membership, the coarse training, all four sub-quantizer
    trainings, the encoding, and the same-cell ADC ranking — the
    entire composed index is hash-verified end to end. The trained
    model (centroid + codebook literals) is memoized per (session,
    sf_dir, n) and SHARED with qs27 — identical salt, sizing, and
    deterministic trainers make their two models one model
    (``_memo_model``); repeat runs pay the trainer-collect jobs'
    fixed overhead once, the serving split a deployed index runs."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_ivfpq,
        trained_cells_for,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    cent, books = _ivfpq_model(spark, sf_dir, emb, n, k)
    return cosine_topk_ivfpq(
        emb, k_neighbors=5, n_clusters=k, cent=cent, books=books
    )


def _ivfpq_model(spark, sf_dir: str, emb: DataFrame, n: int, k: int):
    """The shared qs19/qs27 'ivfpq:' model — coarse centroids + PQ
    codebooks trained on the shared ~32·√n digest sample, memoized
    per (session, sf_dir, n). Values identical to in-line training
    (deterministic trainers over the same sample), so both consumers'
    hash-verified oracles replay unchanged."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        kmeans_centroids_quant_on,
        pq_codebooks,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    tpts = _unit_vectors(
        _digest_sample(emb, "ivfpq:", _train_frac(n, k)),
        "vec_id",
        "embedding",
    )
    cent = _memo_model(
        spark,
        # r11: the coarse trainer moved to the quantized-throughput
        # Lloyd loop (dgemm iteration assigns, oracle-replayed via
        # quant_iters) — new memo key so a pre-change in-session memo
        # can never serve the post-change model
        ("ivfpq-cent-q", sf_dir, n, k, 2),
        lambda: kmeans_centroids_quant_on(tpts, k=k, n_iter=2),
        src=emb,
    )
    books = _memo_model(
        spark,
        ("ivfpq-books", sf_dir, n, 4, 16, 16, 2),
        lambda: pq_codebooks(tpts, m=4, d_sub=16, k_pq=16, n_iter=2),
        src=emb,
    )
    return cent, books


def ensure_ivfpq_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-stale guard for the composed IVF+PQ SERVING store
    (qs19b): coarse centroids + PQ codebooks + the ASSIGNED-AND-ENCODED
    corpus (id, cell, codes) — the full FAISS IVFADC index on disk.
    The 'ivfpq:' model is the one qs19/qs27 train (same memoized
    literals), and the corpus assignment and PQ codes persist too —
    so serving pays only the cell join + ADC + top-k, and the n·k
    assignment runs ONCE, at build, at dgemm throughput — fused with
    the PQ encode into a single corpus pass
    (``ivfpq_assign_encode_quant_blas``). The BLAS build is why this
    store is the 1000x-capable build: the fold form's interpreted n·k
    dots are the exact wall that times out the qs19/qst7 builds at
    2 M vectors (SCALE_BENCH_r10's two named timeouts). The routing
    is QUANTIZED-EXACT (integer dots below 2^53 — dgemm order cannot
    shift them, see ``_ASSIGN_QSCALE``), so unlike the raw-float BLAS
    twins this build is HASH-VERIFIED: qs19b's oracle replays the
    quantized assignment. The staleness fingerprint is
    ``_content_probe`` over the full table; the staged write and
    atomic swap are ``operators/similarity.py::_write_store``'s."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _tagged_books,
        ivfpq_assign_encode_quant_blas,
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    m, d_sub = 4, 16
    emb = table(spark, sf_dir, "embeddings")
    path = _ivfpq_store_dir(sf_dir)
    fingerprint = _content_probe(emb)
    if (_read_store_meta(path) or {}).get("fingerprint") != fingerprint:
        ensure_package_on_workers(spark)
        n = fingerprint["n"]
        k = trained_cells_for(n)
        cent, books = _ivfpq_model(spark, sf_dir, emb, n, k)
        # the entire corpus side — cell assignment AND all m code
        # selections — is ONE fused dgemm pass writing (id, cid,
        # codes) straight to the staging dir (FAISS's index.add()
        # shape). The r11 ladder killed both prior forms at 2 M / 4 g:
        # the fused-lineage build (Arrow assign + encode aggregate +
        # join sort in one heap peak -> GCLocker storm) and the staged
        # three-job build (the encode's 128 M-row struct-max
        # SortAggregate stacked on the trainer's retained heap ->
        # >600 s). One pass has no aggregate, no join, no second scan.
        # raw=True (r14 session 5): the kernel unit-normalizes the raw
        # corpus itself — no JVM HOF pass, float32 across Arrow.
        assigned = ivfpq_assign_encode_quant_blas(
            emb,
            cent,
            books,
            m=m,
            d_sub=d_sub,
            id_col="vec_id",
            u_col="embedding",
            raw=True,
        )
        _write_store(
            path,
            {
                "cents": cent,
                "books": _tagged_books(books).select(
                    F.col("q").alias("s"), "cid", "c"
                ),
                "assigned": assigned,
            },
            {"m": m, "d_sub": d_sub, "k": k, "fingerprint": fingerprint},
        )
    return path


def _local_books(spark: SparkSession, path: str, m: int) -> list[DataFrame]:
    """The m PQ sub-codebooks of a store's ``books`` part (s, cid, c)
    as LOCAL frames (r14): codebooks are O(m·k_pq·d_sub) model state
    that consumers collect into literal lookup tables — qst8 once per
    MICRO-BATCH — and a local frame makes that a no-job
    LocalTableScan instead of a parquet scan + filter + sort job every
    time. One scan+collect here, float64 round-trip exact."""
    brows = (
        spark.read.parquet(os.path.join(path, "books"))
        .select("s", "cid", "c")
        .collect()
    )
    return [
        spark.createDataFrame(
            sorted(
                ((int(r["cid"]), list(r["c"])) for r in brows
                 if int(r["s"]) == s)
            ),
            "cid long, c array<double>",
        )
        for s in range(m)
    ]


def read_ivfpq_store(spark: SparkSession, path: str):
    """(books: list[DataFrame], assigned: DataFrame, meta) from an
    ``ensure_ivfpq_store`` directory. Parquet round-trips the float64
    codebook entries and int64 cells/codes exactly, so ADC scores
    from the store are bit-identical to the build-time values. The
    codebooks come back as local frames (``_local_books``);
    ``assigned`` (the corpus) stays a distributed scan."""
    meta = _read_store_meta(path)
    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    return _local_books(spark, path, int(meta["m"])), assigned, meta


@register(
    "qs19b_cosine_topk_ivfpq_store",
    oracle=_ivfpq_oracle(64, 4, 16, 2, 5, quant_assign=True),
)
def qs19b_cosine_topk_ivfpq_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF+PQ served from the PERSISTED composed index — the
    1000x-capable form of qs19 (whose per-session build pays the
    interpreted n·k fold assignment: one of SCALE_BENCH_r10's two
    named >600 s timeouts at 2 M vectors). ``ensure_ivfpq_store``
    builds ONCE — sample-trained 'ivfpq:' model (the same memoized
    literals qs19/qs27 train), corpus assignment at dgemm throughput,
    PQ encode — and persists (id, cell, codes); serving injects the
    stored state into ``cosine_topk_ivfpq``'s tail and pays only the
    cell equi-join + inline ADC + cell-local top-k. The assignment is
    QUANTIZED-EXACT (``ivfpq_assign_encode_quant_blas``: one fused
    corpus pass selecting the cell AND all m PQ codes, integer dots a
    dgemm computes bit-identically to the SQL fold), so unlike the
    raw-float BLAS twins this query is HASH-VERIFIED end to end — the
    oracle replays the trainings, the quantized routing, the PQ
    encode, and the ADC ranking; stored-code ADC is exact int64, so
    serving values are bit-identical to build-time values. The qs19
    agreement pytest remains as the cross-form sanity pin (float vs
    quantized routing agree everywhere off cell boundaries)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_ivfpq,
        trained_cells_for,
    )

    emb = table(spark, sf_dir, "embeddings")
    path = ensure_ivfpq_store(spark, sf_dir)
    books, assigned, meta = read_ivfpq_store(spark, path)
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    return cosine_topk_ivfpq(
        emb,
        k_neighbors=5,
        n_clusters=int(meta["k"]),
        # cent is unused when asg is injected, but None would EAGERLY
        # train one (the Lloyd loop collects at call time) — pass the
        # stored centroids through
        cent=spark.read.parquet(f"{path}/cents"),
        books=books,
        asg=assigned.select("id", "cid"),
        codes=assigned.select("id", "codes"),
        # serve through the per-cell GATHER kernel (qs27's, hash-exact
        # against the same oracle — int64 ADC): the declarative tail
        # materializes the n²/k pair stream through a window sort,
        # which at 2 M vectors is 2.8e9 pair rows of sorter pressure
        # (~3.5 GB per task at cluster width — the measured 4 g
        # executor death in the r11 rung, surviving the build fix).
        # Stored lists + vectorized list scan is FAISS's serve shape.
        gather_kernel=True,
    )


@register("qs18_pq_adc_topk", oracle=_pq_oracle(64, 4, 16, 2, 3))
def qs18_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (Jégou et al., TPAMI 2011 —
    see ``operators/similarity.py::pq_codebooks``/``pq_encode``/
    ``pq_adc_topk``): the COMPRESSED-DOMAIN serving shape. Four L2
    sub-quantizers (16 dims × 16 codes) trained — as of r7 — on the
    ~32·k_pq = 512-row digest sample (salt 'pqtr:'; at fixed k_pq the
    training set is CONSTANT-size, the strongest form of the qs16
    convergence — the trainer no longer scales with the corpus at
    all), the corpus side stored as 4 small ints (64× smaller than the
    float vectors — at 100 TB of embeddings the index that fits in
    memory), queries full-precision, score = sum of 4 broadcast
    table lookups with exact-integer partials. The oracle replays
    all four trainings, the encoding, and the ADC ranking — the
    entire compressed pipeline is hash-verified.

    The query side is a FIXED-SIZE digest-ordered batch of 64 (the
    qs21 convention): ADC cuts the PER-PAIR cost to m lookups, but
    the pair count is still |Q|·n — with a query slice proportional
    to the corpus the scoring is quadratic-ish (measured x19.9 on
    x10 data); a bounded serving batch keeps it linear (x2.8
    re-measured). Unbounded |Q| belongs to the composed qs19, where
    coarse cells prune the pairs first."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    strain = _unit_vectors(
        _digest_sample(emb, "pqtr:", _train_frac(n, 16)),
        "vec_id",
        "embedding",
    )
    # memoized per (session, sf_dir, n); SHARED with qs25 — same
    # 'pqtr:' sample, same params, deterministic trainer → one model
    books = _memo_model(
        spark,
        ("pq-books", sf_dir, n, 4, 16, 16, 2),
        lambda: pq_codebooks(strain, m=4, d_sub=16, k_pq=16, n_iter=2),
        src=emb,
    )
    qsel = (
        emb.where(F.col("label") % 10 == 0)
        .withColumn(
            "_d",
            F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("_d")
        .limit(64)
        .drop("_d")
    )
    qpts = _unit_vectors(qsel, "vec_id", "embedding")
    cpts = _unit_vectors(
        emb.where(F.col("label") % 10 != 0), "vec_id", "embedding"
    )
    codes = pq_encode(cpts, books, m=4, d_sub=16, work_rows=n * 64)
    return pq_adc_topk(
        qpts, codes, books, m=4, d_sub=16, k_neighbors=3
    )


@register("qs17_cosine_topk_imi", oracle=_imi_oracle(64, 2, 5))
def qs17_cosine_topk_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level inverted multi-index ANN (see
    ``operators/similarity.py::cosine_topk_imi``): THE trained index
    for the all-corpus self-join at 100 TB. As of r7 the product
    grid is sized for LINEAR search — k_each = ceil(√(n/256)) per
    half (``imi_cells_for``), product ≈ n/256 cells, ~256 vectors
    per cell (the qs13 per-cell budget, now with TRAINED
    data-adaptive cells) — and both half-quantizers train on the
    ~32·k_each digest sample (salt 'imi:', the qs16 convergence).
    Cost ledger: trainer O(32·k_each²) = O(n/256), assignment
    n·2·k_each = n^1.5/8 scorings — Θ(n^1.5) but at a 1/16 constant
    vs the √n-cell IVF — and search ~256·n candidates (LINEAR, the
    term that dominates a self-join), unlike the classic √n-cell IVF
    (qs14/qs16) whose exact-within-cell self-join intrinsically
    scores n·√n pairs in the SEARCH itself. The full corpus is only ASSIGNED to the
    trained product cells. The oracle replays sizing, sample
    membership, both trainings, product-cell assignment, and search
    from the same count arithmetic, so the full two-level model is
    hash-verified end to end. Fixed-point cosine before ranking
    keeps the top-k cut engine-independent."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        imi_assign,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    # memoized per (session, sf_dir, n): the same 'imi:' model qs24/
    # qs25/qs26 build — one trainer run serves all of them in-session
    cent1, cent2 = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    asg = imi_assign(
        pts, cent1, cent2, 32, work_rows=n * 2 * k_each
    ).repartition("cid1", "cid2")
    return _fold_topk(asg, 5).withColumnRenamed("cosine", "cosine_r")


@register(
    "qs15_query_corpus_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 10 = 0
      ORDER BY md5('sv:' || vec_id::VARCHAR) LIMIT 64
    ),
    c AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 10 <> 0
    ),
    nb AS (
      SELECT {_SIZED_BITS_SQL} AS bits FROM c
    ),
    qc AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM q
    ),
    cc AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM c
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_FOLD_COS} AS cosine_r
      FROM qc a JOIN cc b ON a.bucket = b.bucket
    ){_ranked("cosine_r", "pairs", 3)}""",
)
def qs15_query_corpus_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING shape: a small query set against a big corpus —
    asymmetric two-table ANN, distinct from the self-join analytics
    shapes (qs2/qs3). The query side is a FIXED-SIZE digest-ordered
    batch of 64 (the qs18/qs21 convention — 'serving' MEANS the batch
    does not grow with the corpus; a proportional slice here would be
    |Q|·n/16 = quadratic-ish candidates, the flaw the review caught
    in qe2) and is broadcast-hinted: candidate generation is a
    broadcast hash join on the bucket code, so the CORPUS NEVER
    SHUFFLES — the plan a 100 TB index wants, since the corpus side
    is the one that scales. The bucket code is AUTO-SIZED from the
    CORPUS count (sign_bits_for, replayed by the oracle): per-query
    candidates stay ~256 at any corpus size instead of n/16. Both
    sides share the corpus-derived width — bucket equality is only
    meaningful at one width. Per-query top-3 by fixed-point cosine,
    deterministic tie-break."""
    emb = table(spark, sf_dir, "embeddings")
    qsel = (
        emb.where(F.col("label") % 10 == 0)
        .withColumn(
            "_d",
            F.md5(F.concat(F.lit("sv:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("_d")
        .limit(64)
        .drop("_d")
    )
    corpus_src = emb.where(F.col("label") % 10 != 0)
    n_bits = sign_bits_for(corpus_src.count())
    queries = _double_base(qsel, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    corpus = _double_base(corpus_src, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    cos = fixed(
        _dot_pre(F.col("q.v"), F.col("c.v")) / (F.col("q.norm") * F.col("c.norm")),
        6,
    )
    pairs = F.broadcast(queries.alias("q")).join(
        corpus.alias("c"), F.col("q.bucket") == F.col("c.bucket")
    ).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("neighbor_id"),
        cos.alias("cosine_r"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    return pairs.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= 3
    )


@register(
    "qs16_cosine_topk_ivf_sample_trained",
    oracle=_ivf_kmeans_oracle("(SELECT k FROM sizek)", 2, 64, 5, **_IVF_SIZED),
)
def qs16_cosine_topk_ivf_sample_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLE-TRAINED sized IVF — the FAISS-practice shape for
    corpora where even the trainer must not scale with n: k-means
    runs on a deterministic digest sample of ~32·k vectors (trainer
    cost 32k² = O(n) at k=√n, vs n·k = n^1.5 for full training —
    measured: full-train qs14 took 2 582 s at the 100x replica, the
    trainer's share of which this removes), then the FULL corpus is
    assigned to the trained cells in one pass and searched within
    cells exactly as qs7/qs14. Membership in the training sample is
    the sampling family's exact integer digest fold with a
    DATA-DEPENDENT fraction (32k/n, both engines compute the same
    double), so the ENTIRE pipeline — sizing, sampling, training,
    assignment, search — replays hash-identically in the oracle.
    At small sf the fraction saturates at 1.0 and this degenerates to
    qs14 exactly."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        assign_clusters,
        kmeans_centroids,
        trained_cells_for,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    sample = _digest_sample(emb, "ivf:", _train_frac(n, k))
    # the memoized shared 'ivf:' model (see qs14)
    cent = _memo_model(
        spark,
        ("ivf-cent", sf_dir, n, k, 2),
        lambda: kmeans_centroids(sample, "vec_id", "embedding", k=k, n_iter=2),
        src=emb,
    )
    asg = assign_clusters(emb, cent, "vec_id", "embedding").repartition(
        F.col("cid")
    )
    return _fold_topk(asg, 5).withColumnRenamed("cosine", "cosine_r")


# Word 4-gram CTE fragment shared with the qt7 contamination oracle.
_RRF_GRAMS = sql_word_ngrams(4)


@register(
    "qs20_hybrid_rrf",
    oracle=f"""
    WITH qsel AS (
      SELECT doc_id FROM documents WHERE source = 'src0'
      ORDER BY md5('rrf:' || doc_id::VARCHAR) LIMIT 64
    ),
    qe AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN qsel d ON e.vec_id = d.doc_id
    ),
    ce AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id WHERE d.source <> 'src0'
    ),
    nb AS (SELECT {_SIZED_BITS_SQL} AS bits FROM ce),
    qc AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM qe
    ),
    cc AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM ce
    ),
    sem AS (
      SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
             {_FOLD_COS} AS cosine_r
      FROM qc a JOIN cc b ON a.bucket = b.bucket
    ),
    semr AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_r DESC, doc_id)::BIGINT
               AS sem_rank
      FROM sem QUALIFY sem_rank <= 20
    ),
    t AS (
      SELECT doc_id, source,
             list_filter(string_split(regexp_replace(text, '\\s', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents
    ),
    g AS (SELECT doc_id, source, list_distinct({_RRF_GRAMS}) AS grams FROM t),
    bg AS (SELECT doc_id AS query_id, unnest(grams) AS gram FROM g
           WHERE source = 'src0'
             AND doc_id IN (SELECT doc_id FROM qsel)),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src0'),
    lex AS (SELECT cg.doc_id, bg.query_id, count(*)::BIGINT AS n_shared
            FROM cg JOIN bg USING (gram) GROUP BY 1, 2),
    lexr AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY n_shared DESC, doc_id)::BIGINT
               AS lex_rank
      FROM lex
    ),
    fused AS (
      SELECT coalesce(s.query_id, l.query_id) AS query_id,
             coalesce(s.doc_id, l.doc_id) AS doc_id,
             s.sem_rank, l.lex_rank,
             coalesce(1.0 / (60 + s.sem_rank), 0.0)
               + coalesce(1.0 / (60 + l.lex_rank), 0.0) AS rrf
      FROM semr s FULL OUTER JOIN lexr l
        ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    )
    SELECT query_id, doc_id,
           coalesce(sem_rank, 0)::BIGINT AS sem_rank,
           coalesce(lex_rank, 0)::BIGINT AS lex_rank,
           {sql_fixed('rrf', 6)} AS rrf_score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf DESC, doc_id)::BIGINT AS fused_rank
    FROM fused QUALIFY fused_rank <= 10
    """,
)
def qs20_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a semantic
    ranker (cosine top-20 among SIZED sign-bucket candidates — the
    qs13 index, ~256 corpus vectors per bucket at any scale) and a
    lexical ranker (shared word-4-gram counts, qt7's kernel) fused by
    ``sum 1/(60 + rank)`` — the standard RRF rule (Cormack et al.)
    behind every dense+sparse retrieval stack. Queries are a FIXED
    64-document digest batch from the ``src0`` slice (salt 'rrf:',
    the qs15/qs18/qs21 serving convention — r11: the whole src0
    slice grew with the corpus, and at the 2 M rung the explicit
    broadcast of it plus the corpus-id filter killed the 4 g driver;
    a serving batch must not scale with the corpus). Ranks are
    integers and the RRF sum is two exact-rounded divisions added in
    a fixed order, so fusion and final ordering are engine-exact; the
    oracle replays the batch membership AND the index SIZING
    arithmetic from the same corpus count (the qs13 rule), so the
    data-adaptive candidate rule is hash-verified too.

    Scale shape: BOTH rankers are candidate-bounded — semantic
    candidates are 64 x ~256 via the sized bucket equi-join (a
    pinned bucket count would quietly go |Q|·n/2^bits: the qs3
    lesson), lexical candidates are gram collisions against the
    BROADCAST 64-query gram table — and the corpus never broadcasts
    and never self-joins for either (the corpus-id semi-join filter
    is hint-free: the optimizer broadcasts it at small scale and
    shuffles at 2 M, where a forced broadcast is a driver OOM). The
    only exchanges are the per-(doc, query) count and the per-query
    row_number windows, both bounded by candidate volume, not corpus
    size. Ranking inside index candidates (not exact top-k) is what
    production hybrid search does; qs21 is the audit that measures
    what that candidate rule costs in recall."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    from spotify_pipeline_gcp_spark.operators.similarity import sign_bits_for
    from spotify_pipeline_gcp_spark.operators.text import contamination_pairs

    # FIXED 64-query digest batch (the qs15/qs18/qs21 serving
    # convention; salt 'rrf:') — r11: the query side was the WHOLE
    # src0 slice, which grows with the corpus, and both it and the
    # corpus-id filter carried explicit broadcast hints: at the 2 M
    # rung the driver died building a corpus-sized broadcast. Serving
    # means |Q| does not grow with the corpus; the corpus-side filter
    # hint is gone so the optimizer picks the join strategy by size.
    qsel = (
        docs.where(F.col("source") == "src0")
        .select("doc_id")
        .withColumn(
            "_d",
            F.md5(F.concat(F.lit("rrf:"), F.col("doc_id").cast("string"))),
        )
        .orderBy("_d")
        .limit(64)
        .drop("_d")
    )
    qids = qsel.select(F.col("doc_id").alias("vec_id"))
    cids = docs.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("vec_id")
    )
    corpus_emb = emb.join(cids, "vec_id", "left_semi")
    n_bits = sign_bits_for(corpus_emb.count())
    qb = _double_base(
        emb.join(F.broadcast(qids), "vec_id", "left_semi"),
        "vec_id", "embedding",
    ).withColumn("bucket", sign_bucket("v", n_bits))
    cb = _double_base(corpus_emb, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", n_bits)
    )
    cos = fixed(
        _dot_pre(F.col("q.v"), F.col("c.v"))
        / (F.col("q.norm") * F.col("c.norm")),
        6,
    )
    sem = F.broadcast(qb.alias("q")).join(
        cb.alias("c"), F.col("q.bucket") == F.col("c.bucket")
    ).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("doc_id"),
        cos.alias("cosine_r"),
    )
    wsem = W.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("doc_id")
    )
    semr = (
        sem.withColumn("sem_rank", F.row_number().over(wsem).cast("long"))
        .where(F.col("sem_rank") <= 20)
        .select("query_id", "doc_id", "sem_rank")
    )
    lex = contamination_pairs(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0").join(
            F.broadcast(qsel), "doc_id"
        ),
        "doc_id", "text", n=4,
    )
    wlex = W.partitionBy("bench_id").orderBy(
        F.col("n_shared").desc(), F.col("doc_id")
    )
    lexr = lex.withColumn(
        "lex_rank", F.row_number().over(wlex).cast("long")
    ).select(
        F.col("bench_id").alias("query_id"), F.col("doc_id"), F.col("lex_rank")
    )
    fused = semr.join(lexr, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("sem_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)),
    )
    wf = W.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("sem_rank"), F.lit(0).cast("long")).alias(
                "sem_rank"
            ),
            F.coalesce(F.col("lex_rank"), F.lit(0).cast("long")).alias(
                "lex_rank"
            ),
            fixed(F.col("rrf"), 6).alias("rrf_score"),
            "fused_rank",
        )
    )


def _recall_at5(same: str, q_from: str) -> str:
    """The recall-audit tail of qs21 and qs29: exact vs
    ``same``-restricted top-5 per query over ``pairs``, and the
    integer hits and recall of every query row ``q`` of ``q_from``."""
    return f"""
    exact AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_r DESC, doc_id) AS r
        FROM pairs
      ) WHERE r <= 5
    ),
    approx AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_r DESC, doc_id) AS r
        FROM pairs WHERE {same}
      ) WHERE r <= 5
    ),
    hits AS (
      SELECT e.query_id, count(*)::BIGINT AS n_hits
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.doc_id = a.doc_id
      GROUP BY 1
    )
    SELECT q.vec_id AS query_id,
           coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0) / 5.0 AS recall_at_5
    FROM {q_from} LEFT JOIN hits ON q.vec_id = hits.query_id
    """


def _imi_audit_oracle(d: int, n_iter: int) -> str:
    """DuckDB replay of the IMI recall audit (qs29): the full 'imi:'
    training + product-cell assignment chain of ``_imi_oracle`` over
    ALL embeddings (the index being audited is the one qs17 serves),
    then qs21's bounded eval — 64 'aud:' digest queries × the ≤65536
    'audc:' digest audit corpus, exact vs same-product-cell top-5,
    integer hits and one exact division."""
    ctes = _imi_cells(d, n_iter, "_") + [
        _IMI_ASG,
        """qids AS (
      SELECT vec_id FROM embeddings WHERE label % 10 = 0
      ORDER BY md5('aud:' || vec_id::VARCHAR) LIMIT 64
    )""",
        "cn AS (SELECT count(*)::BIGINT AS n FROM embeddings"
        " WHERE label % 10 <> 0)",
        f"""cids AS (
      SELECT vec_id FROM (
        SELECT vec_id, md5('audc:' || vec_id::VARCHAR) AS _d
        FROM embeddings WHERE label % 10 <> 0
      ) WHERE ({_IVF_UNIT_FOLD}) / 4294967296.0
          < least(1.0, 65536.0 / (SELECT n FROM cn))
    )""",
        """pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
             (a.cid1 = b.cid1 AND a.cid2 = b.cid2) AS same_cell,
             floor(list_dot_product(a.u, b.u) * 1000000 + 0.5) / 1000000
               AS cosine_r
      FROM (SELECT asg.* FROM asg JOIN qids USING (vec_id)) a
      CROSS JOIN (SELECT asg.* FROM asg JOIN cids USING (vec_id)) b
    )""",
    ]
    return _with(ctes, "," + _recall_at5("same_cell", "qids q"))


@register("qs29_imi_recall_audit", oracle=_imi_audit_oracle(64, 2))
def qs29_imi_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the TRAINED linear index — qs21's bounded
    eval loop pointed at the index the decision table actually routes
    self-join work to (qs17/qs24/qs25/qs26/qs28 all serve the same
    'imi:' product cells; qs21 audits only the training-free sign
    buckets). Ground truth and approx sides both rank the SAME
    bounded universe — 64 'aud:' digest queries × a ≤65536-vector
    'audc:' digest audit corpus — so the exact pass is ≤64×65536
    pairs at ANY corpus size; the approx side restricts candidates
    to the query's assigned product cell (single probe — the
    pessimistic setting: every multiprobe/kernel variant can only do
    better, so this is the family's recall floor). The oracle
    replays sizing, the 'imi:' training sample, both half-quantizer
    trainings, the product-cell assignment, the audit sampling, and
    the integer hit counts — the whole measurement is hash-verified.
    Uses the memoized shared 'imi:' model: the audit measures the
    exact centroids the serving queries use."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        imi_assign,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    cent1, cent2 = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    asg = imi_assign(pts, cent1, cent2, 32, work_rows=n * 2 * k_each)
    qids = (
        emb.where(F.col("label") % 10 == 0)
        .withColumn(
            "_d",
            F.md5(F.concat(F.lit("aud:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("_d")
        .limit(64)
        .select(F.col("vec_id").alias("id"))
    )
    corpus = emb.where(F.col("label") % 10 != 0)
    n_c = corpus.count()
    cids = _digest_sample(
        corpus, "audc:", min(1.0, 65536.0 / n_c) if n_c else 1.0
    ).select(F.col("vec_id").alias("id"))
    qv = asg.join(F.broadcast(qids), "id")
    cv = asg.join(cids, "id", "left_semi")
    cos = fixed(_dot_pre(F.col("q.u"), F.col("c.u")), 6)
    pairs = F.broadcast(qv.alias("q")).crossJoin(cv.alias("c")).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("doc_id"),
        (
            (F.col("q.cid1") == F.col("c.cid1"))
            & (F.col("q.cid2") == F.col("c.cid2"))
        ).alias("same_cell"),
        cos.alias("cosine_r"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("doc_id")
    )
    exact = (
        pairs.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", "doc_id")
    )
    approx = (
        pairs.where(F.col("same_cell"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", "doc_id")
    )
    hits = exact.join(approx, ["query_id", "doc_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return qids.select(F.col("id").alias("query_id")).join(
        hits, "query_id", "left"
    ).select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) / 5.0).alias(
            "recall_at_5"
        ),
    )


@register(
    "qs21_ann_recall_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, {_SIGN4} AS bucket FROM (
        SELECT vec_id, embedding
        FROM embeddings WHERE label % 10 = 0
        ORDER BY md5('aud:' || vec_id::VARCHAR) LIMIT 64
      )
    ),
    cn AS (
      SELECT count(*)::BIGINT AS n FROM embeddings WHERE label % 10 <> 0
    ),
    c AS (
      SELECT vec_id, embedding, {_SIGN4} AS bucket FROM (
        SELECT vec_id, embedding, md5('audc:' || vec_id::VARCHAR) AS _d
        FROM embeddings WHERE label % 10 <> 0
      ) WHERE ({_IVF_UNIT_FOLD}) / 4294967296.0
          < least(1.0, 65536.0 / (SELECT n FROM cn))
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
             a.bucket = b.bucket AS same_bucket,
             {_FOLD_COS} AS cosine_r
      FROM q a CROSS JOIN c b
    ),{_recall_at5("same_bucket", "q")}""",
)
def qs21_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@5 of the sign-bucket index
    (qs15's candidate rule) against exact brute-force ground truth,
    per query — the eval loop every production ANN deployment runs
    before trusting an index. Intersection counts are integers and
    recall is one exact division, so the metric hash-matches
    cross-engine.

    Scale shape: ground truth is the expensive side by definition,
    so BOTH sides of the audit are bounded (r6 verdict item #4). The
    query set is a FIXED-SIZE sample — the 64 queries with the
    smallest salted digests (digest order is pseudo-random, so the
    sample is unbiased; a PROPORTIONAL slice would make the exact
    pass |Q|·n = quadratic-ish, the qs3 lesson applied to evals).
    The audit CORPUS is a digest sample too: frac = min(1, 65536/n)
    via the exact-integer unit fold (salt 'audc:'), so the exact
    pass is at most 64 × 65536 scored pairs at ANY corpus size —
    at r6's 100x replica the unbounded exact pass was 120 s, which
    would dominate a batch window at real scale. The estimate is
    then "recall against the sampled-corpus ground truth": exact
    and approx sides rank the SAME sampled universe, so the metric
    stays an unbiased index-quality estimator (the standard bounded
    eval); below 65536 corpus vectors the fraction saturates at 1.0
    and the audit is exhaustive (all driver/test scales). The
    fraction is replayed in the oracle from the same count, so
    sample membership is hash-verified."""
    emb = table(spark, sf_dir, "embeddings")
    qsel = (
        emb.where(F.col("label") % 10 == 0)
        .withColumn(
            "_d",
            F.md5(F.concat(F.lit("aud:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("_d")
        .limit(64)
        .drop("_d")
    )
    qb = _double_base(qsel, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", 4)
    )
    corpus_all = emb.where(F.col("label") % 10 != 0)
    n_c = corpus_all.count()
    cb = _double_base(
        _digest_sample(corpus_all, "audc:", min(1.0, 65536.0 / n_c) if n_c else 1.0),
        "vec_id",
        "embedding",
    ).withColumn("bucket", sign_bucket("v", 4))
    cos = fixed(
        _dot_pre(F.col("q.v"), F.col("c.v"))
        / (F.col("q.norm") * F.col("c.norm")),
        6,
    )
    pairs = F.broadcast(qb.alias("q")).crossJoin(cb.alias("c")).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("doc_id"),
        (F.col("q.bucket") == F.col("c.bucket")).alias("same_bucket"),
        cos.alias("cosine_r"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("doc_id")
    )
    exact = (
        pairs.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", "doc_id")
    )
    approx = (
        pairs.where(F.col("same_bucket"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", "doc_id")
    )
    hits = exact.join(approx, ["query_id", "doc_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return qb.select(F.col("id").alias("query_id")).join(
        hits, "query_id", "left"
    ).select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) / 5.0).alias(
            "recall_at_5"
        ),
    )


@register(
    "qe2_knn_label_vote",
    oracle=f"""
    WITH labeled AS (
      SELECT vec_id, embedding, label
      FROM embeddings WHERE label % 10 <> 0
    ),
    nb AS (SELECT {_SIZED_BITS_SQL} AS bits FROM labeled),
    q AS (
      SELECT vec_id, embedding,
             {_SIZED_BUCKET} AS bucket
      FROM embeddings WHERE label % 10 = 0
    ),
    c AS (
      SELECT vec_id, embedding, label,
             {_SIZED_BUCKET} AS bucket
      FROM labeled
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             b.label AS nlabel,
             {_FOLD_COS} AS cosine_r
      FROM q a JOIN c b ON a.bucket = b.bucket
    ),
    knn AS (
      SELECT query_id, neighbor_id, nlabel FROM (
        SELECT query_id, neighbor_id, nlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_r DESC, neighbor_id) AS r
        FROM pairs
      ) WHERE r <= 5
    ),
    votes AS (
      SELECT query_id, nlabel, count(*)::BIGINT AS n_votes
      FROM knn GROUP BY 1, 2
    )
    SELECT query_id,
           CAST(nlabel AS BIGINT) AS pred_label,
           n_votes,
           total_votes
    FROM (
      SELECT query_id, nlabel, n_votes,
             sum(n_votes) OVER (PARTITION BY query_id)::BIGINT AS total_votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, nlabel) AS pick
      FROM votes
    ) WHERE pick = 1
    """,
)
def qe2_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision by neighbor vote: each unlabeled vector (the
    ``label % 10 = 0`` slice standing in for unlabeled data) takes
    the MAJORITY LABEL of its 5 nearest labeled neighbors from the
    sign-bucket index — the classic kNN pseudo-labeling step in front
    of semi-supervised training. Votes are integer counts; ties break
    to the lowest label, so the prediction is engine-exact.

    Scale shape: unlike the fixed-batch serving queries, labeling is
    the ALL-unlabeled shape — |Q| grows with the corpus — so the
    candidate rule must be the SIZED bucket index (bits from the
    labeled-corpus count, ~256 labeled vectors per bucket at any
    scale): candidates stay |Q|·256 = linear. With the bits pinned at
    4 this was the round's third self-caught quadratic (200 k queries
    x 1/16th of 1.8 M labeled vectors per bucket hung the 100x run).
    Then one per-query top-5 window over candidates, one combinable
    vote count, and a k-row argmax window per query. Output:
    (query_id, pred_label, n_votes, total_votes) — total_votes < 5
    flags queries whose bucket had fewer than k labeled members
    (prediction confidence needs the denominator)."""
    from spotify_pipeline_gcp_spark.operators.similarity import sign_bits_for

    emb = table(spark, sf_dir, "embeddings")
    labeled = emb.where(F.col("label") % 10 != 0)
    n_bits = sign_bits_for(labeled.count())
    qb = _double_base(
        emb.where(F.col("label") % 10 == 0), "vec_id", "embedding"
    ).withColumn("bucket", sign_bucket("v", n_bits))
    cb = (
        _double_base(
            labeled.select("vec_id", "embedding"),
            "vec_id",
            "embedding",
        )
        .join(
            emb.select(F.col("vec_id").alias("id"), "label"), "id"
        )
        .withColumn("bucket", sign_bucket("v", n_bits))
    )
    cos = fixed(
        _dot_pre(F.col("q.v"), F.col("c.v"))
        / (F.col("q.norm") * F.col("c.norm")),
        6,
    )
    # no broadcast hint: unlike the fixed-batch serving queries, the
    # unlabeled side GROWS with the corpus, so a forced broadcast
    # would ship an O(n) vector frame to every executor and die at
    # the broadcast limit — the bucket equi-join shuffles both sides
    # on the bucket key (or AQE broadcasts if a filter makes the
    # query side genuinely small at runtime)
    pairs = qb.alias("q").join(
        cb.alias("c"), F.col("q.bucket") == F.col("c.bucket")
    ).select(
        F.col("q.bucket").alias("bucket"),
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("neighbor_id"),
        F.col("c.label").alias("nlabel"),
        cos.alias("cosine_r"),
    )
    # cell-local kNN cut (r8): a query's candidates all share its
    # bucket, so the (bucket, query_id) rank equals the global rank
    # and the bucket join's partitioning satisfies the window — the
    # |Q|·256 candidate stream is never re-exchanged on query_id
    wk = W.partitionBy("bucket", "query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    knn = pairs.withColumn("r", F.row_number().over(wk)).where(
        F.col("r") <= 5
    )
    votes = knn.groupBy("query_id", "nlabel").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = W.partitionBy("query_id")
    wpick = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel")
    )
    return (
        votes.withColumn(
            "total_votes", F.sum("n_votes").over(wv).cast("long")
        )
        .withColumn("pick", F.row_number().over(wpick))
        .where(F.col("pick") == 1)
        .select(
            "query_id",
            F.col("nlabel").cast("long").alias("pred_label"),
            "n_votes",
            "total_votes",
        )
    )


def _maint_oracle() -> str:
    """Oracle for qs22: sized sample-trained index over the corpus
    slice, delta ASSIGNED to the stored centroids (no retrain), per-
    cell fill accounting with the integer-exact overfull threshold."""
    ctes = [
        "sizen AS (SELECT count(*)::BIGINT AS n FROM embeddings"
        " WHERE label % 10 <> 0)",
        _SIZEK,
        "sizee AS (SELECT (n + k - 1) // k AS expected"
        " FROM sizen, sizek)",
        """uall AS (
      SELECT e.vec_id, e.label,
             list_transform(e.embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                           e.embedding::DOUBLE[]))) AS u
      FROM embeddings e
    )""",
        "uc AS (SELECT vec_id, u FROM uall WHERE label % 10 <> 0)",
        "ud AS (SELECT vec_id, u FROM uall WHERE label % 10 = 0)",
        _sample_cte("utrain", "uc", "ivfm:", _TRAIN_FRAC_SQL),
        # EVERY assignment — the Lloyd iterations, the final corpus
        # routing, and the delta routing — replays the QUANTIZED
        # integer dots the engine's BLAS-routed builds compute
        # (bit-exact in float64 — see _ASSIGN_QSCALE): the
        # maintenance family trains with kmeans_centroids_quant
        *_imi_half_chain(
            "_c", "utrain", "(SELECT k FROM sizek)", 2, 64, assign_src="uc",
            quant_final=True, quant_iters=True,
        ),
        f"""asgd AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_dot_product(
                                    list_transform(p.u, x -> floor(x * {_QA} + 0.5)),
                                    list_transform(c.c, x -> floor(x * {_QA} + 0.5))) DESC,
                                  c.cid) AS rnk
        FROM ud p CROSS JOIN cent2_c c) t
      WHERE rnk = 1
    )""",
        "oldc AS (SELECT cid, count(*)::BIGINT AS n FROM asgf_c GROUP BY 1)",
        "newc AS (SELECT cid, count(*)::BIGINT AS n FROM asgd GROUP BY 1)",
    ]
    return _with(
        ctes,
        """
    SELECT c.cid,
           coalesce(o.n, 0)::BIGINT AS n_indexed,
           coalesce(d.n, 0)::BIGINT AS n_delta,
           (coalesce(o.n, 0) + coalesce(d.n, 0))::BIGINT AS n_total,
           ((coalesce(o.n, 0) + coalesce(d.n, 0))
              > 2 * (SELECT expected FROM sizee))::BIGINT AS overfull
    FROM cent2_c c
    LEFT JOIN oldc o ON o.cid = c.cid
    LEFT JOIN newc d ON d.cid = c.cid
    """,
    )


@register("qs22_ann_index_maintenance", oracle=_maint_oracle())
def qs22_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index MAINTENANCE — the production index-update path that
    completes the lifecycle ladder (build qs14/qs16 → serve qs15 →
    audit qs21 → maintain HERE): a new batch (label % 10 = 0, the
    qs15/qs18/qs21 delta convention) is ASSIGNED to the stored
    corpus-trained centroids WITHOUT retraining — one broadcast
    scoring pass, linear in the batch — and the query reports
    per-cell fill accounting: rows already indexed, delta rows
    landing in the cell, the post-update total, and an ``overfull``
    retrain flag (total > 2× the n/k sizing target, the signal that
    data drift has outgrown the trained partition and the O(n)
    sample trainer should re-run). FAISS deployments run exactly
    this add-without-train loop between periodic retrains; here it
    is a DataFrame plan whose model, assignments, and integer
    thresholds all replay in the oracle — output is k ≈ √n rows,
    so even the report is index-sized, not corpus-sized.

    Trained on the 'ivfm:' digest sample of the CORPUS slice only
    (the already-indexed data — maintenance must not peek at the
    delta), k sized from the corpus count.

    Cost split (measured, SCALE_BENCH_r07 100×: ×149): the RECURRING
    per-batch work — delta assignment + the report — is linear in
    the batch and index-sized; the corpus-side n_indexed recount is
    an n·k AUDIT RECOMPUTE this self-contained query pays because
    its contract is (spark, sf_dir) with no stored state. A deployed
    maintainer reads n_indexed from the index manifest it wrote at
    build time (the qd11 stored-store pattern) and pays only the
    delta side."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        assign_clusters_quant,
        cell_fill_report,
        kmeans_centroids_quant,
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label") % 10 != 0)
    delta = emb.where(F.col("label") % 10 == 0)
    n = corpus.count()
    k = trained_cells_for(n)
    expected = (n + k - 1) // k
    sample = _digest_sample(corpus, "ivfm:", _train_frac(n, k))
    cent = kmeans_centroids_quant(sample, "vec_id", "embedding", k=k, n_iter=2)
    # cell routing is QUANTIZED-EXACT across the whole maintenance
    # family (here, the manifest build, the delta/batch paths): the
    # same integer dots a dgemm computes bit-identically, so the
    # shared _maint_oracle replays every variant with one chain
    n_old = (
        assign_clusters_quant(corpus, cent, "vec_id", "embedding")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_indexed"))
    )
    n_new = (
        assign_clusters_quant(delta, cent, "vec_id", "embedding")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    )
    return cell_fill_report(cent, n_old, n_new, expected)


@register("qs22b_ann_index_maintenance_manifest", oracle=_maint_oracle())
def qs22b_ann_index_maintenance_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manifest-backed ANN index maintenance — the DEPLOYED-maintainer
    shape qs22's docstring promises (r7 verdict item #2): the trained
    model + per-cell ``n_indexed`` counts persist at BUILD time in an
    index manifest (``operators/similarity.py::write_index_manifest``,
    the qd11 stored-store pattern), and the recurring per-batch work —
    what this query executes after the one-time build — is
    ``maintain_index``: a staleness probe (corpus count + vec_id sum,
    two single-column parquet aggregates), one O(|delta|·k) broadcast
    assignment of the new batch, and a k-row join against the stored
    counts. The ×149-at-100× corpus recount qs22 pays per run is paid
    ONCE here, at build, where the n·k routing pass runs anyway.

    Output and oracle are IDENTICAL to qs22 (shared
    ``cell_fill_report``, same 'ivfm:' sample training), so the
    manifest round-trip itself is hash-verified: any drift between
    the stored state and a from-scratch rebuild fails the oracle.

    The manifest lives in a deterministic per-sf_dir temp path and
    rebuilds automatically when the staleness probe mismatches
    (regenerated testdata) — a production deployment would pin
    ``SPARK_GRAFT_MANIFEST_DIR`` to durable storage and rebuild on
    the qs22 ``overfull`` drift signal instead."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        maintain_index,
    )

    emb = table(spark, sf_dir, "embeddings")
    delta = emb.where(F.col("label") % 10 == 0)
    path = ensure_ivfm_manifest(spark, sf_dir)
    return maintain_index(spark, path, delta)


def ensure_ivfm_manifest(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-stale guard for the 'ivfm:' index manifest shared by
    qs22b (batch maintenance) and qst7 (streaming maintenance): a
    cheap staleness probe decides whether the stored manifest still
    describes this sf_dir's corpus; on mismatch the sample trainer
    re-runs and ``write_index_manifest`` replaces the manifest
    through ``operators/similarity.py::_write_store``. Returns the
    manifest path.

    The fingerprint (``_content_probe``) is CONTENT-sensitive, not
    just shape-sensitive (r9, ADVICE): count + vec_id checksum alone
    would silently reuse a stale manifest after the corpus is
    REGENERATED with the same ids 0..n-1 but different vectors or
    label slicing (e.g. new testdata recipe at the same path) — so it
    also folds in a quantized sum of each vector's first component
    and the label sum. Still cheap column aggregates over three
    columns; no n·k recount, nothing vector-width shuffled."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids_quant,
        trained_cells_for,
        write_index_manifest,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label") % 10 != 0)
    path = _manifest_dir(sf_dir)
    fingerprint = _content_probe(corpus)
    if (_read_store_meta(path) or {}).get("fingerprint") != fingerprint:
        ensure_package_on_workers(spark)
        n = fingerprint["n"]
        k = trained_cells_for(n)
        sample = _digest_sample(corpus, "ivfm:", _train_frac(n, k))
        cent = kmeans_centroids_quant(
            sample, "vec_id", "embedding", k=k, n_iter=2
        )
        write_index_manifest(
            corpus,
            cent,
            path,
            meta={
                "n": n,
                "k": k,
                "expected": (n + k - 1) // k,
                "fingerprint": fingerprint,
            },
        )
    return path


def ensure_pq_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-stale guard for the PQ SERVING store used by qst8 —
    the compressed index a serving fleet queries:
    qs18's trained sub-codebooks ('pqtr:' constant digest sample,
    identical trainer → identical literals, shared through
    ``_memo_model``) plus the PQ-ENCODED corpus (m small ints per
    vector — the representation a 100 TB index keeps in memory),
    persisted as ``path/books`` (s, cid, c), ``path/codes``
    (id, codes) and ``path/meta.json``. The staleness fingerprint is
    ``_content_probe`` over the FULL table (training samples from all
    rows, the corpus slice is label-derived); the staged write and
    atomic swap are ``operators/similarity.py::_write_store``'s."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _tagged_books,
        _unit_vectors,
        pq_codebooks,
        pq_encode,
    )

    m, d_sub, k_pq = 4, 16, 16
    emb = table(spark, sf_dir, "embeddings")
    path = _pq_store_dir(sf_dir)
    fingerprint = _content_probe(emb)
    if (_read_store_meta(path) or {}).get("fingerprint") != fingerprint:
        n = fingerprint["n"]
        strain = _unit_vectors(
            _digest_sample(emb, "pqtr:", _train_frac(n, k_pq)),
            "vec_id",
            "embedding",
        )
        books = _memo_model(
            spark,
            ("pq-books", sf_dir, n, m, d_sub, k_pq, 2),
            lambda: pq_codebooks(strain, m=m, d_sub=d_sub, k_pq=k_pq, n_iter=2),
            src=emb,
        )
        cpts = _unit_vectors(
            emb.where(F.col("label") % 10 != 0), "vec_id", "embedding"
        )
        codes = pq_encode(cpts, books, m=m, d_sub=d_sub, work_rows=n * m * k_pq)
        _write_store(
            path,
            {
                "books": _tagged_books(books).select(
                    F.col("q").alias("s"), "cid", "c"
                ),
                "codes": codes,
            },
            {"m": m, "d_sub": d_sub, "k_pq": k_pq, "fingerprint": fingerprint},
        )
    return path


def read_pq_store(spark: SparkSession, path: str):
    """(books: list[DataFrame], codes: DataFrame, meta) from an
    ``ensure_pq_store`` directory. Parquet round-trips the float64
    codebook entries and int64 codes exactly, so ADC scores computed
    from the store are bit-identical to in-line training. The
    codebooks come back as local frames (``_local_books``); ``codes``
    (the corpus) stays a distributed scan, as it must."""
    meta = _read_store_meta(path)
    codes = spark.read.parquet(os.path.join(path, "codes")).select(
        "id", "codes"
    )
    return _local_books(spark, path, int(meta["m"])), codes, meta


@register(
    "qs23_cosine_topk_ivf_blas_sized",
    # HASH-VERIFIED (r12): qs16's oracle chain (float-fold sample
    # training, replayed verbatim) with the final corpus assignment
    # and the pair scoring in quantized-exact form — the two stages
    # qs23 runs as dgemm.
    oracle=_ivf_kmeans_oracle(
        "(SELECT k FROM sizek)", 2, 64, 5,
        quant_pairs=True, quant_final=True, **_IVF_SIZED,
    ),
)
def qs23_cosine_topk_ivf_blas_sized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sized sample-trained IVF at BLAS throughput — qs16's model
    (same k = floor(√n), same 'ivf:' digest training sample, same
    memoized float-fold trainer) with BOTH n^1.5 terms — corpus
    assignment and within-cell search — in the quantized-exact dgemm
    kernel: each cell packs into one block that scores against
    itself — no candidate join at all. The self-join search over √n
    cells is intrinsically n·√n MULTIPLY-ADDS; what the kernel
    changes is the constant — dgemm runs the same flops ~50-100×
    faster than row-expression folds, which is the difference between
    the model's math cost and the engine's expression overhead at
    100× scale (measured: SCALE_BENCH_r07).

    Graduated from rows-only to HASH-VERIFIED in r12: assignment and
    search scores are integer dots of 2^20-rounded unit vectors —
    exact in float64 under any dgemm accumulation order — and the
    oracle replays the training chain, the quantized assignment, and
    the quantized fixed-point ``cosine_q`` bit-for-bit. qs16 remains
    the float-fold twin over the same trained model; the sized
    fold/BLAS agreement is pinned in tests/test_similarity.py."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_kmeans_blas,
        kmeans_centroids,
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    sample = _digest_sample(emb, "ivf:", _train_frac(n, k))
    # the memoized shared 'ivf:' model (see qs14/qs16)
    cent = _memo_model(
        spark,
        ("ivf-cent", sf_dir, n, k, 2),
        lambda: kmeans_centroids(sample, "vec_id", "embedding", k=k, n_iter=2),
        src=emb,
    )
    return cosine_topk_kmeans_blas(
        emb,
        k_neighbors=5,
        n_clusters=k,
        n_iter=2,
        blas_assign=True,
        cent=cent,
    ).withColumnRenamed("cosine", "cosine_q")


@register(
    "qs24_cosine_topk_imi_multiprobe",
    oracle=_imi_oracle(64, 2, 5, nprobe_each=2),
)
def qs24_cosine_topk_imi_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe on the LINEAR trained index — the recall knob for
    the search-sized IMI (qs17, same 'imi:' sample-trained model):
    each query probes its top-2 cells PER HALF (a 2×2 product probe
    grid, so boundary misses in either half recover) while database
    vectors stay in their single assigned product cell — candidates
    grow ~4× but remain ~4·256·n = LINEAR, which is the point: on
    the √n-cell IVF the same knob multiplies an n^1.5 term (qs11/
    qs14), here it multiplies a linear one. Probe rank (1,1) IS the
    assignment (same total order per half), so both join sides are
    one ranked-probes subplan behind one (cid1, cid2) repartition
    with the rank restriction as a join-side filter — ReuseExchange
    computes the half-probe scoring once (the qs11 convention). The
    oracle replays sizing, sampling, both trainings, per-half probe
    ranking, and the product-cell search end to end."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _topn_probes,
        _unit_vectors,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    # the same memoized 'imi:' model qs17/qs25 build (one in-session
    # trainer run serves the whole family; values identical)
    cent1, cent2 = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    h = 32
    p1 = _topn_probes(
        pts.select("id", F.slice("u", 1, h).alias("u")), cent1, 2
    ).select(
        "id",
        F.col("cid").alias("cid1"),
        F.col("probe_rank").alias("probe_rank1"),
    )
    p2 = _topn_probes(
        pts.select("id", F.slice("u", h + 1, h).alias("u")), cent2, 2
    ).select(
        "id",
        F.col("cid").alias("cid2"),
        F.col("probe_rank").alias("probe_rank2"),
    )
    prb = (
        pts.join(p1, "id")
        .join(p2, "id")
        .repartition(F.col("cid1"), F.col("cid2"))
    )
    # two-level top-k over the 2×2 product probes: ≤ 4·5 rows per
    # query reach the global re-rank
    return _fold_topk(prb, 5).withColumnRenamed("cosine", "cosine_r")


def _imi_adc_oracle(d: int, m: int, k_pq: int, n_iter: int, topk: int) -> str:
    """DuckDB replay of the COMPOSED IMI+ADC index (qs25): the qs17
    search-sized product-cell chain ('imi:' sample, suffixes _i1/_i2
    to keep CTE names disjoint from the PQ sub-chains) generates
    candidates, the qs18 PQ chain ('pqtr:' constant sample) scores
    them in the compressed domain with exact-integer partial sums,
    and the per-pair ADC total is restricted to same-product-cell
    pairs — the full two-model pipeline as one finite CTE chain."""
    ctes = [
        *_imi_cells(d, n_iter, "_i"),
        """asg AS (
      SELECT a1.vec_id, a1.cid AS cid1, a2.cid AS cid2
      FROM asgf_i1 a1 JOIN asgf_i2 a2 ON a1.vec_id = a2.vec_id
    )""",
        _sample_cte(
            "utrainpq",
            "u",
            "pqtr:",
            f"least(1.0, (32.0 * {k_pq}) / (SELECT n FROM sizen))",
        ),
        *_ALL_VIEWS,
        *_pq_books(d, m, k_pq, n_iter, "utrainpq"),
    ]
    return _adc_oracle(
        ctes,
        """
      JOIN asg na ON na.vec_id = e.vec_id
      JOIN tq t ON e.s = t.s AND e.code = t.code
      JOIN asg qa ON qa.vec_id = t.query_id
      WHERE qa.cid1 = na.cid1 AND qa.cid2 = na.cid2
        AND t.query_id <> e.vec_id""",
        topk,
    )


@register("qs25_cosine_topk_imi_adc", oracle=_imi_adc_oracle(64, 4, 16, 2, 5))
def qs25_cosine_topk_imi_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMI + PQ-ADC — the composed 100 TB all-corpus architecture,
    closing the index matrix: qs17's search-sized product grid (the
    LINEAR trained candidate generator, same 'imi:' model) with
    qs18's product-quantization scoring (the COMPRESSED domain, same
    'pqtr:' constant-sample codebooks). FAISS calls this family
    ``IMI2x…,PQy`` — the multi-index + compressed-codes combination
    Babenko & Lempitsky propose for billion-scale corpora: candidates
    stay ~256·n (linear), scored pairs cost m table lookups instead
    of d multiplies, and the corpus-side storage is m small ints per
    vector. qs19 composes √n-cell IVF with ADC and inherits the
    n·√n candidate term; THIS query is what replaces it when the
    workload is the all-corpus self-join.

    Execution is the r8 memory-bounded shape end to end: each point
    carries its quantized lookup table as one array<array<long>>
    column (built by a linear map-side-combining aggregate over the
    broadcast codebooks), candidates come from ONE equi-join on the
    product cell, the per-pair ADC total is an inline zip_with fold
    (no pair-level hash aggregate ever materializes), and the top-5
    window partitions by (cid1, cid2, query_id) — satisfied by the
    join's own partitioning, so the candidate stream is never
    re-exchanged. Both trainings, both assignments, the encoding,
    and the integer ADC sums replay in the oracle — the entire
    two-model composition is hash-verified."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _QSCALE,
        _qt_all_literal,
        _unit_vectors,
        imi_assign,
        imi_cells_for,
        kmeans_centroids_on_halves,
        pq_codebooks,
        pq_encode,
    )

    m, d_sub, k_pq = 4, 16, 16
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    # both models memoized per (session, sf_dir, n): the 'imi:'
    # half-quantizers shared with qs17/qs24/qs26's sizing, the
    # 'pqtr:' codebooks shared with qs18 (same sample, same params,
    # deterministic trainers → identical literals)
    cent1, cent2 = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    asg = imi_assign(pts, cent1, cent2, 32, work_rows=n * 2 * k_each)

    strain = _unit_vectors(
        _digest_sample(emb, "pqtr:", _train_frac(n, k_pq)),
        "vec_id",
        "embedding",
    )
    books = _memo_model(
        spark,
        ("pq-books", sf_dir, n, m, d_sub, k_pq, 2),
        lambda: pq_codebooks(strain, m=m, d_sub=d_sub, k_pq=k_pq, n_iter=2),
        src=emb,
    )
    codes = pq_encode(pts, books, m=m, d_sub=d_sub, work_rows=n * m * k_pq)

    # per-point lookup table as ONE projection over the LITERAL
    # codebooks — no crossJoin/groupBy assembly (the r8-late fix:
    # that aggregate alone was ~600 s of qs19's 100× wall; see
    # operators/similarity.py::_qt_all_literal)
    # corpus-scaled product-cell partitioning (r11): the top-5 window
    # sorts the FULL ~256·n candidate pair stream inside the join's
    # own partitions (no re-exchange — that is the point), so the
    # partition COUNT must scale with n: at 2 M vectors the default
    # 32 put ~16 M pair rows (~800 MB of sorter pressure) in each
    # task — the measured UNABLE_TO_ACQUIRE_MEMORY in the r11 rung.
    # ~8000 corpus rows per partition keeps each task's pair slice
    # ~2 M rows; at sf0.1-and-below this equals the default shuffle
    # width, so small-scale plans are unchanged.
    nparts = max(spark.sparkContext.defaultParallelism, int(n) // 8000)
    qtab = asg.repartition(nparts, "cid1", "cid2").select(
        F.col("id").alias("query_id"),
        "cid1",
        "cid2",
        _qt_all_literal(books, m, d_sub).alias("qt_all"),
    )
    cand = (
        codes.join(asg.select("id", "cid1", "cid2"), "id")
        .repartition(nparts, "cid1", "cid2")
        .select(F.col("id").alias("neighbor_id"), "cid1", "cid2", "codes")
    )
    # unrolled over the m literal sub-quantizers: plain scalar
    # codegen, no zip_with intermediate array per pair row
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
    adc_r = F.floor(
        F.col("adc_l").cast("double")
        / F.lit(float(_QSCALE))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    from pyspark.sql import Window as W

    w = W.partitionBy("cid1", "cid2", "query_id").orderBy(
        F.col("adc_r").desc(), F.col("neighbor_id")
    )
    return (
        qtab.join(cand, ["cid1", "cid2"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "cid1", "cid2", "query_id", "neighbor_id",
            adc_long.alias("adc_l"),
        )
        .select("cid1", "cid2", "query_id", "neighbor_id", adc_r.alias("adc_r"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adc_r", "rank")
    )


@register(
    "qs26_cosine_topk_imi_blas",
    # HASH-VERIFIED (r12): qs17's trained half-quantizers (float-fold
    # sample training, replayed verbatim) + quantized final
    # half-assignments + quantized within-cell dgemm search.
    oracle=_imi_oracle(64, 2, 5, quant_pairs=True, quant_final=True),
)
def qs26_cosine_topk_imi_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search-sized IMI at BLAS throughput (see
    ``operators/similarity.py::cosine_topk_imi_blas``) — qs17's model
    (same k_each = ceil(√(n/256)) sizing, same 'imi:' digest training
    sample, same memoized trainer) searched by packing each
    ~256-vector product cell into one block and scoring it against
    itself in a single dgemm. This completes the BLAS-twin matrix:
    sign buckets have qs4/qs6, the √n-cell IVF has qs23, and the
    LINEAR-search index family — the one the decision table routes
    all-corpus self-joins to — has its throughput shape too. Search
    stays ~256·n multiply-adds; only the constant moves.

    Graduated from rows-only to HASH-VERIFIED in r12: the corpus
    half-assignments and the within-cell search score quantized
    integer dots (exact in float64 under any dgemm accumulation
    order, fixed-point ``cosine_q``), and the oracle replays sizing,
    sampling, training, assignment, and search end to end. qs17
    remains the float-fold twin over the same trained model
    (pair/rank agreement pytest-pinned)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        cosine_topk_imi_blas,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    # the same memoized 'imi:' model as qs17/qs24/qs25 — one
    # in-session trainer run serves the family (values identical)
    cents = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    return cosine_topk_imi_blas(
        emb,
        k_neighbors=5,
        k_each=k_each,
        n_iter=2,
        cents=cents,
    ).withColumnRenamed("cosine", "cosine_q")


@register(
    "qs28_cosine_topk_imi_multiprobe_blas",
    # HASH-VERIFIED (r12): qs24's chain — float-fold training,
    # assignment, and probe ranking, all already replayed — with the
    # block search in quantized-exact form (the one dgemm stage).
    oracle=_imi_oracle(64, 2, 5, nprobe_each=2, quant_pairs=True),
)
def qs28_cosine_topk_imi_multiprobe_blas(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe IMI at BLAS throughput (see ``operators/similarity
    .py::cosine_topk_imi_multiprobe_blas``) — qs24's recall knob (the
    2×2 product probe grid over the linear search-sized index) at
    qs26's dgemm constant, completing the recall-knob × kernel
    matrix: every trained index family has a float fold form AND a
    BLAS throughput twin at BOTH probe settings. Same memoized 'imi:'
    model as qs17/qs24/qs25/qs26 (identical trained cells — the fold
    assignment/probes are unchanged here), asymmetric per-cell blocks
    (assigned members vs probe members), per-block partial top-k
    merged under one global per-query window.

    Graduated from rows-only to HASH-VERIFIED in r12: assignment and
    probe ranking stay the float folds qs24's oracle replays, and the
    block scoring is quantized-exact (fixed-point ``cosine_q``), so
    the whole query hashes against the oracle. qs24 agreement stays
    pytest-pinned."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        cosine_topk_imi_multiprobe_blas,
        imi_cells_for,
        kmeans_centroids_on_halves,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_each = imi_cells_for(n)
    spts = _unit_vectors(
        _digest_sample(emb, "imi:", _train_frac(n, k_each)),
        "vec_id",
        "embedding",
    )
    cents = _memo_model(
        spark,
        ("imi-cent", sf_dir, n, k_each, 2),
        lambda: kmeans_centroids_on_halves(spts, 32, k=k_each, n_iter=2),
        src=emb,
    )
    return cosine_topk_imi_multiprobe_blas(
        emb,
        k_neighbors=5,
        k_each=k_each,
        n_iter=2,
        nprobe_each=2,
        cents=cents,
    ).withColumnRenamed("cosine", "cosine_q")


@register("qs27_cosine_topk_ivfpq_gather", oracle=_ivfpq_oracle(64, 4, 16, 2, 5))
def qs27_cosine_topk_ivfpq_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qs19's composed IVF+PQ index served by the per-cell NumPy
    table-GATHER kernel (``cosine_topk_ivfpq(gather_kernel=True)``) —
    FAISS's actual inverted-list scan shape. The interesting property:
    unlike the float BLAS twins (qs23/qs26, rows-only), this kernel
    query is HASH-VERIFIED against qs19's unchanged oracle, because
    compressed-domain ADC scoring is exact int64 arithmetic — the
    sum of quantized lookups is accumulation-order-independent, so a
    vectorized gather cannot change one output bit. Same model, same
    'ivfpq:' shared digest sample, same sizing; what moves is the
    physical cost — the declarative shape materializes n²/k joined
    pair ROWS (each dragging the ~0.5 kB per-query lookup table) and
    sorts the full pair stream for the top-k window, while the kernel
    builds one block-chunked (queries × candidates) int64 matrix per
    cell and emits only top-k rows. The throughput path for the
    100 TB compressed index that LOSES NO verification strength."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        cosine_topk_ivfpq,
        trained_cells_for,
    )
    from spotify_pipeline_gcp_spark.pyfiles import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = trained_cells_for(n)
    cent, books = _ivfpq_model(spark, sf_dir, emb, n, k)
    return cosine_topk_ivfpq(
        emb,
        k_neighbors=5,
        n_clusters=k,
        cent=cent,
        books=books,
        gather_kernel=True,
    )
