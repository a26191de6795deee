"""NumPy idioms shared by the Arrow/NumPy scoring kernels.

Every packed-block, assignment and probe kernel in
``operators/similarity.py`` unpacks its Arrow cells, unit-normalizes
raw vectors and rounds them at ``QSCALE`` the same bit-exact way;
each step is written once here. The module imports NumPy only, so a
Python worker loads it cheaply. Operators whose kernels call it ship
the package first (``pyfiles.ensure_package_on_workers``).
"""

from __future__ import annotations

import numpy as np

# Fixed-point scale for QUANTIZED-EXACT scoring. 2^20 keeps every
# quantized component |q| <= 2^20 (unit vectors), every product
# <= 2^40, and a d=64 dot <= 2^46 — below 2^53, so the dot is EXACT in
# int64 AND in float64 regardless of accumulation order. A float64
# dgemm over the quantized matrices therefore computes bit-identical
# scores to the SQL fold (unlike raw float dots, where BLAS reordering
# shifts near-ties at ulp level), so corpus-sized scoring runs at BLAS
# throughput and STAYS hash-verified by a DuckDB oracle replaying the
# same quantized dots. The ~1e-6 quantization only moves points that
# sit within 2^-20 of a boundary — and moves them identically in
# every engine.
QSCALE = 1 << 20


def matrix(vectors) -> np.ndarray:
    """Stack array cells (float32 or float64) into one float64 matrix,
    one row per cell. float32 -> float64 widening is exact, so this is
    Spark's ``cast("double")`` bit for bit."""
    return np.stack([np.asarray(v, dtype="float64") for v in vectors])


def unpack(items) -> tuple[np.ndarray, np.ndarray]:
    """(ids int64, float64 matrix) from one packed
    ``collect_list(struct(id, v))`` cell, given as the Arrow struct
    array of its items (``mapInArrow``). The columns are read whole,
    with no per-item Python object; every vector must be non-null and
    of one length, and ids non-null."""
    ids, vecs = items.flatten()
    lens = np.diff(vecs.offsets.to_numpy())
    d = int(lens[0]) if len(lens) else 0
    if ids.null_count or vecs.null_count or (lens != d).any():
        raise ValueError("packed items need non-null ids and equal-length vectors")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return ids.to_numpy().astype("int64"), flat.astype("float64").reshape(len(ids), d)


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """Row-normalize with the bits of ``similarity._unit_vectors``: the
    norm is the SEQUENTIAL fold ``sqrt(aggregate(zip_with(v, v, x*y),
    0.0, acc+v))`` — each square rounded once, summed left to right
    with one rounding per add (never a pairwise ``np.linalg.norm``),
    the ``0.0`` init kept as ``+ 0.0``; ``np.sqrt`` and Java
    ``Math.sqrt`` are both correctly rounded — then one division per
    element."""
    sq = mat * mat
    acc = sq[:, 0] + 0.0
    for i in range(1, sq.shape[1]):
        acc = acc + sq[:, i]
    return mat / np.sqrt(acc)[:, None]


def quantize(mat: np.ndarray) -> np.ndarray:
    """Round half up at ``QSCALE``: ``floor(x * 2^20 + 0.5)``, the form
    Spark, DuckDB and NumPy evaluate identically for every double."""
    return np.floor(mat * float(QSCALE) + 0.5)


def row_tiles(n_q: int, n_d: int, budget: int) -> list[tuple[int, int]]:
    """[start, stop) query-row tiles covering ``range(n_q)`` once, each
    as many rows as keep its float64 score slab (rows × ``n_d`` × 8 B)
    within ``budget`` bytes. One row is the smallest tile, so a row
    wider than the budget alone is a tile of its own."""
    step = max(1, budget // (8 * max(n_d, 1)))
    return [(r, min(r + step, n_q)) for r in range(0, n_q, step)]


def topk_tiled(sims_or_blocks, q_ids, d_ids, k: int, budget: int):
    """(query_id, neighbor_id, score) columns: each query row's top-k
    by (score desc, neighbor_id), self-pairs and non-finite scores
    dropped, rows in query-row order.

    ``sims_or_blocks`` is a (rows_q × rows_d) score matrix or a
    ``(qm, dm)`` pair of row blocks scored here as ``qm @ dm.T``. Query
    rows go in ``row_tiles`` so no float64 score slab exceeds
    ``budget``. Per tile: NaN scores (a zero vector's row and column)
    and self-pairs (``q_id == d_id``) become −inf; a row-wise partition
    finds each row's k-th largest score, and every entry at or above
    it is kept — the boundary's exact ties included, which quantized
    integer scores make common (duplicate vectors) — so one lexsort on
    (row, −score, neighbor_id) and a per-row cut at k give the
    tie-exact top-k. Entries still non-finite after the cut are
    dropped, so a row with fewer than k finite scores yields only
    those."""
    if isinstance(sims_or_blocks, np.ndarray):
        n_d = sims_or_blocks.shape[1]

        def slab(r0, r1):
            return np.array(sims_or_blocks[r0:r1], dtype="float64")

    else:
        qm, dm = sims_or_blocks
        n_d = dm.shape[0]

        def slab(r0, r1):
            return qm[r0:r1] @ dm.T

    kk = min(k, n_d)
    cols = [(np.zeros(0, "int64"), np.zeros(0, "int64"), np.zeros(0))]
    for r0, r1 in row_tiles(len(q_ids), n_d, budget):
        s = slab(r0, r1)
        s[np.isnan(s) | (q_ids[r0:r1, None] == d_ids[None, :])] = -np.inf
        keep = s > -np.inf
        if kk < n_d:
            keep &= s >= np.partition(s, n_d - kk, axis=1)[:, n_d - kk, None]
        rows, js = np.nonzero(keep)
        v = s[rows, js]
        order = np.lexsort((d_ids[js], -v, rows))
        rows, js, v = rows[order], js[order], v[order]
        rank = np.arange(len(rows)) - np.searchsorted(rows, rows)
        cut = (rank < kk) & np.isfinite(v)
        cols.append((q_ids[r0 + rows[cut]], d_ids[js[cut]], v[cut]))
    return tuple(np.concatenate(c) for c in zip(*cols))
