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
    ``collect_list(struct(id, v))`` cell."""
    ids = np.fromiter((r["id"] for r in items), dtype="int64", count=len(items))
    return ids, matrix([r["v"] for r in items])


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
