"""Patch-recovery (higher-order) regridding weights — SURVEY.md §2B-5.

Reference: ``method='patch'`` (xesmf/backend.py:243), ESMF's
patch-recovery interpolation (least-squares polynomial patches around
each source cell, blended across the destination point's containing
quad — Khoei & Gharehbaghi 2007, ESMF reference manual §"patch"). The
reference's own tests skip the method as too slow
(xesmf/tests/test_frontend.py:49), so no numerical fixture exists to
match; this module implements the method's DEFINING contract — exact on
quadratic fields, C0-blended, weights summing to 1 — with a documented
construction rather than bit-parity with ESMF.

Construction (rectilinear source): around each of the destination
point's two bracketing source centers per axis, take the 3-point center
stencil (shifted inward at non-periodic edges); the unique 1-D
quadratic through those 3 centers, evaluated at the destination
coordinate, gives closed-form Lagrange weights; blend the two corners'
quadratics with the linear bracket weights. The 2-D patch is the tensor
product — per-corner biquadratic patches blended bilinearly, which
factorizes axis-by-axis. The 1-D stage is numpy on the driver, over
bilinear.py's periodic extension and ``searchsorted`` brackets — no
linear solve (the tensor-grid least-squares system is interpolatory,
so its solution IS the Lagrange form); bilinear.py's virtual-pole rows
and one Spark cross join then combine the axes, <=16 nnz per
destination cell. Point destinations (a curvilinear mesh's centers)
take bilinear.py's per-point path with the same 1-D kernel.

Reproduces any quadratic field exactly on interior destinations
(tested), degrades to the bilinear ALLAVG virtual-pole treatment
poleward of the outermost source row (periodic grids), and yields
unmapped-zero outside the source mesh — the same boundary semantics as
bilinear.py. A curvilinear source dispatches to the general-mesh form
(patch_curvilinear.py: per-corner 3x3 least-squares quadratic patches
blended over the located quad — same defining contract).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from xesmf_spark.grids import Grid
from xesmf_spark.weights.bilinear import _bracket, _extended, _separable, _where


def _axis_patch(c_src: np.ndarray, x: np.ndarray, periodic: bool):
    """Per-axis patch weights: destination coordinates against up to 4
    distinct source indices — the union of the two bracketing corners'
    3-point Lagrange stencils, blended by the linear bracket weights.
    Returns ``(d, k, w)`` like bilinear's ``_axis_bracket``; weights per
    destination sum to 1 (each Lagrange basis sums to 1 and the corner
    blend is affine)."""
    k, c = _extended(c_src, periodic)
    d, p, b_hi = _bracket(c, x)
    x = x[d]
    idx, ks, ws = [], [], []
    for q, blend in ((p, 1.0 - b_hi), (p + 1, b_hi)):
        # the corner's canonical 3-point stencil on the sorted axis:
        # (q-1, q, q+1), shifted inward at hard edges
        a = np.clip(q - 1, 0, c.size - 3)
        ca, cb, cc = c[a], c[a + 1], c[a + 2]
        for s, num, den in (
            (a, (x - cb) * (x - cc), (ca - cb) * (ca - cc)),
            (a + 1, (x - ca) * (x - cc), (cb - ca) * (cb - cc)),
            (a + 2, (x - ca) * (x - cb), (cc - ca) * (cc - cb)),
        ):
            idx.append(d)
            ks.append(k[s])
            ws.append(blend * num / den)
    # a stencil index reached via both corners merges
    return merge_repeats(*(np.concatenate(parts) for parts in (idx, ks, ws)))


def merge_repeats(d: np.ndarray, k: np.ndarray, w: np.ndarray):
    """``(d, k, w)`` with the weights of each repeated ``(d, k)`` pair
    summed in emission order, sorted by ``(d, k)``; exact zeros drop."""
    order = np.lexsort((k, d))
    d, k, w = d[order], k[order], w[order]
    new = np.ones(d.size, dtype=bool)
    new[1:] = (d[1:] != d[:-1]) | (k[1:] != k[:-1])
    first = np.flatnonzero(new)
    w = np.add.reduceat(w, first)
    return _where(w != 0.0, d[first], k[first], w)


def patch_weights(src: Grid, dst: Grid, periodic: bool | None = None) -> DataFrame:
    """COO weight triplets for patch-recovery regridding from a
    rectilinear source onto a rectilinear grid or a curvilinear mesh's
    centers, or from a curvilinear mesh (a locstream destination is
    rejected upstream by the Regridder's validation matrix,
    frontend.py:178-184)."""
    if periodic is None:
        periodic = src.periodic
    if src.curvilinear:
        # no separable source axes: the general-mesh form — per-corner
        # 3x3 LS quadratic patches blended bilinearly over the located
        # source quad (patch_curvilinear.py), same defining contract
        # (quadratic-exact, C0, partition of unity)
        from xesmf_spark.weights.patch_curvilinear import patch_weights_curvilinear

        return patch_weights_curvilinear(src, dst)
    if src.n_x < 3 or src.n_y < 3:
        raise ValueError("patch needs >= 3 source centers per axis")
    # poleward of the outermost source row: ALLAVG virtual-pole
    # blending, identical to bilinear (linear accuracy there)
    return _separable(_axis_patch, src, dst, periodic)
