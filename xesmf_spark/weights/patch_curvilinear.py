"""Patch-recovery weights from a CURVILINEAR source mesh.

The reference supports ``method='patch'`` on any 2-D mesh because ESMF
builds the least-squares polynomial patches in Fortran
(xesmf/backend.py:243); the rectilinear construction (patch.py)
exploits the source's separable axes, which a curvilinear mesh lacks.
This module implements the method's DEFINING contract on general
meshes — exact on quadratic fields, C0 across quad edges, weights
summing to 1 — with the classic patch-recovery construction:

1. LOCATE — the curvilinear bilinear builder's quad location
   (curvilinear.point_weights): containing center-mesh quad (j, i) and
   unit-square coordinates (u, v) per destination point. Seam-safe.
2. CORNER PATCHES — around each of the quad's 4 corner CENTERS, the
   3x3 index-space stencil of source centers (shifted inward at mesh
   edges, wrapped mod n_x when periodic), gathered from the broadcast
   mesh by index arithmetic; a least-squares quadratic in LOCAL
   physical coordinates (6 monomials, 9 points) evaluated at the
   destination point gives 9 weights per corner. The normal-equation
   solves are BATCHED numpy (one (N,6,6) ``np.linalg.solve``) — no
   per-row Python.
3. BLEND — the 4 corner patches combine with the bilinear basis
   ``(1-u)(1-v), u(1-v), (1-u)v, uv``. A corner's patch depends only on
   the corner (shared between adjacent quads) and the blend vanishes on
   the quad edges opposite the corner, so the interpolant is C0. A
   source cell reached via several corners gets its weights summed.

Exactness: each LS quadratic reproduces any quadratic field on its
stencil exactly (9 generic points determine 6 coefficients), and an
affine blend of exact values stays exact — pytest asserts machine-
precision reproduction of a full 2-D quadratic on a rotated mesh.
Constants are reproduced by every LS fit, so weights sum to 1.

Spark plan: the bilinear builder's — the source mesh and its bin index
broadcast from the driver, ONE ``mapInPandas`` over the destination
cells; each point's <= 16 triplets come out of the kernel merged. The
same scale premise holds: the source centers are already on the
driver, the destination points are streamed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xesmf_spark.grids import Grid
from xesmf_spark.weights.curvilinear import Located, bilinear_basis, point_weights
from xesmf_spark.weights.patch import merge_repeats

#: the 3x3 stencil slots, row-major: slot = 3 * dj + di
_DJ, _DI = np.divmod(np.arange(9), 3)


def _solve(X, Y, K, px, py, blend):
    """Batched corner-patch solve: each row is one (point, corner) pair
    with its 9 stencil points (X, Y, K: ``(n, 9)``), the destination
    point (px, py) and the blend factor. Returns the ``(n, 9)`` weights
    of the stencil cells ``K``.

    w9 = first row of (A^T A)^{-1} A^T with A the 6-monomial design
    matrix in dest-centered, extent-scaled coordinates — evaluating the
    LS quadratic at the origin needs only the constant coefficient, and
    the scaling leaves it (hence the weights) unchanged while keeping
    the normal matrix conditioned."""
    px, py = px[:, None], py[:, None]
    # seam-safe localization of stencil lons around the dest point
    X = X - 360.0 * np.round((X - px) / 360.0)
    xt, yt = X - px, Y - py
    s = np.maximum(np.sqrt((xt * xt + yt * yt).mean(axis=1))[:, None], 1e-12)
    xt, yt = xt / s, yt / s
    A = np.stack([np.ones_like(xt), xt, yt, xt * xt, xt * yt, yt * yt], axis=2)  # (n, 9, 6)
    M = A.transpose(0, 2, 1) @ A  # (n, 6, 6)
    At = A.transpose(0, 2, 1)  # (n, 6, 9)
    try:
        W = np.linalg.solve(M, At)  # (n, 6, 9)
    except np.linalg.LinAlgError:
        W = np.linalg.pinv(M) @ At  # rank-deficient stencil fallback
    return W[:, 0, :] * blend[:, None]


def _patch_rows(periodic: bool):
    """The ``emit`` of :func:`~curvilinear.point_weights` for patch:
    each located point's 4 corner stencils, solved and merged."""

    def emit(pid, loc: Located, lon, lat) -> pd.DataFrame:
        n_y, n_x = lon.shape
        # corners 00, 10, 01, 11 of each point's quad, (m, 4)
        jc = loc.j[:, None] + np.array([0, 0, 1, 1])
        ic = loc.i[:, None] + np.array([0, 1, 0, 1])
        # stencil start, clamped inward so all 3 rows/cols are in range
        # and the 9 centers are distinct; i wraps instead when periodic
        j0 = np.clip(jc - 1, 0, n_y - 3).reshape(-1, 1)
        i0 = (ic - 1 if periodic else np.clip(ic - 1, 0, n_x - 3)).reshape(-1, 1)
        ii = i0 + _DI
        K = (j0 + _DJ) * n_x + (ii % n_x if periodic else ii)  # (4m, 9)
        w9 = _solve(
            lon.reshape(-1)[K], lat.reshape(-1)[K], K,
            np.repeat(loc.px, 4), np.repeat(loc.py, 4),
            bilinear_basis(loc.u, loc.v).T.reshape(-1),
        )
        row, col, S = merge_repeats(np.repeat(pid, 36), K.reshape(-1), w9.reshape(-1))
        return pd.DataFrame({"row": row, "col": col, "S": S})

    return emit


def patch_weights_curvilinear(src: Grid, dst: Grid) -> DataFrame:
    """COO weight triplets (row, col, S) for patch-recovery regridding
    from a curvilinear source mesh onto any destination point set.
    patch.py sends every curvilinear source here; a rectilinear source
    (read as its mesh of centers) works too, but patch.py serves it
    with its separable axes, seam and poles included."""
    if src.n_x < 3 or src.n_y < 3:
        raise ValueError("patch needs >= 3 source centers per axis")
    return point_weights(src, dst, _patch_rows(src.periodic))
