"""First-order conservative weights for ARBITRARY quad meshes
(curvilinear included) via polygon clipping — SURVEY.md §7's last
out-of-scope item, now in scope.

The reference supports conservative regridding on any 2-D mesh because
ESMF clips cell polygons in Fortran (xesmf/backend.py:242 with corners,
backend.py:254-260). The rectilinear builder (conservative.py) exploits
separable axes; a curvilinear mesh (rotated pole, stretched ocean grid)
has none, so the general form is computed here:

    S(d, s) = area(s ∩ d) / area(d)        [dstarea normalization]

AREA MEASURE — cells are treated as quadrilaterals whose edges are
straight in the equal-area map ``(x, y) = (radians(lon), sin(lat))``
(Lambert cylindrical). Planar area in that map IS spherical area (the
Jacobian is 1), so for rectilinear grids — whose edges follow meridians
and parallels, which the map keeps straight — the weights are the
axis-decomposed ``conservative.py`` weights to fp round-off
(differential-tested, and oracle-checked against the same closed-form
SQL). For curvilinear edges, "straight in the map" differs from ESMF's
great-circle edges by O(edge_length²) — the usual small-cell regime of
regional models; same planar-approximation contract as
``curvilinear.py``. The ±180° seam is handled by mod-360 localization
(ring corners wrapped into the first corner's frame, bin indices wrapped
mod nlon, each candidate source ring shifted by whole turns into its
destination's frame before clipping) — the reference gets this for free
from ESMF's 3-D Cartesian internals (xesmf/backend.py:44-45). Pole-cap
cells remain planar-approximate (the equal-area map is exact for
meridian/parallel edges, approximate for slanted edges near the pole).

Plan — the shape of ``curvilinear.point_weights``: the driver reads the
source corner rings (``Grid.rings``), builds the seam-aware bin index
over their bounding boxes with numpy (``curvilinear._bin_index``) and
broadcasts both; ONE ``mapInPandas`` over the destination rings then,
per slice of ``_CHUNK`` destination cells:

1. CANDIDATES — lists the bins each destination box covers, gathers
   their source rings and keeps each (destination, source) pair once;
2. CLIP — shifts the source ring into the destination's lon frame,
   drops pairs whose boxes do not strictly overlap, and clips the rest
   with a Sutherland-Hodgman pass vectorized over the pairs
   (:func:`overlap_fractions`);
3. WEIGHT — shoelace area ratio; overlaps below ``_MIN_S`` are dropped,
   so grazing candidates cost nothing downstream.

The weights plan holds no join, shuffle or window. Scale premise: about
64 bytes per source cell (plus its bin index) are broadcast; the
destination is streamed through the kernel, never collected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xesmf_spark.grids import Grid, cell_quads
from xesmf_spark.weights.curvilinear import (
    _CHUNK,
    _OUT_SCHEMA,
    _bin_index,
    _candidates,
    _localize,
    _round_half_up,
)

#: overlap fractions below this are clipping noise, not weights
_MIN_S = 1e-12

#: candidate pairs clipped per numpy pass: the clip holds ~3.5 KB of
#: temporaries per pair, and a coarse destination cell can gather
#: hundreds of fine source cells
_PAIRS = 16384


def overlap_fractions(sx, sy, dx, dy) -> np.ndarray:
    """``area(s ∩ d) / area(d)`` per pair of corner rings, each argument
    ``(m, 4)`` in degrees: subject = source ring, clip = destination
    ring (convex), both mapped to the equal-area plane
    (radians(lon), sin(lat)) so shoelace area IS spherical area. A
    degenerate (zero-area) destination gets 0."""
    DX = np.radians(dx)
    DY = np.sin(np.radians(dy))
    # clip relative to the destination's first corner: area is
    # translation-invariant, and in absolute coordinates the edge
    # intersections of two rings sharing an edge leave fp-dust overlaps
    # (~1e-12 of a cell) that survive _MIN_S
    ox, oy = DX[:, :1], DY[:, :1]
    SX = np.radians(sx) - ox
    SY = np.sin(np.radians(sy)) - oy
    DX, DY = DX - ox, DY - oy
    n = SX.shape[0]

    def shoelace4(X, Y):
        return 0.5 * sum(X[:, k] * Y[:, (k + 1) % 4] - X[:, (k + 1) % 4] * Y[:, k] for k in range(4))

    area_d = shoelace4(DX, DY)
    # canonicalize the clip ring to CCW (inside = left of edges)
    flip = area_d < 0
    DX[flip] = DX[flip][:, ::-1]
    DY[flip] = DY[flip][:, ::-1]

    MAXV = 16  # quad clipped by 4 half-planes has <= 8 vertices
    P = np.zeros((n, MAXV, 2))
    P[:, :4, 0] = SX
    P[:, :4, 1] = SY
    cnt = np.full(n, 4, np.int64)
    idx = np.arange(MAXV)[None, :]
    for e in range(4):
        ax, ay = DX[:, e, None], DY[:, e, None]
        ex = DX[:, (e + 1) % 4, None] - ax
        ey = DY[:, (e + 1) % 4, None] - ay
        valid = idx < cnt[:, None]
        pidx = (idx - 1) % np.maximum(cnt, 1)[:, None]
        prv = np.take_along_axis(P, pidx[:, :, None].repeat(2, 2), axis=1)
        cur = P
        cin = ex * (cur[:, :, 1] - ay) - ey * (cur[:, :, 0] - ax) >= 0.0
        pin = ex * (prv[:, :, 1] - ay) - ey * (prv[:, :, 0] - ax) >= 0.0
        seg = cur - prv
        denom = ex * seg[:, :, 1] - ey * seg[:, :, 0]
        cp = ex * (prv[:, :, 1] - ay) - ey * (prv[:, :, 0] - ax)
        t = -cp / np.where(denom == 0.0, 1.0, denom)
        X = prv + t[:, :, None] * seg
        emit_int = valid & (cin != pin)
        emit_cur = valid & cin
        n_emit = emit_int.astype(np.int64) + emit_cur
        pos_end = np.cumsum(n_emit, axis=1)
        pos0 = pos_end - n_emit
        newP = np.zeros_like(P)
        ri, ci = np.nonzero(emit_int)
        newP[ri, pos0[ri, ci]] = X[ri, ci]
        rc, cc = np.nonzero(emit_cur)
        newP[rc, pos0[rc, cc] + emit_int[rc, cc]] = P[rc, cc]
        P = newP
        cnt = pos_end[:, -1]
    valid = idx < cnt[:, None]
    nxt = (idx + 1) % np.maximum(cnt, 1)[:, None]
    Pn = np.take_along_axis(P, nxt[:, :, None].repeat(2, 2), axis=1)
    a_ov = 0.5 * np.abs(
        np.sum(
            np.where(valid, P[:, :, 0] * Pn[:, :, 1] - Pn[:, :, 0] * P[:, :, 1], 0.0),
            axis=1,
        )
    )
    # degenerate (zero-area) destination quads get NO weights — the
    # guarded divide keeps them finite (ignore_degenerate=True
    # semantics; the Regridder raises on them by default before this
    # kernel ever runs)
    abs_d = np.abs(area_d)
    return np.where(abs_d > 0.0, a_ov / np.where(abs_d == 0.0, 1.0, abs_d), 0.0)


def _clip_rows(did, dx, dy, sx, sy, index) -> pd.DataFrame:
    """Triplets of the destination cells ``did`` with localized
    ``(4, m)`` rings ``(dx, dy)`` against the localized source rings
    ``(sx, sy)`` indexed by ``index``."""
    d, s = _candidates(index, dx.min(axis=0), dx.max(axis=0), dy.min(axis=0), dy.max(axis=0))
    # a source ring sharing several bins with a destination box is
    # listed once per bin
    d, s = np.divmod(np.unique(d * sx.shape[1] + s), sx.shape[1])
    # each ring was localized around its OWN first corner, so the two
    # rings of a pair can sit in lon frames 360° apart: shift the source
    # by the whole number of turns separating them
    px = sx[:, s] - 360.0 * _round_half_up((sx[0, s] - dx[0, d]) / 360.0)
    py, qx, qy = sy[:, s], dx[:, d], dy[:, d]
    # bbox prefilter: cheap reject before the clip sees the pair
    ok = (
        (px.min(axis=0) < qx.max(axis=0))
        & (px.max(axis=0) > qx.min(axis=0))
        & (py.min(axis=0) < qy.max(axis=0))
        & (py.max(axis=0) > qy.min(axis=0))
    )
    d, s, px, py, qx, qy = d[ok], s[ok], px[:, ok], py[:, ok], qx[:, ok], qy[:, ok]
    S = np.empty(d.size)
    for k in range(0, d.size, _PAIRS):
        c = slice(k, k + _PAIRS)
        S[c] = overlap_fractions(px[:, c].T, py[:, c].T, qx[:, c].T, qy[:, c].T)
    keep = S > _MIN_S
    return pd.DataFrame({"row": did[d[keep]], "col": s[keep], "S": S[keep]})


def conservative_weights_clip(src: Grid, dst: Grid) -> DataFrame:
    """COO weight triplets (row, col, S) for first-order conservative
    regridding between arbitrary quad meshes (either side rectilinear or
    curvilinear-with-corners). Unmapped destination cells get no rows —
    the apply's zero-fill reproduces unmapped_action=IGNORE
    (xesmf/backend.py:275-279)."""
    quads = cell_quads(dst, "d")
    sx, sy = src.rings
    sx = _localize(sx)
    shared = src.df.sparkSession.sparkContext.broadcast((sx, sy, _bin_index(sx, sy)))
    xcols, ycols = [f"dx{k}" for k in range(4)], [f"dy{k}" for k in range(4)]

    def kernel(batches):
        sx, sy, index = shared.value
        for pdf in batches:
            did = pdf["did"].to_numpy(np.int64)
            dx = _localize(pdf[xcols].to_numpy(np.float64).T)
            dy = pdf[ycols].to_numpy(np.float64).T
            for k in range(0, did.size, _CHUNK):
                c = slice(k, k + _CHUNK)
                yield _clip_rows(did[c], dx[:, c], dy[:, c], sx, sy, index)

    return quads.mapInPandas(kernel, _OUT_SCHEMA)
