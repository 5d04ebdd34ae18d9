"""Bilinear weights for CURVILINEAR source grids (2-D lon/lat arrays).

The reference accepts any 2-D mesh (xesmf/frontend.py:33-72 passes 2-D
coordinate arrays straight to ESMF; ``as_2d_mesh`` only broadcasts 1-D
axes up). The rectilinear builder (bilinear.py) exploits separable
axes; a curvilinear mesh (ocean/regional models: rotated poles,
stretched tripolar grids) has none, so bilinear interpolation becomes:

1. QUAD LOCATION — find the cell of the source CENTER mesh (the quad
   spanned by centers (j,i),(j,i+1),(j+1,i+1),(j+1,i)) containing each
   destination point. Each quad is indexed under the coarse lat/lon
   bins its bounding box overlaps; a point is tested only against the
   quads of its own bin, with an exact, edge-inclusive point-in-quad
   test (sign of the 2-D cross product per edge). A point on a shared
   edge takes the quad with the lowest (j, i). Never all-pairs.
2. INVERSE BILINEAR MAP — solve P = (1-u)(1-v)*P00 + u(1-v)*P10 +
   (1-u)v*P01 + uv*P11 for (u, v) in the unit square: eliminating u
   gives a QUADRATIC in v (closed form, no iteration); the weights are
   the four bilinear products. ``oracle.bilinear_curvilinear_oracle_sql``
   mirrors this operation for operation.

Plan: the driver reads the source centers (``Grid.mesh``), builds the
bin index with numpy and broadcasts both; ONE ``mapInPandas`` over the
destination cells locates and solves each Arrow batch of points with
numpy (:func:`point_weights`, which patch_curvilinear.py shares). The
weights plan holds no join, shuffle or window.

Scale premise: a curvilinear source's centers already live on the
driver — ``grid_from_2d_arrays`` builds the grid from driver arrays —
so a broadcast of about 16 bytes per source cell (plus its bin index)
replaces a distributed quad table. Destination points are streamed
through the kernel, never collected, shuffled or broadcast.

Seam handling: quads and destination points are LOCALIZED mod 360
(corner lons wrapped into the first corner's frame, bin indices wrapped
mod nlon, the point shifted by whole turns into the quad's frame), so
meshes straddling the ±180° antimeridian — global tripolar/rotated
grids — regrid correctly in either lon convention (±180 or 0..360).
The reference gets this for free from ESMF's 3-D Cartesian internals
(xesmf/backend.py:44-45). The bin width is the mesh's median quad
extent, snapped to divide 360 (:func:`_snap_bins`), so a regional mesh
gets bins as fine as a global one of the same resolution. The polygon
clipper (conservative_clip.py) indexes the source cells' corner rings
with the same :func:`_bin_index` and looks up each destination cell's
box with the same :func:`_candidates`.

Limitations (documented, mirroring SURVEY.md §7 phase-7 scope):
- planar approximation in lon/lat space (adequate away from the poles
  for meshes whose cells are small relative to curvature — the usual
  regional/global-model regime); cells must be narrower than 180°;
- destination points outside the center mesh get no weights → 0 on
  apply (unmapped_action=IGNORE semantics, xesmf/backend.py:275-279);
  so does a point whose quad is degenerate (the inverse map would
  divide by zero).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xesmf_spark.grids import Grid

_OUT_SCHEMA = "row long, col long, S double"

#: |a| below this -> the quad is a parallelogram and the quadratic
#: degenerates to the linear case
_EPS = 1e-12

#: narrowest bin, degrees: bounds the bin count of a vanishingly fine
#: (or collapsed) mesh
_MIN_BIN_DEG = 1e-3

#: destination points located per numpy pass — bounds the (point,
#: candidate quad) arrays of one pass
_CHUNK = 4096


class Located(NamedTuple):
    """Destination points that fell inside a source quad: ``k`` indexes
    them in the input arrays; ``px`` is localized into the quad's lon
    frame; ``(j, i)`` is the quad's lowest corner; ``(u, v)`` its
    unit-square coordinates."""

    k: np.ndarray
    px: np.ndarray
    py: np.ndarray
    j: np.ndarray
    i: np.ndarray
    u: np.ndarray
    v: np.ndarray


def _wrap(x: np.ndarray) -> np.ndarray:
    """``grids.wrap_lon`` in numpy: longitude into [-180, 180)."""
    return x - 360.0 * np.floor((x + 180.0) / 360.0)


def _round_half_up(t: np.ndarray) -> np.ndarray:
    """Nearest integer, ties away from zero (SQL ``round(t, 0)``)."""
    a = np.abs(t)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), t)


def _localize(x: np.ndarray) -> np.ndarray:
    """Lons of rings ``x`` (``(k, m)``, one ring per column) in the
    frame of each ring's wrapped first corner, so a ring straddling the
    ±180° seam stays contiguous (cells narrower than 180°)."""
    ref = _wrap(x[0])
    return np.concatenate([ref[None], ref + _wrap(x[1:] - x[0])])


def _quad_corners(lon: np.ndarray, lat: np.ndarray, j: np.ndarray, i: np.ndarray):
    """Corner centers of quads ``(j, i)`` in the order 00, 10, 01, 11:
    ``(x, y)``, each ``(4, m)``, with the lons localized (seam-safe)."""
    n_x = lon.shape[1]
    c = np.stack([j * n_x + i, j * n_x + i + 1, (j + 1) * n_x + i, (j + 1) * n_x + i + 1])
    return _localize(lon.reshape(-1)[c]), lat.reshape(-1)[c]


def _snap_bins(bin_deg: float) -> tuple[int, float]:
    """(nlon, effective bin_deg) with ``nlon * bin_deg == 360`` EXACTLY.
    The mod-nlon wrap of lon-bin indices is only a congruence when the
    bin width divides 360: with any other width a 360° shift is a
    fractional number of bins and seam-straddling quads land in the
    wrong wrapped bin. Snapping the width to 360/nlon preserves the
    ~requested granularity and restores the identity."""
    nlon = max(1, int(round(360.0 / bin_deg)))
    return nlon, 360.0 / nlon


def _bin(v: np.ndarray, origin: float, bin_deg: float) -> np.ndarray:
    """Bin index along one axis of coordinates ``v``, counted from ``-origin``."""
    return np.floor((v + origin) / bin_deg).astype(np.int64)


def _runs(n: np.ndarray):
    """``(owner, offset)`` of each slot of consecutive runs of lengths ``n``."""
    owner = np.repeat(np.arange(n.size), n)
    return owner, np.arange(owner.size) - np.repeat(np.cumsum(n) - n, n)


def _bins_of(xmin, xmax, ymin, ymax, nlon: int, bin_deg: float):
    """``(owner, bin)``: one entry per box and each seam-aware bin it
    overlaps (the lon-bin range wrapped mod ``nlon``), owners ascending."""
    bx0, by0 = _bin(xmin, 180.0, bin_deg), _bin(ymin, 90.0, bin_deg)
    nbx = _bin(xmax, 180.0, bin_deg) - bx0 + 1
    nby = _bin(ymax, 90.0, bin_deg) - by0 + 1
    e, off = _runs(nbx * nby)
    return e, (by0[e] + off // nbx[e]) * nlon + np.mod(bx0[e] + off % nbx[e], nlon)


class BinIndex(NamedTuple):
    """Indexed rings per seam-aware bin: the members of bin ``keys[b]``
    are ``members[starts[b]:starts[b + 1]]``, ascending, so the first hit
    is the lowest ring index."""

    nlon: int
    bin_deg: float
    keys: np.ndarray
    starts: np.ndarray
    members: np.ndarray


def _bin_index(x: np.ndarray, y: np.ndarray) -> BinIndex:
    """Index every ring of the localized ``(k, m)`` corner arrays
    ``(x, y)`` under each bin its bounding box overlaps. A bin is as
    wide as the median ring box is on its longer side — sized from the
    mesh itself, whatever share of the globe it spans — and snapped so
    ``nlon * bin_deg == 360``. Whatever a ring's box overlaps shares a
    bin with it, so :func:`_candidates` lists the ring."""
    extent = np.nanmedian(np.maximum(np.ptp(x, axis=0), np.ptp(y, axis=0))) if x.shape[1] else 360.0
    nlon, bin_deg = _snap_bins(max(_MIN_BIN_DEG, extent))
    e, bins = _bins_of(x.min(axis=0), x.max(axis=0), y.min(axis=0), y.max(axis=0), nlon, bin_deg)
    order = np.argsort(bins, kind="stable")
    keys, first = np.unique(bins[order], return_index=True)
    # a sentinel key no box hashes to, with no members, closes the table
    keys = np.append(keys, np.iinfo(np.int64).max)
    starts = np.concatenate([first, [e.size, e.size]])
    return BinIndex(nlon, bin_deg, keys, starts, e[order])


def _candidates(index: BinIndex, xmin, xmax, ymin, ymax):
    """``(owner, ring)`` pairs: every indexed ring listed in a bin that
    box ``owner`` overlaps, owners ascending. A ring sharing several
    bins with a box is listed once per bin."""
    p, pb = _bins_of(xmin, xmax, ymin, ymax, index.nlon, index.bin_deg)
    pos = np.searchsorted(index.keys, pb)
    lo = index.starts[pos]
    j, off = _runs(np.where(index.keys[pos] == pb, index.starts[pos + 1] - lo, 0))
    return p[j], index.members[lo[j] + off]


def _locate(lon, lat, index: BinIndex, px: np.ndarray, py: np.ndarray) -> Located:
    """QUAD LOCATION + INVERSE BILINEAR MAP of the points ``(px, py)``
    against the center mesh ``(lon, lat)`` indexed by ``index``."""
    # (point, candidate quad) pairs, each point's candidates ascending:
    # a point is a box of zero width, in one bin
    wx = _wrap(px)
    p, q = _candidates(index, wx, wx, py, py)
    j, i = np.divmod(q, lon.shape[1] - 1)
    (x00, x10, x01, x11), (y00, y10, y01, y11) = _quad_corners(lon, lat, j, i)
    # the point, shifted by whole turns into the quad's lon frame
    qpx, qpy = px[p], py[p]
    qpx = qpx - 360.0 * _round_half_up((qpx - x00) / 360.0)

    # inside (or on the boundary) iff on the same side of every edge,
    # traversed 00 -> 10 -> 11 -> 01
    def cross(ax, ay, bx, by):
        return (bx - ax) * (qpy - ay) - (by - ay) * (qpx - ax)

    c = np.stack([
        cross(x00, y00, x10, y10), cross(x10, y10, x11, y11),
        cross(x11, y11, x01, y01), cross(x01, y01, x00, y00),
    ])
    inside = (c >= 0).all(axis=0) | (c <= 0).all(axis=0)
    # the first hit per point is its lowest (j, i)
    hit = np.flatnonzero(inside)
    k, first = np.unique(p[hit], return_index=True)
    h = hit[first]
    x00, x10, x01, x11 = x00[h], x10[h], x01[h], x11[h]
    y00, y10, y01, y11 = y00[h], y10[h], y01[h], y11[h]
    qpx, qpy = qpx[h], qpy[h]

    # inverse bilinear map: with A = P00, b = P10-P00, c = P01-P00,
    # d = P11-P10-P01+P00 and q = P-A, solve q = u*b + v*c + u*v*d;
    # eliminating u gives a*v^2 + bq*v + cq = 0
    bx, by = x10 - x00, y10 - y00
    cx, cy = x01 - x00, y01 - y00
    dx = x11 - x10 - x01 + x00
    dy = y11 - y10 - y01 + y00
    qx, qy = qpx - x00, qpy - y00
    a = cy * dx - cx * dy
    bq = qx * dy - qy * dx + bx * cy - by * cx
    cq = qx * by - qy * bx
    with np.errstate(divide="ignore", invalid="ignore"):
        sq = np.sqrt(np.maximum(bq * bq - 4.0 * a * cq, 0.0))
        v1 = (-1.0 * bq + sq) / (2.0 * a)
        v2 = (-1.0 * bq - sq) / (2.0 * a)
        v = np.where(
            np.abs(a) < _EPS,
            -1.0 * cq / bq,  # parallelogram: a ~ 0
            np.where((v1 >= -1e-9) & (v1 <= 1.0 + 1e-9), v1, v2),
        )
        # back-substitute u from whichever component is better conditioned
        den_x, den_y = bx + dx * v, by + dy * v
        u = np.where(np.abs(den_x) >= np.abs(den_y), (qx - cx * v) / den_x, (qy - cy * v) / den_y)
    ok = np.isfinite(u) & np.isfinite(v)  # a degenerate quad divided by zero
    u, v = (np.minimum(np.maximum(t[ok], 0.0), 1.0) for t in (u, v))
    return Located(k[ok], qpx[ok], qpy[ok], j[h][ok], i[h][ok], u, v)


def bilinear_basis(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """The bilinear blend of a quad's corners at ``(u, v)``, ``(4, m)``
    in corner order 00, 10, 01, 11."""
    return np.stack([(1 - u) * (1 - v), u * (1 - v), (1 - u) * v, u * v])


def point_weights(src: Grid, dst: Grid, emit) -> DataFrame:
    """Weight triplets of every destination point a quad of the source
    center mesh contains: the mesh and its bin index are broadcast, and
    one ``mapInPandas`` over the destination cells locates each batch
    of points (:func:`_locate`). ``emit(pid, located, lon, lat)``
    returns the ``(row, col, S)`` frame of the located points."""
    lon, lat = (np.ascontiguousarray(a) for a in src.mesh)
    n_y, n_x = lon.shape
    quads = _quad_corners(lon, lat, *np.divmod(np.arange((n_y - 1) * (n_x - 1)), n_x - 1))
    shared = src.df.sparkSession.sparkContext.broadcast((lon, lat, _bin_index(*quads)))

    def kernel(batches):
        lon, lat, index = shared.value
        for pdf in batches:
            pid = pdf["cell_id"].to_numpy(np.int64)
            px, py = pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64)
            for s in range(0, pid.size, _CHUNK):
                c = slice(s, s + _CHUNK)
                loc = _locate(lon, lat, index, px[c], py[c])
                yield emit(pid[c][loc.k], loc, lon, lat)

    return dst.df.select("cell_id", "lon", "lat").mapInPandas(kernel, _OUT_SCHEMA)


def _bilinear_rows(pid, loc: Located, lon, lat) -> pd.DataFrame:
    """The 4 corner weights of each located point; zeros dropped."""
    n_x = lon.shape[1]
    c00 = loc.j * n_x + loc.i
    col = np.concatenate([c00, c00 + 1, c00 + n_x, c00 + n_x + 1])
    S = bilinear_basis(loc.u, loc.v).reshape(-1)
    keep = S > 0.0
    return pd.DataFrame({"row": np.tile(pid, 4)[keep], "col": col[keep], "S": S[keep]})


def bilinear_weights_curvilinear(src: Grid, dst: Grid) -> DataFrame:
    """COO triplets for bilinear regridding FROM a curvilinear source
    mesh onto any destination point set (grid cells or locstream).
    Returns (row, col, S) with row = destination cell_id."""
    return point_weights(src, dst, _bilinear_rows)
