"""First-order conservative remapping weights (SURVEY.md §2B-4).

Reference: ``method='conservative'`` in esmf_regrid_build
(xesmf/backend.py:242), corners required (backend.py:254-260), periodic
forced off (xesmf/frontend.py:165-167). Algorithm per Jones 1999 (cited
xesmf/data.py:30-32) with ESMF's default destination-area normalization::

    S(d, s) = area(s ∩ d) / area(d)

Spherical area of a lat-lon box = dlon_rad * (sin(lat_hi) - sin(lat_lo)),
so for RECTILINEAR grids the weight separates into two 1-D
interval-overlap fractions::

    S = [ovl_lon / dest_dlon] * [ovl_sinlat / dest_dsinlat]

The 1-D overlaps are computed on the driver in numpy from the grids'
axis bounds (``Grid.axes``, O(n_x + n_y) numbers even for a 100k x
100k-cell grid); bilinear.py's broadcast cross join then produces the
O(nnz) triplet table, the only Spark stage. The big O(n_cells) cell
tables are never joined pairwise — the axis decomposition is what
makes this scale: nnz ~ 4-9 per dest cell instead of n_in * n_out.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xesmf_spark.grids import Axis, Grid
from xesmf_spark.weights.bilinear import _tensor_product


def _axis_overlap(src_ax: Axis, dst_ax: Axis, measure=None):
    """Interval overlaps of two 1-D axes: ``(d, k, frac)`` — destination
    index, source index and overlap / destination width, optionally
    measured in ``measure`` space (``sin(radians(x))`` for latitude —
    the spherical-area measure)."""
    s_lo, s_hi, d_lo, d_hi = src_ax.lo, src_ax.hi, dst_ax.lo, dst_ax.hi
    if measure is not None:
        s_lo, s_hi, d_lo, d_hi = map(measure, (s_lo, s_hi, d_lo, d_hi))
    # every (source, destination) interval pair is tested: n_src x n_dst
    # booleans per axis, a few MB for axes of a few thousand cells
    k, d = np.nonzero((s_lo[:, None] < d_hi) & (s_hi[:, None] > d_lo))
    frac = (np.minimum(s_hi[k], d_hi[d]) - np.maximum(s_lo[k], d_lo[d])) / (d_hi[d] - d_lo[d])
    return d, k, frac


def conservative_weights(src: Grid, dst: Grid) -> DataFrame:
    """COO weight triplets for first-order conservative regridding:
    the axis-decomposed plan below for rectilinear pairs, the general
    polygon-clipping builder (conservative_clip.py) when either mesh is
    curvilinear. Call ``conservative_weights_clip`` directly to run the
    clipper on a rectilinear pair (differential / oracle checking —
    both compute spherical area in the same (radians(lon), sin(lat))
    measure, so they agree to fp round-off there).

    Unmapped destination cells simply get no rows — the apply's
    NULL-valued destination rows and ``coalesce(sum, 0.0)`` reproduce
    ``unmapped_action=IGNORE`` (xesmf/backend.py:275-279).
    """
    if src.curvilinear or dst.curvilinear:
        from xesmf_spark.weights.conservative_clip import conservative_weights_clip

        return conservative_weights_clip(src, dst)
    if not src.has_bounds or not dst.has_bounds:
        # mirrors the reference's hard requirement: conservative needs
        # corner bounds (xesmf/backend.py:254-260 -> KeyError upstream)
        raise KeyError("conservative method requires cell bounds (lon_b/lat_b) on both grids")

    (src_lon, src_lat), (dst_lon, dst_lat) = src.axes, dst.axes
    lon_ov = _axis_overlap(src_lon, dst_lon)
    lat_ov = _axis_overlap(src_lat, dst_lat, lambda b: np.sin(np.radians(b)))
    w = _tensor_product(src, dst, lon_ov, lat_ov)
    # threshold matches the clip builder's _MIN_S: boundary-coincident
    # intervals produce fp-dust overlaps (1e-29..1e-14 measured on the
    # bench pair — 104k of 584k rows, 18% of the weight table!) that
    # contribute nothing (< 1e-12 of a cell is sub-micrometer on Earth)
    # but bloat every downstream apply join at scale
    return w.filter(F.col("S") > 1e-12)
