"""Bilinear weights for CURVILINEAR source grids (2-D lon/lat arrays).

The reference accepts any 2-D mesh (xesmf/frontend.py:33-72 passes 2-D
coordinate arrays straight to ESMF; ``as_2d_mesh`` only broadcasts 1-D
axes up). The rectilinear builder (bilinear.py) exploits separable
axes; a curvilinear mesh (ocean/regional models: rotated poles,
stretched tripolar grids) has none, so bilinear interpolation becomes:

1. QUAD LOCATION — find the cell of the source CENTER mesh (the quad
   spanned by centers (j,i),(j,i+1),(j+1,i+1),(j+1,i)) containing each
   destination point. Spark plan: a spatial-bin EQUI-join — each quad
   is exploded to the coarse lat/lon bins its bounding box overlaps,
   each destination point hashes to its bin, candidates join on the bin
   key and are filtered by an exact point-in-quad test. Never all-pairs
   — the same 100-TB shape as the bucketed nearest join.
2. INVERSE BILINEAR MAP — solve P = (1-u)(1-v)*P00 + u(1-v)*P10 +
   (1-u)v*P01 + uv*P11 for (u, v) in the unit square: eliminating u
   gives a QUADRATIC in v (closed form, pure Column arithmetic — no
   iteration, no UDF); weights are the four bilinear products.

Seam handling: quads and destination points are LOCALIZED mod 360
(corner lons wrapped into the first corner's frame, bin indices wrapped
mod nlon, the point shifted by whole turns into the quad's frame), so
meshes straddling the ±180° antimeridian — global tripolar/rotated
grids — regrid correctly in either lon convention (±180 or 0..360).
The reference gets this for free from ESMF's 3-D Cartesian internals
(xesmf/backend.py:44-45). The quad explode is the clip builder's
seam-aware bin explode (conservative_clip._binned), so both mesh
builders localize and bin quads with the same code.

Limitations (documented, mirroring SURVEY.md §7 phase-7 scope):
- planar approximation in lon/lat space (adequate away from the poles
  for meshes whose cells are small relative to curvature — the usual
  regional/global-model regime); cells must be narrower than 180°;
- destination points outside the center mesh get no weights → 0 on
  apply (unmapped_action=IGNORE semantics, xesmf/backend.py:275-279).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid, wrap_lon
from xesmf_spark.weights.conservative_clip import _binned, _snap_bins

#: the quad's corner-center columns, flattened (x, y) pairs; the first
#: is the lon frame the others are localized into
_CORNER_COLS = ("x00", "y00", "x10", "y10", "x01", "y01", "x11", "y11")

#: |a| below this -> the quad is a parallelogram and the quadratic
#: degenerates to the linear case
_EPS = 1e-12


def _quads(src: Grid) -> DataFrame:
    """Center-mesh quads: one row per (j, i) with the four corner
    CENTERS as columns. Built with two self-joins on the cell table
    (equi-joins on (j, i+1), (j+1, i), (j+1, i+1)) — shuffle-partitioned
    by grid index, no driver materialization."""
    c = src.df.select("j", "i", "cell_id", "lon", "lat")
    p00 = c.select(
        "j", "i",
        F.col("cell_id").alias("id00"), F.col("lon").alias("x00"), F.col("lat").alias("y00"),
    )
    p10 = c.select(
        "j", (F.col("i") - 1).alias("i"),
        F.col("cell_id").alias("id10"), F.col("lon").alias("x10"), F.col("lat").alias("y10"),
    )
    p01 = c.select(
        (F.col("j") - 1).alias("j"), "i",
        F.col("cell_id").alias("id01"), F.col("lon").alias("x01"), F.col("lat").alias("y01"),
    )
    p11 = c.select(
        (F.col("j") - 1).alias("j"), (F.col("i") - 1).alias("i"),
        F.col("cell_id").alias("id11"), F.col("lon").alias("x11"), F.col("lat").alias("y11"),
    )
    return p00.join(p10, ["j", "i"]).join(p01, ["j", "i"]).join(p11, ["j", "i"])


def _bin_id(lon_col, lat_col, bin_deg: float, nlon: int):
    """Seam-aware bin key: lon is wrapped into [-180, 180) first and the
    lon-bin index wrapped mod nlon, so any input convention (0..360,
    ±180) hashes to the same geographic bin. ``(nlon, bin_deg)`` come
    from :func:`~xesmf_spark.weights.conservative_clip._snap_bins`."""
    blat = F.floor((lat_col + F.lit(90.0)) / F.lit(bin_deg)).cast("long")
    blon = F.pmod(
        F.floor((wrap_lon(lon_col) + F.lit(180.0)) / F.lit(bin_deg)).cast("long"),
        F.lit(nlon),
    )
    return blat * F.lit(nlon) + blon


def locate_points(src: Grid, dst: Grid, bin_deg: float | None = None) -> DataFrame:
    """QUAD LOCATION + INVERSE BILINEAR MAP, shared by the curvilinear
    bilinear and patch builders: for every destination point, the source
    center-mesh quad containing it and the unit-square coordinates.
    Returns (pid, px, py, j, i, id00, id10, id01, id11, u, v) — px
    localized into the quad's lon frame (seam-safe)."""
    if bin_deg is None:
        # ~2 source cells per bin: the quad bbox then overlaps O(1) bins
        bin_deg = max(0.5, 2.0 * 360.0 / max(src.n_x, 1))
    # snap so nlon * bin_deg == 360 exactly (seam-wrap congruence)
    nlon, bin_deg = _snap_bins(bin_deg)

    # each quad explodes into every bin its bbox overlaps, corners
    # localized into the first corner's lon frame (seam-aware)
    quads = _binned(_quads(src), _CORNER_COLS, "q", bin_deg, nlon)
    pts = dst.df.select(
        F.col("cell_id").alias("pid"),
        F.col("lon").alias("px"),
        F.col("lat").alias("py"),
    ).withColumn("bin", _bin_id(F.col("px"), F.col("py"), bin_deg, nlon))

    cand = pts.join(quads, "bin").drop("bin")
    # localize the point into the quad's lon frame (whole turns only):
    # a point at -179.9 tests against a quad whose localized corners sit
    # around +179.9 as 180.1 — the same geographic position
    cand = cand.withColumn(
        "px",
        F.col("px")
        - F.lit(360.0) * F.round((F.col("px") - F.col("x00")) / F.lit(360.0), 0),
    )

    # exact point-in-quad: the point is inside (or on the boundary of)
    # the quad iff it is left-of (or on) every edge traversed in a
    # consistent winding — sign of the 2-D cross product per edge.
    def cross(ax, ay, bx, by, px, py):
        return (F.col(bx) - F.col(ax)) * (py - F.col(ay)) - (F.col(by) - F.col(ay)) * (
            px - F.col(ax)
        )

    px, py = F.col("px"), F.col("py")
    c1 = cross("x00", "y00", "x10", "y10", px, py)
    c2 = cross("x10", "y10", "x11", "y11", px, py)
    c3 = cross("x11", "y11", "x01", "y01", px, py)
    c4 = cross("x01", "y01", "x00", "y00", px, py)
    inside = ((c1 >= 0) & (c2 >= 0) & (c3 >= 0) & (c4 >= 0)) | (
        (c1 <= 0) & (c2 <= 0) & (c3 <= 0) & (c4 <= 0)
    )
    hits = cand.filter(inside)
    # boundary points can match two adjacent quads — keep one per point
    hits = hits.withColumn(
        "_rk", F.row_number().over(Window.partitionBy("pid").orderBy("j", "i"))
    ).filter(F.col("_rk") == 1)

    # inverse bilinear map: with A = P00, b = P10-P00, c = P01-P00,
    # d = P11-P10-P01+P00 and q = P-A, solve q = u*b + v*c + u*v*d.
    bx_, by_ = F.col("x10") - F.col("x00"), F.col("y10") - F.col("y00")
    cx_, cy_ = F.col("x01") - F.col("x00"), F.col("y01") - F.col("y00")
    dx_ = F.col("x11") - F.col("x10") - F.col("x01") + F.col("x00")
    dy_ = F.col("y11") - F.col("y10") - F.col("y01") + F.col("y00")
    qx_, qy_ = px - F.col("x00"), py - F.col("y00")

    # eliminating u from the pair of scalar equations yields the
    # quadratic a*v^2 + bq*v + cq = 0 with:
    a_ = cy_ * dx_ - cx_ * dy_
    bq = qx_ * dy_ - qy_ * dx_ + bx_ * cy_ - by_ * cx_
    cq = qx_ * by_ - qy_ * bx_
    disc = bq * bq - F.lit(4.0) * a_ * cq
    sq = F.sqrt(F.greatest(disc, F.lit(0.0)))
    v_quad_1 = (F.lit(-1.0) * bq + sq) / (F.lit(2.0) * a_)
    v_quad_2 = (F.lit(-1.0) * bq - sq) / (F.lit(2.0) * a_)
    v_lin = F.lit(-1.0) * cq / bq  # parallelogram: a ~ 0
    in01 = lambda e: (e >= F.lit(-1e-9)) & (e <= F.lit(1.0 + 1e-9))
    v = F.when(F.abs(a_) < _EPS, v_lin).otherwise(
        F.when(in01(v_quad_1), v_quad_1).otherwise(v_quad_2)
    )
    # back-substitute u from whichever component is better conditioned
    den_x = bx_ + dx_ * v
    den_y = by_ + dy_ * v
    u = F.when(
        F.abs(den_x) >= F.abs(den_y), (qx_ - cx_ * v) / den_x
    ).otherwise((qy_ - cy_ * v) / den_y)
    u = F.least(F.greatest(u, F.lit(0.0)), F.lit(1.0))
    v = F.least(F.greatest(v, F.lit(0.0)), F.lit(1.0))

    return hits.select(
        "pid", "px", "py", "j", "i",
        "id00", "id10", "id01", "id11", u.alias("u"), v.alias("v"),
    )


def _bilinear_basis() -> list:
    """The bilinear blend of a located point's quad corners, over the
    ``u``/``v`` columns of :func:`locate_points`, in corner order
    00, 10, 01, 11."""
    u, v = F.col("u"), F.col("v")
    return [(1 - u) * (1 - v), u * (1 - v), (1 - u) * v, u * v]


def bilinear_weights_curvilinear(
    src: Grid, dst: Grid, bin_deg: float | None = None
) -> DataFrame:
    """COO triplets for bilinear regridding FROM a curvilinear source
    mesh onto any destination point set (grid cells or locstream).
    Returns (row, col, S) with row = destination cell_id."""
    solved = locate_points(src, dst, bin_deg)
    b00, b10, b01, b11 = _bilinear_basis()
    w = solved.select(
        "pid",
        F.array(
            F.struct(F.col("id00").alias("col"), b00.alias("S")),
            F.struct(F.col("id10").alias("col"), b10.alias("S")),
            F.struct(F.col("id01").alias("col"), b01.alias("S")),
            F.struct(F.col("id11").alias("col"), b11.alias("S")),
        ).alias("ws"),
    )
    return (
        w.select("pid", F.explode("ws").alias("w"))
        .select(F.col("pid").alias("row"), F.col("w.col").alias("col"), F.col("w.S").alias("S"))
        .filter(F.col("S") > 0.0)
    )
