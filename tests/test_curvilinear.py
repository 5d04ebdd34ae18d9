"""Curvilinear (2-D mesh) bilinear regridding tests."""

import math

import pytest
from pyspark.sql import functions as F

from xesmf_spark.apply import smm_apply
from xesmf_spark.grids import grid_from_2d_arrays, grid_global, wave_smooth
from xesmf_spark.weights import bilinear_weights
from xesmf_spark.weights.curvilinear import bilinear_weights_curvilinear


def test_rectilinear_as_curvilinear_matches(spark):
    """A rectilinear grid expressed as a 2-D mesh must reproduce the
    separable bilinear result EXACTLY on every destination cell inside
    the center mesh (the curvilinear path claims no wrap/pole rows)."""
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w_curv = bilinear_weights_curvilinear(g_in, g_out)
    w_rect = bilinear_weights(g_in, g_out, periodic=False)
    field = g_in.df.select("cell_id", wave_smooth().alias("value"))
    a = {r.cell_id: r.value for r in smm_apply(field, w_curv, g_out).collect()}
    b = {r.cell_id: r.value for r in smm_apply(field, w_rect, g_out).collect()}
    mapped = {r.row for r in w_curv.select("row").distinct().collect()}
    assert len(mapped) > 0.7 * len(b)
    assert max(abs(a[k] - b[k]) for k in mapped) == 0.0


def _rotated_mesh(n_y, n_x, angle_deg):
    """A genuinely curvilinear mesh: a regional grid rotated in the
    lon/lat plane around (0, 0)."""
    th = math.radians(angle_deg)
    lon2d, lat2d = [], []
    for j in range(n_y):
        lon_row, lat_row = [], []
        for i in range(n_x):
            x = -30.0 + 60.0 * i / (n_x - 1)
            y = -20.0 + 40.0 * j / (n_y - 1)
            lon_row.append(x * math.cos(th) - y * math.sin(th))
            lat_row.append(x * math.sin(th) + y * math.cos(th))
        lon2d.append(lon_row)
        lat2d.append(lat_row)
    return lon2d, lat2d


def test_rotated_grid_bilinear_tolerance(spark):
    """Bilinear from a rotated (curvilinear) source mesh onto interior
    points reproduces the analytic wave field within interpolation
    error (the curvilinear twin of the reference's analytic-oracle
    pattern, tests/test_frontend.py:130-137)."""
    from xesmf_spark.grids import locstream

    lon2d, lat2d = _rotated_mesh(25, 37, angle_deg=20.0)
    src = grid_from_2d_arrays(spark, lon2d, lat2d)
    assert src.curvilinear and not src.has_bounds

    # interior destination points (inside the rotated rectangle)
    pts_lon, pts_lat = [], []
    th = math.radians(20.0)
    for k in range(60):
        x = -24.0 + 48.0 * (k % 10) / 9
        y = -15.0 + 30.0 * (k // 10) / 5
        pts_lon.append(x * math.cos(th) - y * math.sin(th))
        pts_lat.append(x * math.sin(th) + y * math.cos(th))
    dst = locstream(spark, pts_lon, pts_lat)

    w = bilinear_weights(src, dst)  # dispatches to the curvilinear path
    field = src.df.select("cell_id", wave_smooth().alias("value"))
    out = smm_apply(field, w, dst)
    rows = out.collect()
    assert len(rows) == 60
    max_rel = 0.0
    for r in rows:
        truth = 2.0 + math.cos(math.radians(r.lat)) ** 2 * math.cos(
            2.0 * math.radians(r.lon)
        )
        max_rel = max(max_rel, abs(r.value - truth) / abs(truth))
    # every point is inside the mesh -> every point got weights
    assert min(abs(r.value) for r in rows) > 0.5
    assert max_rel < 0.02, max_rel


def test_weights_rows_sum_to_one(spark):
    """Bilinear weights per mapped destination sum to 1 (partition of
    unity — u,v products), curvilinear path included."""
    lon2d, lat2d = _rotated_mesh(15, 21, angle_deg=35.0)
    src = grid_from_2d_arrays(spark, lon2d, lat2d)
    g_out = grid_global(spark, 15, 9)
    w = bilinear_weights(src, g_out)
    sums = w.groupBy("row").agg(F.sum("S").alias("s"))
    bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-9).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# conservative on arbitrary meshes (weights/conservative_clip.py)
# ---------------------------------------------------------------------------


def _rotated_nodes(n_y, n_x, angle_deg, shift_lat=10.0):
    """Corner-NODE arrays (n_y+1, n_x+1) of a rotated regional mesh,
    plus cell-center arrays (node-ring averages)."""
    th = math.radians(angle_deg)
    lonb = [[0.0] * (n_x + 1) for _ in range(n_y + 1)]
    latb = [[0.0] * (n_x + 1) for _ in range(n_y + 1)]
    for j in range(n_y + 1):
        for i in range(n_x + 1):
            u = -40.0 + 80.0 * i / n_x
            v = -30.0 + 60.0 * j / n_y
            lonb[j][i] = u * math.cos(th) - v * math.sin(th)
            latb[j][i] = u * math.sin(th) + v * math.cos(th) + shift_lat
    lonc = [
        [(lonb[j][i] + lonb[j][i + 1] + lonb[j + 1][i + 1] + lonb[j + 1][i]) / 4.0
         for i in range(n_x)]
        for j in range(n_y)
    ]
    latc = [
        [(latb[j][i] + latb[j][i + 1] + latb[j + 1][i + 1] + latb[j + 1][i]) / 4.0
         for i in range(n_x)]
        for j in range(n_y)
    ]
    return lonc, latc, lonb, latb


def test_conservative_clip_matches_axis_on_rectilinear(spark):
    """On a rectilinear pair the polygon clipper and the axis
    decomposition compute the SAME spherical-area overlaps — identical
    sparsity pattern, weights equal to fp round-off. The grids are
    flagged curvilinear, which routes them to the clipper. The second
    pair has fractional steps far from lon 0, where clipping in
    absolute coordinates turned shared edges into spurious ~1e-11
    overlaps."""
    import dataclasses

    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights

    pairs = [
        (grid_global(spark, 20, 12), grid_global(spark, 15, 9)),
        (grid_2d(spark, 150, 174, 0.4, 30, 54, 0.3), grid_2d(spark, 150, 174, 0.6, 30, 54, 0.4)),
    ]
    for g_in, g_out in pairs:
        ax = {(r.row, r.col): r.S for r in conservative_weights(g_in, g_out).collect()}
        forced = [dataclasses.replace(g, curvilinear=True) for g in (g_in, g_out)]
        cl = {(r.row, r.col): r.S for r in conservative_weights(*forced).collect()}
        assert set(ax) == set(cl)
        assert max(abs(ax[k] - cl[k]) for k in ax) < 1e-13


def test_conservative_curvilinear_partition_of_unity(spark):
    """A rotated source mesh covering the destination region: every
    dest cell's weights must sum to 1 (dstarea normalization, full
    coverage), and a constant field must regrid to the same constant —
    the defining property of conservative remapping."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights

    lonc, latc, lonb, latb = _rotated_nodes(15, 20, 15.0)
    src = grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)
    assert src.has_bounds and src.curvilinear
    dst = grid_2d(spark, -20, 20, 4.0, -5, 25, 3.0)
    w = conservative_weights(src, dst)  # auto-dispatch to the clipper
    sums = {
        r.row: r.s
        for r in w.groupBy("row").agg(F.sum("S").alias("s")).collect()
    }
    assert len(sums) == dst.n_cells  # full coverage
    assert max(abs(s - 1.0) for s in sums.values()) < 1e-9

    field = src.df.select("cell_id", F.lit(3.5).alias("value"))
    out = smm_apply(field, w, dst, attach_coords=False)
    vals = [r.value for r in out.collect()]
    assert len(vals) == dst.n_cells
    assert max(abs(v - 3.5) for v in vals) < 1e-9


def test_conservative_curvilinear_partial_coverage_and_identity(spark):
    """(a) Dest cells only partly under the source mesh get partial row
    sums (never > 1); (b) a mesh regridded onto ITSELF is the identity:
    each cell overlaps only itself, S = 1 on the diagonal."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights

    lonc, latc, lonb, latb = _rotated_nodes(12, 16, 20.0)
    src = grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)
    # dst extends far beyond the rotated mesh -> edge cells partial
    dst = grid_2d(spark, -80, 80, 10.0, -60, 70, 10.0)
    w = conservative_weights(src, dst)
    sums = [r.s for r in w.groupBy("row").agg(F.sum("S").alias("s")).collect()]
    assert max(sums) < 1.0 + 1e-9
    assert min(sums) < 0.999  # genuinely partial edge cells exist
    assert len(sums) < dst.n_cells  # and some dest cells are untouched

    w_id = conservative_weights(src, src)
    rows = w_id.collect()
    assert len(rows) == src.n_cells
    assert all(r.row == r.col for r in rows)
    assert max(abs(r.S - 1.0) for r in rows) < 1e-9


def test_conservative_curvilinear_integral_conservation(spark):
    """Total integral (sum of value * spherical cell area) is conserved
    when the destination fully covers the source mesh — first-order
    conservation, the property the method is named for. Uses dstarea
    row sums as the area-weighted accounting identity."""
    import math as m

    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights

    lonc, latc, lonb, latb = _rotated_nodes(10, 14, 25.0)
    src = grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)
    dst = grid_2d(spark, -90, 90, 6.0, -60, 75, 5.0)  # covers the mesh

    # dest cell areas (rect): dlon_rad * d(sin lat)
    dst_rows = dst.df.select("cell_id", "lon_lo", "lon_hi", "lat_lo", "lat_hi").collect()
    dst_area = {
        r.cell_id: m.radians(r.lon_hi - r.lon_lo)
        * (m.sin(m.radians(r.lat_hi)) - m.sin(m.radians(r.lat_lo)))
        for r in dst_rows
    }
    # source cell areas: shoelace in (radians(lon), sin(lat)) over the ring
    src_rows = src.df.select(
        "cell_id", *[f"c{ax}{k}" for k in range(4) for ax in ("lon", "lat")]
    ).collect()

    def ring_area(r):
        xs = [m.radians(getattr(r, f"clon{k}")) for k in range(4)]
        ys = [m.sin(m.radians(getattr(r, f"clat{k}"))) for k in range(4)]
        return abs(
            sum(xs[k] * ys[(k + 1) % 4] - xs[(k + 1) % 4] * ys[k] for k in range(4))
        ) / 2.0

    src_area = {r.cell_id: ring_area(r) for r in src_rows}

    field = src.df.select("cell_id", wave_smooth().alias("value"))
    fvals = {r.cell_id: r.value for r in field.collect()}
    w = conservative_weights(src, dst)
    out = smm_apply(field, w, dst, attach_coords=False)
    ovals = {r.cell_id: r.value for r in out.collect()}

    int_src = sum(src_area[c] * fvals[c] for c in fvals)
    int_dst = sum(dst_area[c] * ovals[c] for c in ovals)
    assert abs(int_src - int_dst) / abs(int_src) < 1e-9


def test_ignore_degenerate_gate(spark):
    """Degenerate cells (lines/triangles) in a conservative build:
    raise by default, regrid cleanly with ignore_degenerate=True —
    mirroring xesmf/frontend.py:148-150. The collapsed cells get no
    weights (zero area contributes nothing) and every emitted weight is
    finite."""
    import pytest

    from xesmf_spark.grids import count_degenerate_cells, grid_2d, grid_from_2d_arrays
    from xesmf_spark.regridder import Regridder

    # 2x3-cell curvilinear mesh whose BOTTOM row of cells is collapsed
    # to zero-height lines (first two corner-node rows coincide)
    lonb = [[0.0, 1.0, 2.0, 3.0]] * 4
    lonb = [list(r) for r in lonb]
    latb = [
        [0.0, 0.0, 0.0, 0.0],   # node row 0
        [0.0, 0.0, 0.0, 0.0],   # node row 1 == row 0 -> row-0 cells are lines
        [1.0, 1.0, 1.0, 1.0],
        [2.0, 2.0, 2.0, 2.0],
    ]
    lonc = [
        [(lonb[j][i] + lonb[j][i + 1]) / 2.0 for i in range(3)] for j in range(3)
    ]
    latc = [
        [(latb[j][i] + latb[j + 1][i]) / 2.0 for i in range(3)] for j in range(3)
    ]
    src = grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)
    assert count_degenerate_cells(src) == 3
    dst = grid_2d(spark, 0.0, 3.0, 1.0, 0.0, 2.0, 1.0)

    with pytest.raises(ValueError, match="degenerate"):
        Regridder(spark, src, dst, "conservative")

    rg = Regridder(spark, src, dst, "conservative", ignore_degenerate=True)
    w = rg.weights.collect()
    import math as m

    assert len(w) > 0
    assert all(m.isfinite(r.S) and 0.0 < r.S <= 1.0 + 1e-12 for r in w)
    # no weight references a collapsed source cell (ids 0..2)
    assert all(r.col >= 3 for r in w)
    rg.clean_weight_file()


def test_degenerate_check_rectilinear_bounds(spark):
    """The interval-bounds form of the degeneracy check: a rectilinear
    grid is degenerate iff a bound collapses."""
    from xesmf_spark.grids import count_degenerate_cells, grid_2d

    g = grid_2d(spark, 0.0, 4.0, 1.0, 0.0, 2.0, 1.0)
    assert count_degenerate_cells(g) == 0
    bad = g.df.withColumn(
        "lat_hi",
        F.when(F.col("cell_id") == 0, F.col("lat_lo")).otherwise(F.col("lat_hi")),
    )
    from xesmf_spark.grids import Grid

    gbad = Grid(df=bad, shape=g.shape, periodic=g.periodic, has_bounds=True)
    assert count_degenerate_cells(gbad) == 1


# ---------------------------------------------------------------------------
# ±180° seam (antimeridian) handling
# ---------------------------------------------------------------------------


def _wrap_deg(v):
    """[-180, 180) wrap of a longitude in degrees."""
    return v - 360.0 * math.floor((v + 180.0) / 360.0)


def _seam_mesh(n_y, n_x, angle_deg, wrap):
    """Rotated curvilinear mesh CENTERED ON THE ±180° SEAM: centers and
    corner nodes span lon ~150..210. ``wrap=True`` returns the wrapped
    (±180-convention) representation whose cells straddle the seam;
    ``wrap=False`` the continuous 0..360-style representation (ground
    truth: contiguous coordinates, no seam in sight)."""
    th = math.radians(angle_deg)

    def node(j, i, n_jj, n_ii):
        u = -25.0 + 50.0 * i / n_ii
        v = -20.0 + 40.0 * j / n_jj
        lon = 180.0 + u * math.cos(th) - v * math.sin(th)
        lat = u * math.sin(th) + v * math.cos(th)
        return (_wrap_deg(lon) if wrap else lon), lat

    lonb = [[0.0] * (n_x + 1) for _ in range(n_y + 1)]
    latb = [[0.0] * (n_x + 1) for _ in range(n_y + 1)]
    for j in range(n_y + 1):
        for i in range(n_x + 1):
            lonb[j][i], latb[j][i] = node(j, i, n_y, n_x)
    # centers = ring averages of the CONTINUOUS nodes, then wrapped
    lonc = [[0.0] * n_x for _ in range(n_y)]
    latc = [[0.0] * n_x for _ in range(n_y)]
    for j in range(n_y):
        for i in range(n_x):
            us = [node(jj, ii, n_y, n_x) for jj, ii in
                  ((j, i), (j, i + 1), (j + 1, i + 1), (j + 1, i))]
            if wrap:
                # average in the continuous frame, wrap after
                base = 180.0 + (-25.0 + 50.0 * (i + 0.5) / n_x) * math.cos(th) \
                    - (-20.0 + 40.0 * (j + 0.5) / n_y) * math.sin(th)
                lonc[j][i] = _wrap_deg(base)
            else:
                lonc[j][i] = sum(u[0] for u in us) / 4.0
            latc[j][i] = sum(u[1] for u in us) / 4.0
    return lonc, latc, lonb, latb


def test_conservative_clip_across_seam_matches_continuous(spark):
    """DIFFERENTIAL seam test: the wrapped (±180-convention, seam-
    straddling) representation of a rotated mesh must produce the SAME
    conservative weights as the continuous (0..360-style) representation
    of the same geometry — same sparsity, same values to fp round-off."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights_clip

    lonc_w, latc, lonb_w, latb = _seam_mesh(6, 8, 12.0, wrap=True)
    lonc_c, _, lonb_c, _ = _seam_mesh(6, 8, 12.0, wrap=False)
    src_w = grid_from_2d_arrays(spark, lonc_w, latc, lon_b=lonb_w, lat_b=latb)
    src_c = grid_from_2d_arrays(spark, lonc_c, latc, lon_b=lonb_c, lat_b=latb)
    # dst spans the seam too, expressed CONTINUOUSLY (165..195)
    dst = grid_2d(spark, 165.0, 195.0, 3.0, -12.0, 12.0, 3.0)

    ww = {(r.row, r.col): r.S for r in conservative_weights_clip(src_w, dst).collect()}
    wc = {(r.row, r.col): r.S for r in conservative_weights_clip(src_c, dst).collect()}
    assert len(wc) > 0
    assert set(ww) == set(wc)
    assert max(abs(ww[k] - wc[k]) for k in wc) < 1e-9
    # partition of unity on every interior destination cell: the dst
    # grid sits strictly inside the source mesh, so each row sums to 1
    sums = {}
    for (row, _c), s in ww.items():
        sums[row] = sums.get(row, 0.0) + s
    n_dst = dst.n_cells
    full = [r for r, s in sums.items() if abs(s - 1.0) < 1e-9]
    assert len(full) == n_dst, f"{n_dst - len(full)} dst cells not fully covered"


def test_bilinear_curvilinear_across_seam_matches_continuous(spark):
    """Same differential contract for the curvilinear bilinear builder:
    wrapped and continuous representations of one rotated seam-centered
    mesh give identical weights for destination points across the seam
    (in either point convention)."""
    from xesmf_spark.grids import grid_2d

    lonc_w, latc, _, _ = _seam_mesh(8, 10, 12.0, wrap=True)
    lonc_c, _, _, _ = _seam_mesh(8, 10, 12.0, wrap=False)
    src_w = grid_from_2d_arrays(spark, lonc_w, latc)
    src_c = grid_from_2d_arrays(spark, lonc_c, latc)
    dst = grid_2d(spark, 170.0, 190.0, 2.0, -8.0, 8.0, 2.0)

    ww = {(r.row, r.col): r.S
          for r in bilinear_weights_curvilinear(src_w, dst).collect()}
    wc = {(r.row, r.col): r.S
          for r in bilinear_weights_curvilinear(src_c, dst).collect()}
    assert len(wc) > 0
    assert set(ww) == set(wc)
    assert max(abs(ww[k] - wc[k]) for k in wc) < 1e-9
    # every interior destination point found a quad (weights sum to 1)
    sums = {}
    for (row, _c), s in ww.items():
        sums[row] = sums.get(row, 0.0) + s
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())
    assert len(sums) == dst.n_cells


# ---------------------------------------------------------------------------
# patch recovery on curvilinear sources (weights/patch_curvilinear.py)
# ---------------------------------------------------------------------------


def test_patch_curvilinear_quadratic_exact(spark):
    """The defining patch contract on a general mesh: an arbitrary full
    2-D quadratic field is reproduced to machine precision on interior
    destination points, and weights form a partition of unity."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import patch_weights

    lon2d, lat2d = _rotated_mesh(14, 18, 20.0)
    src = grid_from_2d_arrays(spark, lon2d, lat2d)
    dst = grid_2d(spark, -14.0, 14.0, 2.0, -9.0, 9.0, 2.0)

    def quad(lon, lat):
        return 1.5 + 0.3 * lon - 0.2 * lat + 0.01 * lon * lon \
            - 0.015 * lon * lat + 0.02 * lat * lat

    w = patch_weights(src, dst)
    rows = w.collect()
    assert len(rows) > 0
    sums = {}
    for r in rows:
        sums[r.row] = sums.get(r.row, 0.0) + r.S
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())
    assert len(sums) == dst.n_cells  # dst strictly inside the mesh

    field = src.df.select(
        "cell_id", quad(F.col("lon"), F.col("lat")).alias("value")
    )
    out = smm_apply(field, w, dst, attach_coords=False)
    got = {r.cell_id: r.value for r in out.collect()}
    want = {
        r.cell_id: quad(r.lon, r.lat)
        for r in dst.df.select("cell_id", "lon", "lat").collect()
    }
    err = max(abs(got[k] - want[k]) for k in got)
    assert err < 1e-9, f"patch not quadratic-exact: max err {err}"


def test_patch_curvilinear_across_seam_matches_continuous(spark):
    """Differential seam contract for the curvilinear patch builder:
    wrapped and continuous representations of one rotated seam-centered
    mesh give identical weights."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights.patch_curvilinear import patch_weights_curvilinear

    lonc_w, latc, _, _ = _seam_mesh(9, 11, 12.0, wrap=True)
    lonc_c, _, _, _ = _seam_mesh(9, 11, 12.0, wrap=False)
    src_w = grid_from_2d_arrays(spark, lonc_w, latc)
    src_c = grid_from_2d_arrays(spark, lonc_c, latc)
    dst = grid_2d(spark, 172.0, 188.0, 2.0, -6.0, 6.0, 2.0)

    ww = {(r.row, r.col): r.S for r in patch_weights_curvilinear(src_w, dst).collect()}
    wc = {(r.row, r.col): r.S for r in patch_weights_curvilinear(src_c, dst).collect()}
    assert len(wc) > 0
    assert set(ww) == set(wc)
    assert max(abs(ww[k] - wc[k]) for k in wc) < 1e-9


def test_seam_with_non_divisor_bin_width(spark):
    """Regression: the default bin width (2 cells of an ODD-n_x grid)
    does not divide 360, which used to break the mod-nlon wrap (a 360°
    shift became a fractional number of bins — seam quads landed in the
    wrong bucket and points silently got zero weights). The width is now
    snapped so nlon*bin_deg == 360; the wrapped representation must
    still match the continuous one for both general-mesh builders."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import conservative_weights_clip
    from xesmf_spark.weights.curvilinear import bilinear_weights_curvilinear

    # n_x = 15 cells -> default bin_deg = 48 (nlon would be 7.5 bins/turn)
    lonc_w, latc, lonb_w, latb = _seam_mesh(7, 15, 9.0, wrap=True)
    lonc_c, _, lonb_c, _ = _seam_mesh(7, 15, 9.0, wrap=False)
    dst = grid_2d(spark, 170.0, 190.0, 2.5, -8.0, 8.0, 2.5)

    src_w = grid_from_2d_arrays(spark, lonc_w, latc)
    src_c = grid_from_2d_arrays(spark, lonc_c, latc)
    bw = {(r.row, r.col): r.S for r in bilinear_weights_curvilinear(src_w, dst).collect()}
    bc = {(r.row, r.col): r.S for r in bilinear_weights_curvilinear(src_c, dst).collect()}
    assert len(bc) > 0 and set(bw) == set(bc)
    assert max(abs(bw[k] - bc[k]) for k in bc) < 1e-9
    sums = {}
    for (row, _c), s in bw.items():
        sums[row] = sums.get(row, 0.0) + s
    assert len(sums) == dst.n_cells  # nothing silently unmapped
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())

    srcq_w = grid_from_2d_arrays(spark, lonc_w, latc, lon_b=lonb_w, lat_b=latb)
    srcq_c = grid_from_2d_arrays(spark, lonc_c, latc, lon_b=lonb_c, lat_b=latb)
    cw = {(r.row, r.col): r.S for r in conservative_weights_clip(srcq_w, dst).collect()}
    cc = {(r.row, r.col): r.S for r in conservative_weights_clip(srcq_c, dst).collect()}
    assert len(cc) > 0 and set(cw) == set(cc)
    assert max(abs(cw[k] - cc[k]) for k in cc) < 1e-9


# ---------------------------------------------------------------------------
# rectilinear source onto a curvilinear destination
# ---------------------------------------------------------------------------


def _sheared_dst(spark, corners: bool):
    """A 6x9 mesh over lon ±45, lat ±30, sheared by ``lon += 0.3*lat``:
    no separable axes, with or without its corner nodes."""
    import numpy as np

    x, y = np.linspace(-45.0, 45.0, 9), np.linspace(-30.0, 30.0, 6)
    X, Y = np.meshgrid(x, y)
    kw = {}
    if corners:
        XB, YB = np.meshgrid(
            np.linspace(-50.625, 50.625, 10), np.linspace(-36.0, 36.0, 7)
        )
        kw = {"lon_b": XB + 0.3 * YB, "lat_b": YB}
    return grid_from_2d_arrays(spark, X + 0.3 * Y, Y, **kw)


def _sheared_quadratic(lon, lat):
    return 1 + 0.02 * lon - 0.03 * lat + 1e-3 * lon * lon + 2e-3 * lat * lat \
        - 1e-3 * lon * lat


def test_curvilinear_grid_has_no_axes(spark):
    """Separability is decided by the Grid: asking a curvilinear mesh
    for 1-D axes is an error, not a table built from its cells."""
    dst = _sheared_dst(spark, corners=False)
    with pytest.raises(ValueError, match="curvilinear"):
        dst.axes


def test_bilinear_onto_curvilinear_ignores_corners(spark):
    """Bilinear onto a curvilinear mesh interpolates at its centers:
    the same triplets whether or not the mesh carries corner nodes."""
    src = grid_global(spark, 20, 12, periodic=True)
    plain = bilinear_weights(src, _sheared_dst(spark, corners=False))
    cornered = bilinear_weights(src, _sheared_dst(spark, corners=True))
    a = sorted((r.row, r.col, r.S) for r in plain.collect())
    b = sorted((r.row, r.col, r.S) for r in cornered.collect())
    assert len(a) > 0
    assert a == b


@pytest.mark.parametrize("corners", [False, True])
def test_patch_onto_curvilinear_quadratic_exact(spark, corners):
    """Patch from a rectilinear source onto a sheared mesh reproduces a
    full 2-D quadratic at every (interior) destination center."""
    from xesmf_spark.weights import patch_weights

    src = grid_global(spark, 20, 12, periodic=True)
    dst = _sheared_dst(spark, corners)
    field = src.df.select(
        "cell_id", _sheared_quadratic(F.col("lon"), F.col("lat")).alias("value")
    )
    out = smm_apply(field, patch_weights(src, dst), dst).collect()
    assert len(out) == dst.n_cells
    err = max(abs(r.value - _sheared_quadratic(r.lon, r.lat)) for r in out)
    assert err < 1e-9, err


def test_patch_onto_curvilinear_across_seam_and_poles(spark):
    """Patch from a periodic rectilinear source onto a mesh that crosses
    the 180° seam and reaches ±89° maps every cell (wrapped brackets and
    virtual-pole rows, as bilinear), and reproduces a quadratic field
    wherever no stencil wraps and no cell lies poleward of the source."""
    import numpy as np

    from xesmf_spark.weights import patch_weights

    src = grid_global(spark, 20, 12, periodic=True)
    X, Y = np.meshgrid(np.linspace(120.0, 240.0, 9), np.linspace(-89.0, 89.0, 6))
    dst = grid_from_2d_arrays(spark, X + 0.1 * Y, Y)
    w = patch_weights(src, dst).toPandas()
    assert w["row"].nunique() == dst.n_cells == 54

    src_lon, src_lat = np.meshgrid(*(a.c for a in src.axes))
    field = _sheared_quadratic(src_lon.ravel(), src_lat.ravel())
    got = np.bincount(w["row"], weights=w["S"] * field[w["col"]], minlength=54)
    lon = (dst.geometry.lon.ravel() + 180.0) % 360.0 - 180.0
    lat = dst.geometry.lat.ravel()
    inner = (np.abs(lon) < 140.0) & (np.abs(lat) < 80.0)
    assert inner.sum() >= 12
    err = np.abs(got - _sheared_quadratic(lon, lat))[inner]
    assert err.max() < 1e-9, err.max()


# ---------------------------------------------------------------------------
# plan shape of the curvilinear-source builders
# ---------------------------------------------------------------------------


def _cornered_pair(spark):
    """A rotated regional mesh with corner nodes and a rectilinear
    destination inside it."""
    from xesmf_spark.grids import grid_2d

    lonc, latc, lonb, latb = _rotated_nodes(15, 20, 15.0)
    src = grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)
    return src, grid_2d(spark, -20, 20, 4.0, -5, 25, 3.0)


def _curvilinear_builds(spark):
    from xesmf_spark.queries import _curvilinear_pair
    from xesmf_spark.weights import conservative_weights, patch_weights

    return {
        "bilinear": lambda: bilinear_weights(*_curvilinear_pair(spark)),
        "patch": lambda: patch_weights(*_curvilinear_pair(spark)),
        "conservative": lambda: conservative_weights(*_cornered_pair(spark)),
    }


@pytest.mark.parametrize("method", ["bilinear", "patch", "conservative"])
def test_curvilinear_weights_run_without_codegen_fallback(spark, method):
    """The weights plan compiles: with the interpreted fallback switched
    off, a too-large generated method would raise instead of logging."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = _curvilinear_builds(spark)[method]().collect()
    finally:
        spark.conf.set(key, old)
    assert len(rows) == {"bilinear": 256, "patch": 1024, "conservative": 391}[method]


@pytest.mark.parametrize("method", ["bilinear", "patch", "conservative"])
def test_curvilinear_weights_plan_is_one_map_over_destination(spark, method):
    """The mesh (or its corner rings) and its bin index are broadcast
    from the driver, so the weights plan is one mapInPandas over the
    destination cells: no shuffle, no window."""
    w = _curvilinear_builds(spark)[method]()
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_conservative_clip_builds_without_a_job_and_collects_in_one(spark, jobs_in):
    """The source rings come from the grid's driver-side geometry, so
    building the clip weights launches no job and collecting them is a
    single job: the map over the destination cells."""
    from xesmf_spark.weights import conservative_weights

    src, dst = _cornered_pair(spark)
    w, jobs = jobs_in(lambda: conservative_weights(src, dst))
    assert jobs == 0
    rows, jobs = jobs_in(w.collect)
    assert len(rows) == 391
    assert jobs == 1


def test_conservative_clip_hand_built_grids_match_constructor_grids(spark):
    """Grids built by hand around the constructors' cell tables (corner
    columns, or interval bounds) read their rings from the cell table
    and give the very same triplets."""
    import numpy as np

    from xesmf_spark.grids import Grid
    from xesmf_spark.weights import conservative_weights_clip

    def bare(g):
        return Grid(df=g.df, shape=g.shape, has_bounds=g.has_bounds, curvilinear=g.curvilinear)

    def triplets(w):
        pdf = w.toPandas().sort_values(["row", "col"])
        return [pdf[c].to_numpy() for c in ("row", "col", "S")]

    src, dst = _cornered_pair(spark)
    want = triplets(conservative_weights_clip(src, dst))
    got = triplets(conservative_weights_clip(bare(src), bare(dst)))
    assert len(want[0]) == 391
    assert all(np.array_equal(a, b) for a, b in zip(got, want))
