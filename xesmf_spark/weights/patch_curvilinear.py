"""Patch-recovery weights from a CURVILINEAR source mesh.

The reference supports ``method='patch'`` on any 2-D mesh because ESMF
builds the least-squares polynomial patches in Fortran
(xesmf/backend.py:243); the rectilinear construction (patch.py)
exploits the source's separable axes, which a curvilinear mesh lacks.
This module implements the method's DEFINING contract on general
meshes — exact on quadratic fields, C0 across quad edges, weights
summing to 1 — with the classic patch-recovery construction:

1. LOCATE — the shared curvilinear quad-location stage
   (curvilinear.locate_points): containing center-mesh quad (j, i) and
   unit-square coordinates (u, v) per destination point. Seam-safe.
2. CORNER PATCHES — around each of the quad's 4 corner CENTERS, the
   3x3 index-space stencil of source centers (shifted inward at mesh
   edges, wrapped mod n_x when periodic); a least-squares quadratic in
   LOCAL physical coordinates (6 monomials, 9 points) evaluated at the
   destination point gives 9 weights per corner. The normal-equation
   solves are BATCHED numpy (one (N,6,6) ``np.linalg.solve``) inside a
   single Arrow-batched ``mapInPandas`` kernel — no per-row Python.
3. BLEND — the 4 corner patches combine with the bilinear basis
   ``(1-u)(1-v), u(1-v), (1-u)v, uv``. A corner's patch depends only on
   the corner (shared between adjacent quads) and the blend vanishes on
   the quad edges opposite the corner, so the interpolant is C0.

Exactness: each LS quadratic reproduces any quadratic field on its
stencil exactly (9 generic points determine 6 coefficients), and an
affine blend of exact values stays exact — pytest asserts machine-
precision reproduction of a full 2-D quadratic on a rotated mesh.
Constants are reproduced by every LS fit, so weights sum to 1.

Spark plan (100-TB shape): location is the bucketed bin equi-join;
stencil gathering is an equi-join on mesh indices (j, i); the solves
ride one groupBy(pid, corner) shuffle of 9-row groups; the final
(row, col) combine merges duplicate stencil entries. Never all-pairs,
no driver collects.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid

_OUT_SCHEMA = "row long, col long, S double"


def _solve_kernel(batches):
    """Batched corner-patch solve: each input row is one (pid, corner)
    group with 9 stencil points (arrays xs, ys, ks), the destination
    point (px, py) and the blend factor. Emits (row, col, S) triplets.

    w9 = first row of (A^T A)^{-1} A^T with A the 6-monomial design
    matrix in dest-centered, extent-scaled coordinates — evaluating the
    LS quadratic at the origin needs only the constant coefficient, and
    the scaling leaves it (hence the weights) unchanged while keeping
    the normal matrix conditioned."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        X = np.stack(pdf["xs"].to_numpy())  # (n, 9)
        Y = np.stack(pdf["ys"].to_numpy())
        K = np.stack(pdf["ks"].to_numpy()).astype(np.int64)
        px = pdf["px"].to_numpy(np.float64)[:, None]
        py = pdf["py"].to_numpy(np.float64)[:, None]
        blend = pdf["blend"].to_numpy(np.float64)
        # seam-safe localization of stencil lons around the dest point
        X = X - 360.0 * np.round((X - px) / 360.0)
        xt, yt = X - px, Y - py
        s = np.maximum(
            np.sqrt((xt * xt + yt * yt).mean(axis=1))[:, None], 1e-12
        )
        xt, yt = xt / s, yt / s
        A = np.stack(
            [np.ones_like(xt), xt, yt, xt * xt, xt * yt, yt * yt], axis=2
        )  # (n, 9, 6)
        M = A.transpose(0, 2, 1) @ A  # (n, 6, 6)
        At = A.transpose(0, 2, 1)  # (n, 6, 9)
        try:
            W = np.linalg.solve(M, At)  # (n, 6, 9)
        except np.linalg.LinAlgError:
            W = np.linalg.pinv(M) @ At  # rank-deficient stencil fallback
        w9 = W[:, 0, :] * blend[:, None]  # (n, 9)
        keep = w9.ravel() != 0.0
        yield pd.DataFrame(
            {
                "row": np.repeat(pdf["pid"].to_numpy(np.int64), 9)[keep],
                "col": K.ravel()[keep],
                "S": w9.ravel()[keep],
            }
        )


def patch_weights_curvilinear(
    src: Grid, dst: Grid, bin_deg: float | None = None
) -> DataFrame:
    """COO weight triplets (row, col, S) for patch-recovery regridding
    from a curvilinear source mesh onto any destination point set.
    patch.py sends every curvilinear source here; a rectilinear source
    (read as its mesh of centers) works too, but patch.py serves it
    with its separable axes, seam and poles included."""
    if src.n_x < 3 or src.n_y < 3:
        raise ValueError("patch needs >= 3 source centers per axis")
    from xesmf_spark.weights.curvilinear import _bilinear_basis, locate_points

    loc = locate_points(src, dst, bin_deg)

    # 4 corners x 9 stencil slots, clamped inward at mesh edges so every
    # stencil holds 9 DISTINCT centers; i wraps mod n_x when periodic
    n_y, n_x = src.n_y, src.n_x
    corners = F.array(
        *[
            F.struct(
                F.lit(c).alias("corner"),
                (F.col("j") + F.lit(c // 2)).alias("jc"),
                (F.col("i") + F.lit(c % 2)).alias("ic"),
                b.alias("blend"),
            )
            for c, b in enumerate(_bilinear_basis())
        ]
    )
    ex = loc.select(
        "pid", "px", "py", F.explode(corners).alias("c")
    ).select("pid", "px", "py", "c.corner", "c.jc", "c.ic", "c.blend")
    # stencil start, clamped to keep all 3 rows/cols in range
    j0 = F.greatest(F.least(F.col("jc") - 1, F.lit(n_y - 3)), F.lit(0))
    if src.periodic:
        i0 = F.col("ic") - 1  # wrapped below, no clamp needed
    else:
        i0 = F.greatest(F.least(F.col("ic") - 1, F.lit(n_x - 3)), F.lit(0))
    ex = ex.withColumn("j0", j0).withColumn("i0", i0)
    offs = F.array(
        *[
            F.struct(F.lit(dj).alias("dj"), F.lit(di).alias("di"))
            for dj in range(3)
            for di in range(3)
        ]
    )
    ii = F.col("i0") + F.col("o.di")
    if src.periodic:
        ii = F.pmod(ii, F.lit(n_x))
    nb = ex.select(
        "pid", "px", "py", "corner", "blend", F.explode(offs).alias("o"),
        (F.col("j0") + F.col("o.dj")).alias("jj"), ii.alias("iq"),
        (F.col("o.dj") * 3 + F.col("o.di")).alias("slot"),
    ).drop("o")

    centers = src.df.select(
        F.col("j").alias("jj"),
        F.col("i").alias("iq"),
        F.col("cell_id").alias("k"),
        F.col("lon").alias("cx"),
        F.col("lat").alias("cy"),
    )
    pts = nb.join(centers, ["jj", "iq"])

    # slot-sorted stencil arrays — three parallel collect_lists would
    # not be guaranteed index-aligned; sorting by the slot key makes the
    # (xs, ys, ks) triples deterministic, all JVM-side
    def sorted_vals(col):
        return F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("slot").alias("s"), F.col(col).alias("v")))
            ),
            lambda e: e["v"],
        )

    grouped = pts.groupBy("pid", "corner").agg(
        F.first("px").alias("px"),
        F.first("py").alias("py"),
        F.first("blend").alias("blend"),
        sorted_vals("cx").alias("xs"),
        sorted_vals("cy").alias("ys"),
        sorted_vals("k").alias("ks"),
    )
    trip = grouped.mapInPandas(_solve_kernel, _OUT_SCHEMA)
    # merge a stencil index reached via several corners; drop exact zeros
    return (
        trip.groupBy("row", "col")
        .agg(F.sum("S").alias("S"))
        .filter(F.col("S") != 0.0)
    )
