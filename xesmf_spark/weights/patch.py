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
factorizes axis-by-axis. The build calls bilinear.py's helpers for
the periodic extension and bracket join, the virtual-pole rows and the
tensor-product combine: tiny per-axis tables, broadcast range joins,
one cross combine, <=16 nnz per destination cell. Pure JVM Column
arithmetic — no UDF, no linear solve (the tensor-grid least-squares
system is interpolatory, so its solution IS the Lagrange form).

Reproduces any quadratic field exactly on interior destinations
(tested), degrades to the bilinear ALLAVG virtual-pole treatment
poleward of the outermost source row (periodic grids), and yields
unmapped-zero outside the source mesh — the same boundary semantics as
bilinear.py. A curvilinear mesh on either side dispatches to the
general-mesh form (patch_curvilinear.py: per-corner 3x3 least-squares
quadratic patches blended over the located quad — same defining
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid
from xesmf_spark.weights.bilinear import (
    _brackets,
    _lat_rows,
    _renamed,
    _source_axis,
    _tensor_product,
)


def _axis_patch(
    src_ax: DataFrame, dst_ax: DataFrame, idx_dst: str, periodic: bool = False
) -> DataFrame:
    """Per-axis patch weights: dest elements against up to 4 distinct
    source indices — the union of the two bracketing corners' 3-point
    Lagrange stencils, blended by the linear bracket weights. Returns
    ``(idx_dst, k, w)``; weights per dest sum to 1 (each Lagrange basis
    sums to 1 and the corner blend is affine)."""
    s = _source_axis(src_ax, periodic)
    # per-corner canonical 3-point stencil from the sorted center axis:
    # interior (prev, self, next); shifted inward at hard edges. Axis
    # tables are tiny — a single-partition window is deliberate.
    win = Window.orderBy("c")
    st = s.select(
        "k",
        "c",
        F.lag("k", 1).over(win).alias("km1"),
        F.lag("c", 1).over(win).alias("cm1"),
        F.lag("k", 2).over(win).alias("km2"),
        F.lag("c", 2).over(win).alias("cm2"),
        F.lead("k", 1).over(win).alias("kp1"),
        F.lead("c", 1).over(win).alias("cp1"),
        F.lead("k", 2).over(win).alias("kp2"),
        F.lead("c", 2).over(win).alias("cp2"),
    )
    st = st.select(
        "k",
        "c",
        F.when(F.col("km1").isNull(), F.col("k"))
        .when(F.col("kp1").isNull(), F.col("km2"))
        .otherwise(F.col("km1"))
        .alias("ka"),
        F.when(F.col("km1").isNull(), F.col("c"))
        .when(F.col("kp1").isNull(), F.col("cm2"))
        .otherwise(F.col("cm1"))
        .alias("ca"),
        F.when(F.col("km1").isNull(), F.col("kp1"))
        .when(F.col("kp1").isNull(), F.col("km1"))
        .otherwise(F.col("k"))
        .alias("kb"),
        F.when(F.col("km1").isNull(), F.col("cp1"))
        .when(F.col("kp1").isNull(), F.col("cm1"))
        .otherwise(F.col("c"))
        .alias("cb"),
        F.when(F.col("km1").isNull(), F.col("kp2"))
        .when(F.col("kp1").isNull(), F.col("k"))
        .otherwise(F.col("kp1"))
        .alias("kc"),
        F.when(F.col("km1").isNull(), F.col("cp2"))
        .when(F.col("kp1").isNull(), F.col("c"))
        .otherwise(F.col("cp1"))
        .alias("cc"),
    )

    br = _brackets(s, dst_ax, idx_dst)
    b_hi = (F.col("x") - F.col("c_lo")) / (F.col("c_hi") - F.col("c_lo"))

    # both corners' stencils attach with two broadcast joins, then ONE
    # projection emits all 6 (index, blend * Lagrange) entries as an
    # array + explode — a 6-way union here would re-evaluate the
    # bracket join per branch (measured ~2.5x slower steady-state)
    st_lo = st.select(*[F.col(c).alias(f"{c}_l") for c in st.columns])
    st_hi = st.select(*[F.col(c).alias(f"{c}_h") for c in st.columns])
    joined = br.join(
        F.broadcast(st_lo),
        (F.col("k_lo") == F.col("k_l")) & (F.col("c_lo") == F.col("c_l")),
    ).join(
        F.broadcast(st_hi),
        (F.col("k_hi") == F.col("k_h")) & (F.col("c_hi") == F.col("c_h")),
    )
    x = F.col("x")

    def lagrange(suffix: str, blend):
        ca, cb, cc = (F.col(f"c{t}_{suffix}") for t in ("a", "b", "c"))
        ka, kb, kc = (F.col(f"k{t}_{suffix}") for t in ("a", "b", "c"))
        return [
            F.struct(ka.alias("k"), (blend * ((x - cb) * (x - cc)) / ((ca - cb) * (ca - cc))).alias("w")),
            F.struct(kb.alias("k"), (blend * ((x - ca) * (x - cc)) / ((cb - ca) * (cb - cc))).alias("w")),
            F.struct(kc.alias("k"), (blend * ((x - ca) * (x - cb)) / ((cc - ca) * (cc - cb))).alias("w")),
        ]

    entries = F.array(*lagrange("l", F.lit(1.0) - b_hi), *lagrange("h", b_hi))
    out = (
        joined.select(idx_dst, F.explode(entries).alias("e"))
        .select(idx_dst, F.col("e.k").alias("k"), F.col("e.w").alias("w"))
        .groupBy(idx_dst, "k")
        .agg(F.sum("w").alias("w"))
    )
    # a stencil index reached via both corners merges; exact zeros drop
    return out.filter(F.col("w") != 0.0)


def patch_weights(src: Grid, dst: Grid, periodic: bool | None = None) -> DataFrame:
    """COO weight triplets for patch-recovery regridding between
    rectilinear grids, or from or onto a curvilinear mesh (a locstream
    destination is rejected upstream by the Regridder's validation
    matrix, frontend.py:178-184)."""
    if periodic is None:
        periodic = src.periodic
    if src.curvilinear or dst.curvilinear:
        # no separable axes on one side: the general-mesh form —
        # per-corner 3x3 LS quadratic patches blended bilinearly over
        # the located source quad (patch_curvilinear.py), same defining
        # contract (quadratic-exact, C0, partition of unity)
        from xesmf_spark.weights.patch_curvilinear import patch_weights_curvilinear

        return patch_weights_curvilinear(src, dst)
    if src.n_x < 3 or src.n_y < 3:
        raise ValueError("patch needs >= 3 source centers per axis")
    src_lon, src_lat = src.get_lon_axis(), src.get_lat_axis()
    dst_lon, dst_lat = dst.get_lon_axis(), dst.get_lat_axis()

    lon_br = _renamed(_axis_patch(src_lon, dst_lon, "di", periodic=periodic), "si", "w_lon")
    # poleward of the outermost source row: ALLAVG virtual-pole
    # blending, identical to bilinear (linear accuracy there)
    lat_br = _lat_rows(_axis_patch, src_lat, dst_lat, "dj", src.n_y, periodic)
    return _tensor_product(
        lon_br, lat_br, dst_lon, src_lon, src.n_x, dst.n_x, src.n_y, periodic
    )
