"""Bilinear regridding weights for rectilinear grids (SURVEY.md §2B-3).

Reference: ``method='bilinear'`` (xesmf/backend.py:241). For rectilinear
grids the interpolation separates per axis: bracket each destination
coordinate between the two nearest source centers, 1-D linear weights,
tensor product of the two axes → ≤4 nnz per destination cell. A
destination without separable axes (a locstream, or a curvilinear
mesh's centers) gets per-point brackets instead. patch.py builds on the
same bracket join, pole rows and tensor-product combine.

Periodic longitude (xesmf/backend.py:92-95): the source lon axis is
UNIONed with ±360°-shifted copies before the bracketing join, so
destination cells past the last source column wrap around. Without it
they get no weights → 0 on apply (unmapped_action=IGNORE,
tests/test_frontend.py:116-127 asserts max rel err == exactly 1.0).

Pole handling: ESMPy defaults ``pole_method=ALLAVG`` for non-conservative
methods on periodic grids — destination points poleward of the outermost
source-center row interpolate between that row and a virtual pole point
whose value is the MEAN of the whole row. Encoded here as extra weight
triplets ``S = w_pole / n_x`` spread over every cell of the adjacent row.

Spark plan: all joins involve only the tiny 1-D axis tables (O(n_x+n_y)
rows), broadcast; the O(nnz) triplet output is produced by one cross
combine. Nothing here scales with n_cells^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid


def _source_axis(src_ax: DataFrame, periodic: bool) -> DataFrame:
    """Source axis as ``(k, c)``, UNIONed with its ±360°-shifted copies
    when ``periodic`` so destination centers past either end wrap."""
    s = src_ax.select(F.col(src_ax.columns[0]).alias("k"), F.col("c"))
    if periodic:
        s = (
            s.unionByName(s.select("k", (F.col("c") - 360.0).alias("c")))
            .unionByName(s.select("k", (F.col("c") + 360.0).alias("c")))
        )
    return s


def _brackets(s: DataFrame, dst_ax: DataFrame, idx_dst: str) -> DataFrame:
    """Bracketing range join of dest centers into adjacent-source-center
    intervals of ``s`` (:func:`_source_axis`). Returns ``(idx_dst, x,
    k_lo, c_lo, k_hi, c_hi)``, one row per bracketed dest element."""
    # adjacent center pairs, ordered by coordinate — axis tables are tiny
    # (O(n) rows), so a single-partition window is fine here.
    win = Window.orderBy("c")
    pairs = s.select(
        F.col("k").alias("k_lo"),
        F.col("c").alias("c_lo"),
        F.lead("k").over(win).alias("k_hi"),
        F.lead("c").over(win).alias("c_hi"),
    ).filter(F.col("k_hi").isNotNull())

    d = dst_ax.select(F.col(dst_ax.columns[0]).alias(idx_dst), F.col("c").alias("x"))
    br = d.join(
        F.broadcast(pairs),
        (F.col("x") >= F.col("c_lo")) & (F.col("x") <= F.col("c_hi")),
        "inner",
    )
    # a dest center equal to an interior src center matches two brackets;
    # keep one deterministically (equivalent weights either way)
    return (
        br.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(idx_dst).orderBy(F.col("c_lo"))),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _axis_bracket(
    src_ax: DataFrame, dst_ax: DataFrame, idx_dst: str, periodic: bool = False
) -> DataFrame:
    """1-D linear weights of each bracketed dest element. Returns
    ``(idx_dst, k, w)``: source index + linear weight (two rows per
    bracketed dest element; zero-weight rows dropped).
    """
    br = _brackets(_source_axis(src_ax, periodic), dst_ax, idx_dst)
    w_hi = (F.col("x") - F.col("c_lo")) / (F.col("c_hi") - F.col("c_lo"))
    out = br.select(idx_dst, F.col("k_lo").alias("k"), (F.lit(1.0) - w_hi).alias("w")).unionByName(
        br.select(idx_dst, F.col("k_hi").alias("k"), w_hi.alias("w"))
    )
    return out.filter(F.col("w") > 0.0)


def _pole_brackets(
    src_lat_ax: DataFrame, dst_lat_ax: DataFrame, n_y: int, idx_dst: str = "dj"
) -> DataFrame:
    """Lat brackets for dest centers poleward of the outermost src-center
    rows, against virtual poles at ±90. Virtual index: -1 = south pole,
    ``n_y`` = north pole. Returns (idx_dst, k, w) like ``_axis_bracket``.
    """
    s = _source_axis(src_lat_ax, periodic=False)
    # outermost rows (tiny table -> min/max via agg, broadcast)
    ext = s.agg(
        F.min_by("k", "c").alias("k_bot"),
        F.min("c").alias("c_bot"),
        F.max_by("k", "c").alias("k_top"),
        F.max("c").alias("c_top"),
    )
    d = dst_lat_ax.select(F.col(dst_lat_ax.columns[0]).alias(idx_dst), F.col("c").alias("x"))
    d = d.crossJoin(F.broadcast(ext))

    north = d.filter(F.col("x") > F.col("c_top"))
    w_pole_n = (F.col("x") - F.col("c_top")) / (F.lit(90.0) - F.col("c_top"))
    north_rows = north.select(idx_dst, F.col("k_top").alias("k"), (F.lit(1.0) - w_pole_n).alias("w")).unionByName(
        north.select(idx_dst, F.lit(n_y).alias("k"), w_pole_n.alias("w"))
    )

    south = d.filter(F.col("x") < F.col("c_bot"))
    w_pole_s = (F.col("c_bot") - F.col("x")) / (F.col("c_bot") - F.lit(-90.0))
    south_rows = south.select(idx_dst, F.col("k_bot").alias("k"), (F.lit(1.0) - w_pole_s).alias("w")).unionByName(
        south.select(idx_dst, F.lit(-1).cast("bigint").alias("k"), w_pole_s.alias("w"))
    )
    return north_rows.unionByName(south_rows).filter(F.col("w") > 0.0)


def _renamed(rows: DataFrame, k: str, w: str) -> DataFrame:
    """Per-axis weights ``(idx_dst, k, w)`` with index and weight renamed."""
    return rows.withColumnRenamed("k", k).withColumnRenamed("w", w)


def _lat_rows(axis_weights, src_lat, dst_lat, idx_dst: str, n_y: int, periodic: bool) -> DataFrame:
    """``(idx_dst, sj, w_lat)``: ``axis_weights`` (:func:`_axis_bracket`
    or patch's ``_axis_patch``) on the lat axis, plus — when periodic —
    the ALLAVG brackets against the virtual poles (:func:`_pole_brackets`)."""
    lat_br = _renamed(axis_weights(src_lat, dst_lat, idx_dst, periodic=False), "sj", "w_lat")
    if periodic:
        lat_br = lat_br.unionByName(
            _renamed(_pole_brackets(src_lat, dst_lat, n_y, idx_dst), "sj", "w_lat")
        )
    return lat_br


def _split_poles(lat_br: DataFrame, n_y_src: int) -> tuple[DataFrame, DataFrame]:
    """Lat rows on real source rows, and lat rows on the virtual poles
    (``sj`` = -1 or ``n_y_src``)."""
    return (
        lat_br.filter((F.col("sj") >= 0) & (F.col("sj") < n_y_src)),
        lat_br.filter((F.col("sj") < 0) | (F.col("sj") >= n_y_src)),
    )


def _pole_rows(pole: DataFrame, src_lon: DataFrame, n_x_src: int, n_y_src: int, row) -> DataFrame:
    """ALLAVG virtual-pole triplets: the pole value is the MEAN of the
    adjacent source row, lon-independent, so ``S = w_lat / n_x`` is
    spread over every cell of that row. ``row`` is the destination
    index expression over ``pole``'s columns."""
    src_i = src_lon.select(F.col(src_lon.columns[0]).alias("si"))
    return pole.crossJoin(F.broadcast(src_i)).select(
        row.alias("row"),
        (
            F.when(F.col("sj") < 0, F.lit(0)).otherwise(F.lit(n_y_src - 1)) * F.lit(n_x_src)
            + F.col("si")
        ).alias("col"),
        (F.col("w_lat") / F.lit(float(n_x_src))).alias("S"),
    )


def bilinear_weights(src: Grid, dst: Grid, periodic: bool | None = None) -> DataFrame:
    """COO weight triplets for bilinear regridding from a rectilinear
    source grid onto a rectilinear grid, a locstream or a curvilinear
    mesh's centers; a curvilinear source goes to curvilinear.py.
    """
    if periodic is None:
        periodic = src.periodic
    if src.curvilinear:
        # 2-D mesh source: no separable axes — point-in-quad search +
        # inverse bilinear map (curvilinear.py)
        from xesmf_spark.weights.curvilinear import bilinear_weights_curvilinear

        return bilinear_weights_curvilinear(src, dst)
    src_lon = src.get_lon_axis()
    src_lat = src.get_lat_axis()
    if dst.curvilinear or not dst.has_bounds:
        # point destinations (locstream, or a curvilinear mesh's
        # centers): per-POINT brackets keyed by the cell id — neither
        # has separable axes (a locstream's points all share j=0), so
        # the tensor-product path below would mix the points' brackets
        # (frontend.py:178-184 allows bilinear -> locstream).
        return _bilinear_points(src, dst, src_lon, src_lat, periodic)
    dst_lon = dst.get_lon_axis()
    dst_lat = dst.get_lat_axis()

    lon_br = _renamed(_axis_bracket(src_lon, dst_lon, "di", periodic=periodic), "si", "w_lon")
    lat_br = _lat_rows(_axis_bracket, src_lat, dst_lat, "dj", src.n_y, periodic)
    return _tensor_product(
        lon_br, lat_br, dst_lon, src_lon, src.n_x, dst.n_x, src.n_y, periodic
    )


def _tensor_product(lon_br, lat_br, dst_lon, src_lon, n_x_src, n_x_dst, n_y_src, periodic):
    # interior tensor product: ≤4 nnz per dest cell
    lat_in, pole = _split_poles(lat_br, n_y_src)
    interior = (
        lat_in.crossJoin(F.broadcast(lon_br))
        .select(
            (F.col("dj") * F.lit(n_x_dst) + F.col("di")).alias("row"),
            (F.col("sj") * F.lit(n_x_src) + F.col("si")).alias("col"),
            (F.col("w_lat") * F.col("w_lon")).alias("S"),
        )
    )
    if not periodic:
        return interior

    # pole part: lon-independent, so the dest's lon weights do not
    # enter; but only dest cells whose lon IS bracketed (always true
    # when periodic).
    if pole.isEmpty():
        return interior
    dst_i = dst_lon.select(F.col(dst_lon.columns[0]).alias("di"))
    pole_rows = _pole_rows(
        pole.crossJoin(F.broadcast(dst_i)),
        src_lon,
        n_x_src,
        n_y_src,
        F.col("dj") * F.lit(n_x_dst) + F.col("di"),
    )
    return interior.unionByName(pole_rows)


def _bilinear_points(
    src: Grid, dst: Grid, src_lon: DataFrame, src_lat: DataFrame, periodic: bool
) -> DataFrame:
    """Bilinear weights onto POINT destinations (a locstream, or the
    centers of a curvilinear mesh).

    Each point gets its own lon bracket and lat bracket, both keyed by
    its cell id (``row = cell_id`` directly — for a locstream the shape
    hack (1, n) of xesmf/frontend.py:102 makes cell_id == i). The two
    brackets combine with an EQUI-join on the id, so a point's lat
    weights can never leak to another point.

    Scale: the bracketing joins are broadcast non-equi joins of the
    point set against the tiny adjacent-center-pair axis tables
    (O(n_pts * n_axis) nested-loop with the axis side broadcast) — the
    point set itself is never shuffled or broadcast.
    """
    pts_lon = dst.df.select(F.col("cell_id").alias("pid"), F.col("lon").alias("c"))
    pts_lat = dst.df.select(F.col("cell_id").alias("pid"), F.col("lat").alias("c"))

    lon_br = _renamed(_axis_bracket(src_lon, pts_lon, "pid", periodic=periodic), "si", "w_lon")
    lat_br = _lat_rows(_axis_bracket, src_lat, pts_lat, "pid", src.n_y, periodic)

    n_x_src, n_y_src = src.n_x, src.n_y
    lat_in, pole = _split_poles(lat_br, n_y_src)
    interior = (
        lat_in.join(lon_br, "pid")
        .select(
            F.col("pid").alias("row"),
            (F.col("sj") * F.lit(n_x_src) + F.col("si")).alias("col"),
            (F.col("w_lat") * F.col("w_lon")).alias("S"),
        )
    )
    if not periodic:
        return interior
    return interior.unionByName(_pole_rows(pole, src_lon, n_x_src, n_y_src, F.col("pid")))
