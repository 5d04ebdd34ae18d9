"""Bilinear regridding weights for rectilinear grids (SURVEY.md §2B-3).

Reference: ``method='bilinear'`` (xesmf/backend.py:241). For rectilinear
grids the interpolation separates per axis: bracket each destination
coordinate between the two nearest source centers, 1-D linear weights,
tensor product of the two axes → ≤4 nnz per destination cell. patch.py
builds on the same brackets, pole rows and combine.

Periodic longitude (xesmf/backend.py:92-95): the source lon centers are
extended with their ±360°-shifted copies before bracketing, so
destination cells past the last source column wrap around. Without it
they get no weights → 0 on apply (unmapped_action=IGNORE,
tests/test_frontend.py:116-127 asserts max rel err == exactly 1.0).

Pole handling: ESMPy defaults ``pole_method=ALLAVG`` for non-conservative
methods on periodic grids — destination points poleward of the outermost
source-center row interpolate between that row and a virtual pole point
whose value is the MEAN of the whole row. Encoded here as extra weight
triplets ``S = w_pole / n_x`` spread over every cell of the adjacent row.

Two stages. The 1-D stage runs on the driver in numpy over the grids'
axis arrays (``Grid.axes``, O(n_x + n_y) numbers even for a 100k x
100k-cell grid): a ``searchsorted`` bracket per destination coordinate
and its weights, one ``(idx_dst, k, w)`` table per axis. The product
stage is Spark: each axis table enters through one ``createDataFrame``
and one broadcast cross join emits the O(nnz) triplets; the ALLAVG
pole rows, when numpy finds any, are one explode unioned onto it.
Point destinations (a locstream, or a curvilinear mesh's
centers) have no separable axes; one ``mapInPandas`` over their cells
runs the same 1-D functions per point. No Spark job runs before the
caller's first action.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid

_OUT_SCHEMA = "row long, col long, S double"


def _extended(c: np.ndarray, periodic: bool) -> tuple[np.ndarray, np.ndarray]:
    """Source axis as ``(k, c)`` sorted by coordinate, extended with its
    ±360°-shifted copies when ``periodic`` so destination centers past
    either end wrap."""
    k = np.arange(c.size)
    if periodic:
        k, c = np.concatenate([k, k, k]), np.concatenate([c, c - 360.0, c + 360.0])
    order = np.argsort(c, kind="stable")
    return k[order], c[order]


def _bracket(c: np.ndarray, x: np.ndarray):
    """Brackets ``c[p] <= x <= c[p + 1]`` of destination coordinates
    ``x`` over sorted centers ``c``. Returns ``(d, p, w_hi)`` for the
    bracketed ones: their positions in ``x``, the lower bracket end and
    the linear weight of the upper one. A coordinate equal to an
    interior center takes the lower bracket (equivalent weights either
    way)."""
    ok = (x >= c[0]) & (x <= c[-1]) & (c.size > 1)
    d = np.flatnonzero(ok)
    p = np.clip(np.searchsorted(c, x[d], side="left") - 1, 0, None)
    return d, p, (x[d] - c[p]) / (c[p + 1] - c[p])


def _axis_bracket(c_src: np.ndarray, x: np.ndarray, periodic: bool):
    """1-D linear weights of each bracketed destination coordinate.
    Returns ``(d, k, w)``: position in ``x``, source index and weight
    (two per bracketed coordinate; zero weights dropped)."""
    k, c = _extended(c_src, periodic)
    d, p, w_hi = _bracket(c, x)
    w = np.concatenate([1.0 - w_hi, w_hi])
    return _where(w > 0.0, np.concatenate([d, d]), np.concatenate([k[p], k[p + 1]]), w)


def _pole_brackets(c_src: np.ndarray, x: np.ndarray):
    """Lat brackets of destination coordinates poleward of the outermost
    source-center rows, against virtual poles at ±90. Virtual index: -1
    = south pole, ``c_src.size`` = north pole. Returns ``(d, k, w)``
    like :func:`_axis_bracket`."""
    top, bot = int(np.argmax(c_src)), int(np.argmin(c_src))
    c_top, c_bot = c_src[top], c_src[bot]
    n, s = np.flatnonzero(x > c_top), np.flatnonzero(x < c_bot)
    w_n = (x[n] - c_top) / (90.0 - c_top)
    w_s = (c_bot - x[s]) / (c_bot - (-90.0))
    k = np.repeat([top, c_src.size, bot, -1], [n.size, n.size, s.size, s.size])
    w = np.concatenate([1.0 - w_n, w_n, 1.0 - w_s, w_s])
    return _where(w > 0.0, np.concatenate([n, n, s, s]), k, w)


def _where(mask: np.ndarray, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """The rows of the equal-length ``cols`` where ``mask`` holds."""
    return tuple(c[mask] for c in cols)


def _axis_rows(axis_weights, src_lon, src_lat, x_lon, x_lat, periodic: bool):
    """``axis_weights`` (:func:`_axis_bracket` or patch's
    ``_axis_patch``) of the ``x_lon``/``x_lat`` coordinates against the
    source centers ``src_lon``/``src_lat``: ``(lon, lat)`` tables of
    ``(d, k, w)``. When periodic the lon axis wraps and the lat table
    gains the ALLAVG virtual-pole brackets (:func:`_pole_brackets`)."""
    lon = axis_weights(src_lon, x_lon, periodic)
    lat = axis_weights(src_lat, x_lat, False)
    if periodic:
        lat = tuple(map(np.concatenate, zip(lat, _pole_brackets(src_lat, x_lat))))
    return lon, lat


def _separable(axis_weights, src: Grid, dst: Grid, periodic: bool) -> DataFrame:
    """Weight triplets of a separable method from a rectilinear source:
    the tensor product of the per-axis ``axis_weights`` onto a
    rectilinear grid, per-point products onto point destinations."""
    if dst.curvilinear or not dst.has_bounds:
        # point destinations (locstream, or a curvilinear mesh's
        # centers): neither has separable axes (a locstream's points
        # all share j=0), so each point pairs its own brackets
        # (frontend.py:178-184 allows bilinear -> locstream)
        return _point_weights(axis_weights, src, dst, periodic)
    (src_lon, src_lat), (dst_lon, dst_lat) = src.axes, dst.axes
    lon, lat = _axis_rows(axis_weights, src_lon.c, src_lat.c, dst_lon.c, dst_lat.c, periodic)
    real = (lat[1] >= 0) & (lat[1] < src.n_y)
    out = _tensor_product(src, dst, lon, _where(real, *lat))
    if not real.all():
        out = out.unionByName(_pole_rows(src, dst, _where(~real, *lat)))
    return out


def _frame(spark, names: str, cols) -> DataFrame:
    """One axis table ``(idx_dst, k, w)`` as a local relation."""
    idx, k, w = names.split()
    pdf = pd.DataFrame({idx: cols[0].astype(np.int64), k: cols[1].astype(np.int64), w: cols[2]})
    return spark.createDataFrame(pdf, f"{idx} long, {k} long, {w} double")


def _tensor_product(src: Grid, dst: Grid, lon, lat) -> DataFrame:
    """``S = w_lat * w_lon`` over every pair of a lat row and a lon row
    of the per-axis ``(d, k, w)`` tables: one broadcast cross join, the
    only O(nnz) stage of a separable build."""
    spark = src.df.sparkSession
    lat_df = _frame(spark, "dj sj w_lat", lat)
    lon_df = _frame(spark, "di si w_lon", lon)
    return lat_df.crossJoin(F.broadcast(lon_df)).select(
        (F.col("dj") * F.lit(dst.n_x) + F.col("di")).alias("row"),
        (F.col("sj") * F.lit(src.n_x) + F.col("si")).alias("col"),
        (F.col("w_lat") * F.col("w_lon")).alias("S"),
    )


def _pole_cols(sj: np.ndarray, n_x: int, n_y: int) -> np.ndarray:
    """First column of the source row a virtual pole ``sj`` averages."""
    return np.where(sj < 0, 0, n_y - 1) * n_x


def _pole_rows(src: Grid, dst: Grid, pole) -> DataFrame:
    """ALLAVG virtual-pole triplets: the pole value is the MEAN of the
    adjacent source row, lon-independent, so ``S = w_lat / n_x`` is
    spread over every cell of that row, for every destination column."""
    dj, sj, w = pole
    n_x = src.n_x
    pdf = pd.DataFrame({"dj": dj, "c0": _pole_cols(sj, n_x, src.n_y), "S": w / float(n_x)})
    return (
        src.df.sparkSession.createDataFrame(pdf, "dj long, c0 long, S double")
        .select("dj", "c0", "S", _each(dst.n_x).alias("di"))
        .select((F.col("dj") * F.lit(dst.n_x) + F.col("di")).alias("row"), "c0", "S", _each(n_x).alias("si"))
        .select("row", (F.col("c0") + F.col("si")).alias("col"), "S")
    )


def _each(n: int):
    """A generator over the indices ``0 .. n-1``: one row per index."""
    return F.explode(F.sequence(F.lit(0), F.lit(n - 1)))


def _point_weights(axis_weights, src: Grid, dst: Grid, periodic: bool) -> DataFrame:
    """Weights onto POINT destinations (a locstream, or the centers of a
    curvilinear mesh), keyed by cell id (``row = cell_id`` — for a
    locstream the shape hack (1, n) of xesmf/frontend.py:102 makes
    cell_id == i). Each point pairs only its own lon and lat weights;
    one ``mapInPandas`` over the point cells, the source axes shipped
    with the closure, so the point set is never shuffled or
    broadcast."""
    n_x, n_y = src.n_x, src.n_y
    src_lon, src_lat = (a.c for a in src.axes)

    def kernel(batches):
        for pdf in batches:
            pid = pdf["cell_id"].to_numpy()
            x_lon, x_lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
            lon, lat = _axis_rows(axis_weights, src_lon, src_lat, x_lon, x_lat, periodic)
            yield _point_products(pid, lon, lat, n_x, n_y)

    return dst.df.select("cell_id", "lon", "lat").mapInPandas(kernel, _OUT_SCHEMA)


def _point_products(pid, lon, lat, n_x: int, n_y: int) -> pd.DataFrame:
    """``(row, col, S)`` of points ``pid``: each point's real lat rows
    times its own lon rows (the ``(d, k, w)`` tables joined on ``d``),
    and its pole lat rows spread over the ``n_x`` cells of the averaged
    source row."""
    lat = pd.DataFrame(dict(zip(("d", "sj", "w_lat"), lat)))
    lon = pd.DataFrame(dict(zip(("d", "si", "w_lon"), lon)))
    real = (lat["sj"] >= 0) & (lat["sj"] < n_y)
    inner = lat[real].merge(lon, on="d")
    pole = lat[~real].merge(pd.DataFrame({"si": np.arange(n_x)}), how="cross")
    return pd.DataFrame({
        "row": pid[np.concatenate([inner["d"], pole["d"]])],
        "col": np.concatenate([
            inner["sj"] * n_x + inner["si"],
            _pole_cols(pole["sj"].to_numpy(), n_x, n_y) + pole["si"],
        ]),
        "S": np.concatenate([inner["w_lat"] * inner["w_lon"], pole["w_lat"] / float(n_x)]),
    })


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
    return _separable(_axis_bracket, src, dst, periodic)
