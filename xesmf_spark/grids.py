"""Grid constructors and analytic fields as distributed DataFrames.

Reference semantics reproduced here (see SURVEY.md §1, §2A #25-28):

- ``_grid_1d`` (xesmf/util.py:6-28): bounds ``b_k = start + k*step`` via
  ``np.arange(start, end + step, step)``; centers are bound midpoints.
- ``grid_2d`` (xesmf/util.py:31-69): 2-D rectilinear grid = meshgrid of
  the two 1-D axes. Spark-native reading: ONE ``spark.range(n_y*n_x)``
  projection with ``j = id div n_x``, ``i = id % n_x`` and the 1-D axis
  formula applied to each index (xesmf/frontend.py:21-30 ``as_2d_mesh``).
- ``grid_global`` (xesmf/util.py:72-98): grid_2d over [-180,180]x[-90,90]
  with a divisibility warning.
- ``wave_smooth`` (xesmf/data.py:8-44): the analytic benchmark field
  ``2 + cos^2(lat) * cos(2*lon)`` (radians) — a pure Column expression,
  used as the golden oracle everywhere.

Cell table schema (FIXTURES.md §1.1)::

    cell_id BIGINT   -- j * n_x + i, row-major flatten (xesmf/smm.py:89)
    j, i    BIGINT   -- 0-based lat/y and lon/x index
    lon, lat          DOUBLE  -- cell centers, degrees
    lon_lo, lon_hi, lat_lo, lat_hi  DOUBLE  -- cell bounds, degrees

Scale note: ``grid_2d`` cells are generated with ``spark.range``
(distributed, no driver-side materialization), so an n_y x n_x grid of
any size never touches the driver. What the driver does hold is the
grid's :class:`Geometry` — the 1-D axes of a rectilinear grid, or the
center fields and cell corner rings of a curvilinear mesh or point
list. The facts a Regridder construction checks (latitude range,
degenerate cells, the weight-cache digest), the 1-D axes the
rectilinear weight builders work on (:attr:`Grid.axes`), the 2-D
centers the curvilinear-source builders broadcast (:attr:`Grid.mesh`)
and the cell corner rings the polygon-clipping builder broadcasts
(:attr:`Grid.rings`) are read from it with numpy, launching no Spark
job. A Grid built by hand around a cell table has no constructor
geometry: its cells reach the driver ONCE, in one collect pivoted into
the same record (:func:`_table_geometry`), which assumes the table fits
there — true of the small point lists built this way
(``queries._point_grid``: 49 points at the query default).
"""

from __future__ import annotations

import hashlib
import math
import warnings
from dataclasses import dataclass, field as dc_field
from functools import cached_property
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _arange_n(start: float, stop: float, step: float) -> int:
    """Length of ``np.arange(start, stop, step)`` without allocating it."""
    n = int(math.ceil((stop - start) / step))
    # guard against float error at the boundary (arange excludes stop)
    while start + (n - 1) * step >= stop:
        n -= 1
    while start + n * step < stop:
        n += 1
    return n


def _bounds_sql(k: str, start_b: float, step: float) -> tuple[str, str]:
    """SQL bounds of 1-D cell ``k``: ``start + k*step`` and
    ``start + (k+1)*step`` with double literals — ``np.arange``'s own
    arithmetic, so every value is bit-identical to the reference's
    bounds array (and to :func:`_axis_geometry`)."""
    start, step = repr(float(start_b)) + "D", repr(float(step)) + "D"
    return (
        f"({start} + CAST({k} AS DOUBLE) * {step})",
        f"({start} + CAST(({k} + 1) AS DOUBLE) * {step})",
    )


def _axis_geometry(start_b: float, step: float, n_cells: int) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side (centers, bounds) of the axis :func:`grid_1d` builds."""
    b = float(start_b) + np.arange(n_cells + 1, dtype=np.float64) * float(step)
    return (b[:-1] + b[1:]) / 2.0, b


def grid_1d(
    spark: SparkSession, start_b: float, end_b: float, step: float, idx_name: str = "i"
) -> tuple[DataFrame, int]:
    """1-D axis table: ``(idx, lo, hi, c)`` — bounds and centers.

    Mirrors ``_grid_1d`` (xesmf/util.py:6-28): bounds are
    ``np.arange(start_b, end_b + step, step)``, centers are midpoints.
    Returns (axis DataFrame, n_cells).
    """
    n_cells = _arange_n(start_b, end_b + step, step) - 1
    lo, hi = _bounds_sql("id", start_b, step)
    ax = spark.range(n_cells).selectExpr(
        f"id AS {idx_name}", f"{lo} AS lo", f"{hi} AS hi", f"({lo} + {hi}) / 2.0D AS c"
    )
    return ax, n_cells


def _copy(a) -> np.ndarray:
    """Float64 copy the caller can no longer mutate under the grid."""
    return np.array(a, dtype=np.float64)


#: corner offsets ``(dj, di)`` of a cell's ring, the reference's corner
#: order: (j,i) -> (j,i+1) -> (j+1,i+1) -> (j+1,i)
_RING = ((0, 0), (0, 1), (1, 1), (1, 0))

#: the ring as cell-table columns, carried by curvilinear grids built
#: with corner nodes (:func:`grid_from_2d_arrays`)
CORNER_COLS = tuple(f"c{ax}{k}" for k in range(4) for ax in ("lon", "lat"))

#: the interval-bound columns of the cell table (NULL on a mesh)
BOUND_COLS = ("lon_lo", "lon_hi", "lat_lo", "lat_hi")


def node_ring(b: np.ndarray) -> np.ndarray:
    """The 4 ring corners of every cell of the (n_y+1, n_x+1) corner-node
    array ``b``, as one ``(4, n_y, n_x)`` array in :data:`_RING` order."""
    n_y, n_x = b.shape[0] - 1, b.shape[1] - 1
    return np.stack([b[dj : dj + n_y, di : di + n_x] for dj, di in _RING])


def _box_rings(lon_lo, lon_hi, lat_lo, lat_hi) -> tuple[np.ndarray, np.ndarray]:
    """The ``(lon, lat)`` rings of lon/lat boxes, ``(4, *shape)`` in
    :data:`_RING` order — the ring :func:`cell_quads` reads from interval
    bounds. The bounds broadcast against each other."""
    lon_lo, lon_hi, lat_lo, lat_hi = np.broadcast_arrays(lon_lo, lon_hi, lat_lo, lat_hi)
    return np.stack([lon_lo, lon_hi, lon_hi, lon_lo]), np.stack([lat_lo, lat_lo, lat_hi, lat_hi])


@dataclass(frozen=True, eq=False)
class Geometry:
    """Driver-side record of a grid's cell geometry, in degrees, in one
    of two forms:

    - the separable form of a rectilinear constructor grid: 1-D axes
      ``lon`` (n_x,) and ``lat`` (n_y,) centers, ``lon_b`` (n_x+1,) and
      ``lat_b`` (n_y+1,) bounds (cell ``k`` spans ``b[k]..b[k+1]``);
    - the mesh form of a curvilinear mesh, a point list or a Grid built
      by hand around a cell table: (n_y, n_x) ``lon``/``lat`` center
      fields and the per-cell corner rings ``lon_b``/``lat_b``, shape
      (4, n_y, n_x) in :data:`_RING` order — :func:`node_ring` of a
      mesh's corner nodes, or a table's corner columns or interval
      bounds.

    ``lon_b``/``lat_b`` are None for a grid without bounds. The arrays
    are read-only: :class:`Grid` hands out views of them.
    """

    lon: np.ndarray
    lat: np.ndarray
    lon_b: np.ndarray | None = None
    lat_b: np.ndarray | None = None

    def __post_init__(self):
        for a in (self.lon, self.lat, self.lon_b, self.lat_b):
            if a is not None:
                a.setflags(write=False)

    @property
    def rectilinear(self) -> bool:
        return self.lon.ndim == 1

    def facts(self, shape: tuple[int, int]) -> "CellFacts":
        """:class:`CellFacts` with numpy, launching no Spark job."""
        bad = ~((self.lat >= -90.0) & (self.lat <= 90.0))  # NaN counts as bad
        h = hashlib.md5(f"geometry|{shape}".encode())
        for a in (self.lon, self.lat, self.lon_b, self.lat_b):
            if a is None:
                h.update(b"none")
            else:
                # rounded to 9 decimals; +0.0 folds -0.0 into 0.0 so
                # equal geometry hashes equally
                h.update(repr(a.shape).encode())
                h.update((np.round(a, 9) + 0.0).tobytes())
        return CellFacts(bool(bad.any()), self._n_degenerate(), h.hexdigest()[:8])

    def _n_degenerate(self) -> int:
        if self.lon_b is None:
            return 0
        if self.rectilinear:
            # a rectilinear cell is degenerate iff one of its intervals
            # collapses: count the cells outside the good-lon x good-lat block
            good_x = int(np.count_nonzero(self.lon_b[1:] != self.lon_b[:-1]))
            good_y = int(np.count_nonzero(self.lat_b[1:] != self.lat_b[:-1]))
            return self.lon.size * self.lat.size - good_x * good_y
        cx, cy = self.lon_b, self.lat_b
        xs, ys = np.radians(cx), np.sin(np.radians(cy))
        area2 = sum(xs[k] * ys[(k + 1) % 4] - xs[(k + 1) % 4] * ys[k] for k in range(4))
        deg = np.abs(area2) < 1e-16
        # a ring with fewer than 4 distinct nodes at 12 decimals
        rx, ry = np.round(cx, 12), np.round(cy, 12)
        for a in range(4):
            for b in range(a + 1, 4):
                deg |= (rx[a] == rx[b]) & (ry[a] == ry[b])
        return int(np.count_nonzero(deg))


class CellFacts(NamedTuple):
    """What a Regridder construction checks about a grid."""

    #: some cell center lies outside [-90, 90]
    lat_out_of_range: bool
    #: cells that are triangles or lines instead of quadrilaterals
    n_degenerate: int
    #: short digest of the full geometry, part of the weight-cache key
    digest: str


class Axis(NamedTuple):
    """One separable axis of a rectilinear grid, indexed by ``i`` (lon)
    or ``j`` (lat): centers ``c`` and cell bounds ``lo``/``hi``, in
    degrees; ``lo``/``hi`` are None for a grid without bounds."""

    c: np.ndarray
    lo: np.ndarray | None
    hi: np.ndarray | None

    @classmethod
    def of(cls, c: np.ndarray, b: np.ndarray | None) -> "Axis":
        """The axis of centers ``c`` and n+1 bounds ``b`` (or None)."""
        return cls(c, None, None) if b is None else cls(c, b[:-1], b[1:])


@dataclass
class Grid:
    """A 2-D quadrilateral mesh as a cell DataFrame + shape metadata.

    Spark analogue of the ESMF Grid object (xesmf/backend.py:55-114).
    ``shape = (n_y, n_x)``; ``periodic`` declares 360-degree longitude
    wrap (xesmf/backend.py:92-95, source grids only). A Grid is treated
    as immutable once built.
    """

    df: DataFrame
    shape: tuple[int, int]
    periodic: bool = False
    has_bounds: bool = True
    #: True when lon/lat are full 2-D fields (no separable axes);
    #: :attr:`axes` then raises
    curvilinear: bool = False
    #: horizontal dimension names, (y-like, x-like) — the analogue of
    #: the xarray dims the reference renames outputs to
    #: (xesmf/frontend.py:424-430); carried as metadata and used by the
    #: Regridder facade to name attached dim-index columns
    dims: tuple[str, str] = ("y", "x")
    #: driver-side geometry a constructor passes in; None for a Grid
    #: built by hand around a cell DataFrame, which reads its own from
    #: the table on first use. Read through :attr:`_geometry`.
    geometry: Geometry | None = dc_field(default=None, repr=False)

    @property
    def n_cells(self) -> int:
        return self.shape[0] * self.shape[1]

    @property
    def n_x(self) -> int:
        return self.shape[1]

    @property
    def n_y(self) -> int:
        return self.shape[0]

    @cached_property
    def _geometry(self) -> Geometry:
        """The one geometry :attr:`facts`, :attr:`axes`, :attr:`mesh`
        and :attr:`rings` read: the constructor's, or a hand-built
        Grid's from ONE collect of its cell table
        (:func:`_table_geometry`). Once per Grid."""
        return self.geometry if self.geometry is not None else _table_geometry(self)

    @cached_property
    def facts(self) -> CellFacts:
        """Latitude range, degenerate-cell count and geometry digest,
        computed with numpy from the geometry."""
        return self._geometry.facts(self.shape)

    @cached_property
    def axes(self) -> tuple[Axis, Axis]:
        """The separable ``(lon, lat)`` :class:`Axis` pair of a
        rectilinear grid, in numpy. A hand-built grid's mesh form gives
        its first cell row as the lon axis and its first cell column as
        the lat axis. Raises ValueError on a curvilinear grid."""
        if self.curvilinear:
            raise ValueError(
                "a curvilinear grid has no separable 1-D lon/lat axes; "
                "its weights come from the mesh builders"
            )
        g = self._geometry
        if g.rectilinear:
            return Axis.of(g.lon, g.lon_b), Axis.of(g.lat, g.lat_b)
        if g.lon_b is None:
            return Axis(g.lon[0], None, None), Axis(g.lat[:, 0], None, None)
        # ring corner 0 is a cell's (lo, lo) corner, corner 2 its (hi, hi)
        return (
            Axis(g.lon[0], g.lon_b[0, 0], g.lon_b[2, 0]),
            Axis(g.lat[:, 0], g.lat_b[0, :, 0], g.lat_b[2, :, 0]),
        )

    @cached_property
    def mesh(self) -> tuple[np.ndarray, np.ndarray]:
        """The ``(lon, lat)`` cell centers as read-only ``(n_y, n_x)``
        numpy arrays, ``[j, i]`` = cell ``j * n_x + i`` (a rectilinear
        grid's axes broadcast, without a copy)."""
        g = self._geometry
        if g.rectilinear:
            return np.broadcast_to(g.lon, self.shape), np.broadcast_to(g.lat[:, None], self.shape)
        return g.lon, g.lat

    @cached_property
    def rings(self) -> tuple[np.ndarray, np.ndarray]:
        """The ``(lon, lat)`` corner rings of the cells as read-only
        ``(4, n_cells)`` numpy arrays in :data:`_RING` order, ``[:, k]``
        = cell ``k``: a reshape of the mesh form's rings, or the boxes of
        a rectilinear grid's axis bounds. Raises KeyError on a grid
        without bounds."""
        g = self._geometry
        if g.lon_b is None:
            raise KeyError(_NO_CORNERS)
        x, y = g.lon_b, g.lat_b
        if g.rectilinear:
            x, y = _box_rings(x[:-1], x[1:], y[:-1, None], y[1:, None])
        x, y = x.reshape(4, self.n_cells), y.reshape(4, self.n_cells)
        x.setflags(write=False)
        y.setflags(write=False)
        return x, y


def grid_2d(
    spark: SparkSession,
    lon0_b: float,
    lon1_b: float,
    d_lon: float,
    lat0_b: float,
    lat1_b: float,
    d_lat: float,
    periodic: bool = False,
) -> Grid:
    """Rectilinear 2-D grid (xesmf/util.py:31-69) as a cell DataFrame.

    One ``spark.range`` over the flattened cells and ONE SQL projection
    with ``j = id div n_x`` and ``i = id % n_x``; each index goes
    through :func:`grid_1d`'s bound formula (:func:`_bounds_sql`), so
    the table equals the meshgrid of the two axes value for value, with
    no join. A single ``selectExpr`` is one call into the JVM, where
    building the same projection from Column operators costs one per
    operator.
    """
    n_x = _arange_n(lon0_b, lon1_b + d_lon, d_lon) - 1
    n_y = _arange_n(lat0_b, lat1_b + d_lat, d_lat) - 1
    j, i = f"(id div {n_x})", f"(id % {n_x})"
    lon_lo, lon_hi = _bounds_sql(i, lon0_b, d_lon)
    lat_lo, lat_hi = _bounds_sql(j, lat0_b, d_lat)
    cells = spark.range(n_y * n_x).selectExpr(
        "id AS cell_id",
        f"{j} AS j",
        f"{i} AS i",
        f"({lon_lo} + {lon_hi}) / 2.0D AS lon",
        f"({lat_lo} + {lat_hi}) / 2.0D AS lat",
        f"{lon_lo} AS lon_lo",
        f"{lon_hi} AS lon_hi",
        f"{lat_lo} AS lat_lo",
        f"{lat_hi} AS lat_hi",
    )
    lon, lon_b = _axis_geometry(lon0_b, d_lon, n_x)
    lat, lat_b = _axis_geometry(lat0_b, d_lat, n_y)
    return Grid(
        df=cells,
        shape=(n_y, n_x),
        periodic=periodic,
        has_bounds=True,
        geometry=Geometry(_copy(lon), _copy(lat), _copy(lon_b), _copy(lat_b)),
    )


def grid_global(spark: SparkSession, d_lon: float, d_lat: float, periodic: bool = False) -> Grid:
    """Global grid (xesmf/util.py:72-98) with divisibility warnings."""
    if not float(360 / d_lon).is_integer():
        warnings.warn(f"360 cannot be divided by d_lon = {d_lon}, so the grid will not cover the entire globe")
    if not float(180 / d_lat).is_integer():
        warnings.warn(f"180 cannot be divided by d_lat = {d_lat}, so the grid will not cover the entire globe")
    return grid_2d(spark, -180.0, 180.0, d_lon, -90.0, 90.0, d_lat, periodic=periodic)


def grid_from_arrays(
    spark: SparkSession,
    lon,
    lat,
    lon_b=None,
    lat_b=None,
    periodic: bool = False,
) -> Grid:
    """Rectilinear grid from plain 1-D coordinate arrays (+ optional
    bounds arrays of length n+1) — the ingestion analogue of the
    reference accepting plain dicts (xesmf/frontend.py:58-60,
    tests/test_frontend.py:105-113). Without bounds the grid supports
    bilinear/nearest but not conservative (which needs cell corners —
    same gate as the reference, frontend.py:165-167).
    """
    lon = [float(v) for v in lon]
    lat = [float(v) for v in lat]
    has_bounds = lon_b is not None and lat_b is not None
    if (lon_b is None) != (lat_b is None):
        raise ValueError("provide both lon_b and lat_b, or neither")

    def axis_rows(centers, bounds, idx_name):
        if bounds is not None:
            bounds = [float(v) for v in bounds]
            if len(bounds) != len(centers) + 1:
                raise ValueError(
                    f"{idx_name}-bounds must have len(centers)+1 entries "
                    f"(got {len(bounds)} for {len(centers)})"
                )
            return [
                (k, bounds[k], bounds[k + 1], centers[k]) for k in range(len(centers))
            ]
        return [(k, None, None, centers[k]) for k in range(len(centers))]

    schema = "{} bigint, lo double, hi double, c double"
    lon_ax = spark.createDataFrame(axis_rows(lon, lon_b, "lon"), schema.format("i"))
    lat_ax = spark.createDataFrame(axis_rows(lat, lat_b, "lat"), schema.format("j"))
    n_x, n_y = len(lon), len(lat)
    cells = (
        lat_ax.select(
            F.col("j"),
            F.col("lo").alias("lat_lo"),
            F.col("hi").alias("lat_hi"),
            F.col("c").alias("lat"),
        )
        .crossJoin(
            lon_ax.select(
                F.col("i"),
                F.col("lo").alias("lon_lo"),
                F.col("hi").alias("lon_hi"),
                F.col("c").alias("lon"),
            )
        )
        .select(
            (F.col("j") * F.lit(n_x) + F.col("i")).alias("cell_id"),
            "j",
            "i",
            "lon",
            "lat",
            "lon_lo",
            "lon_hi",
            "lat_lo",
            "lat_hi",
        )
    )
    return Grid(
        df=cells,
        shape=(n_y, n_x),
        periodic=periodic,
        has_bounds=has_bounds,
        geometry=Geometry(
            _copy(lon),
            _copy(lat),
            _copy(lon_b) if has_bounds else None,
            _copy(lat_b) if has_bounds else None,
        ),
    )


def grid_from_2d_arrays(
    spark: SparkSession, lon2d, lat2d, lon_b=None, lat_b=None, periodic: bool = False
) -> Grid:
    """CURVILINEAR grid from full 2-D lon/lat coordinate arrays (nested
    sequences or numpy), shape (n_y, n_x) — the reference's general
    2-D-mesh ingestion (xesmf/frontend.py:33-72 passes 2-D arrays to
    ESMF unchanged).

    ``lon_b``/``lat_b``: optional CORNER-NODE arrays of shape
    (n_y+1, n_x+1) — the reference's curvilinear bounds convention
    (xesmf/backend.py:101-114 ``add_corner``). With corners the grid
    supports conservative regridding (polygon clipping); each cell
    carries its 4-corner ring ``clon0..3 / clat0..3`` in node order
    (j,i) → (j,i+1) → (j+1,i+1) → (j+1,i). Without bounds: bilinear
    (point-in-quad) and nearest only, gated by the Regridder."""
    lon2d, lat2d = _copy(lon2d), _copy(lat2d)
    if lon2d.ndim != 2 or lon2d.shape != lat2d.shape:
        raise ValueError("lon2d and lat2d must be equal-shaped 2-D arrays")
    n_y, n_x = lon2d.shape
    has_corners = lon_b is not None and lat_b is not None
    if (lon_b is None) != (lat_b is None):
        raise ValueError("provide both lon_b and lat_b, or neither")
    if has_corners:
        lon_b = np.asarray(lon_b, dtype=np.float64)
        lat_b = np.asarray(lat_b, dtype=np.float64)
        if lon_b.shape != (n_y + 1, n_x + 1) or lat_b.shape != lon_b.shape:
            raise ValueError(
                "corner arrays lon_b/lat_b must have shape (n_y+1, n_x+1)"
            )
        lon_b, lat_b = node_ring(lon_b), node_ring(lat_b)
    geometry = Geometry(lon2d, lat2d, lon_b, lat_b)
    return Grid(
        df=_mesh_table(spark, geometry),
        shape=(n_y, n_x),
        periodic=periodic,
        has_bounds=has_corners,
        curvilinear=True,
        geometry=geometry,
    )


def locstream(spark: SparkSession, lons: list[float], lats: list[float]) -> Grid:
    """Point list ("LocStream", xesmf/frontend.py:75-102) as a Grid of
    shape (1, n) with no bounds — matches the reference's shape hack at
    frontend.py:102 (locstream treated as ``(1, n_locations)``).
    """
    if len(lons) != len(lats):
        raise ValueError("lon and lat must have the same length")
    geometry = Geometry(_copy([lons]), _copy([lats]))
    return Grid(
        df=_mesh_table(spark, geometry),
        shape=(1, len(lons)),
        periodic=False,
        has_bounds=False,
        geometry=geometry,
    )


def _mesh_table(spark: SparkSession, geometry: Geometry) -> DataFrame:
    """The cell table of a mesh-form :class:`Geometry`: ``cell_id, j, i,
    lon, lat``, the corner columns when it has rings, then NULL interval
    bounds. Assembled with numpy and sent to the JVM as ONE Arrow batch —
    no per-cell Python row list on the driver (a 1M-cell mesh would
    otherwise materialize millions of tuples here)."""
    import pandas as pd

    n_y, n_x = geometry.lon.shape
    cell_id = np.arange(n_y * n_x, dtype=np.int64)
    jj, ii = np.divmod(cell_id, n_x)
    cols = {
        "cell_id": cell_id,
        "j": jj,
        "i": ii,
        "lon": geometry.lon.ravel(),
        "lat": geometry.lat.ravel(),
    }
    if geometry.lon_b is not None:
        for k in range(4):
            cols[f"clon{k}"] = geometry.lon_b[k].ravel()
            cols[f"clat{k}"] = geometry.lat_b[k].ravel()
    schema = "cell_id bigint, j bigint, i bigint, " + ", ".join(f"{c} double" for c in list(cols)[3:])
    df = spark.createDataFrame(pd.DataFrame(cols), schema)
    return df.select("*", *(F.lit(None).cast("double").alias(c) for c in BOUND_COLS))


def wave_smooth(lon: Column | str = "lon", lat: Column | str = "lat") -> Column:
    """Analytic benchmark field ``2 + cos^2(lat) * cos(2*lon)`` in radians
    (xesmf/data.py:8-44; Jones 1999 / Ullrich 2009). Pure Column expr —
    JVM-side, whole-stage-codegen friendly; the golden-oracle generator.
    """
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    return (
        F.lit(2.0)
        + F.pow(F.cos(F.radians(lat_c)), F.lit(2.0)) * F.cos(F.lit(2.0) * F.radians(lon_c))
    )


def wrap_lon(c: Column) -> Column:
    """Longitude wrapped into [-180, 180) — pure Column arithmetic.
    ``wrap_lon(x - ref) + ref`` localizes ``x`` into the frame of
    ``ref`` (within ±180°), so a cell straddling the ±180° antimeridian
    stays CONTIGUOUS instead of exploding into a 360°-wide bbox. The
    seam-aware weight builders apply the same arithmetic in numpy
    (``weights.curvilinear._localize``)."""
    return c - F.lit(360.0) * F.floor((c + F.lit(180.0)) / F.lit(360.0))


_NO_CORNERS = (
    "conservative method requires cell corners: interval bounds "
    "(rectilinear) or corner arrays lon_b/lat_b (curvilinear)"
)


def cell_quads(g: Grid, prefix: str) -> DataFrame:
    """Per-cell corner ring as 8 columns ``{prefix}x0..3, {prefix}y0..3``
    (degrees, ring order) plus ``{prefix}id``. Rectilinear grids derive
    the ring from their interval bounds; curvilinear grids must carry
    ``CORNER_COLS`` (ingested corner nodes)."""
    p = prefix
    if all(c in g.df.columns for c in CORNER_COLS):
        ring = [(f"clon{k}", f"clat{k}") for k in range(4)]
    elif g.has_bounds:
        ring = [("lon_lo", "lat_lo"), ("lon_hi", "lat_lo"), ("lon_hi", "lat_hi"), ("lon_lo", "lat_hi")]
    else:
        raise KeyError(_NO_CORNERS)
    sel = [F.col("cell_id").alias(f"{p}id")]
    for k, (x, y) in enumerate(ring):
        sel.append(F.col(x).alias(f"{p}x{k}"))
        sel.append(F.col(y).alias(f"{p}y{k}"))
    return g.df.select(*sel)


def _table_geometry(grid: Grid) -> Geometry:
    """The mesh-form :class:`Geometry` of a Grid built by hand around a
    cell table: ONE collect of ``cell_id``, ``lon``, ``lat`` and, when
    the grid has bounds, its corner columns (or else its interval
    bounds), pivoted by ``cell_id``. Raises ValueError unless the ids
    are exactly ``0 .. n_cells-1``, each once."""
    corners = all(c in grid.df.columns for c in CORNER_COLS)
    cols = ["lon", "lat"]
    if grid.has_bounds:
        cols += CORNER_COLS if corners else BOUND_COLS
    pdf = grid.df.select("cell_id", *cols).toPandas()
    ids = pdf["cell_id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    if not np.array_equal(ids[order], np.arange(grid.n_cells)):
        raise ValueError(f"cell_id of a {grid.shape} grid must run 0..{grid.n_cells - 1}, each once")
    f = {c: pdf[c].to_numpy(np.float64)[order].reshape(grid.shape) for c in cols}
    if not grid.has_bounds:
        return Geometry(f["lon"], f["lat"])
    if corners:
        rings = (np.stack([f[f"c{ax}{k}"] for k in range(4)]) for ax in ("lon", "lat"))
    else:
        rings = _box_rings(*(f[c] for c in BOUND_COLS))
    return Geometry(f["lon"], f["lat"], *rings)


def count_degenerate_cells(grid: Grid) -> int:
    """Number of DEGENERATE cells — "triangles or lines, instead of
    quadrilaterals" (xesmf/frontend.py:148-150): a corner ring with
    fewer than 4 distinct nodes (at 12 decimals), or (near-)zero area in
    the equal-area map ``(radians(lon), sin(lat))`` the conservative
    builders measure in. Rectilinear grids are degenerate iff an
    interval bound collapses; grids without bounds have none."""
    return grid.facts.n_degenerate


def validate_lat_range(grid: Grid) -> None:
    """Warn if any |lat| > 90 (xesmf/backend.py:40-52 ``warn_lat_range``)."""
    if grid.facts.lat_out_of_range:
        warnings.warn("Latitude is out of range [-90, 90]. Results are likely wrong.")
