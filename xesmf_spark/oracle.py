"""DuckDB oracle-SQL generators mirroring the engine's weight queries.

The driver (see __spark_entry__.py) runs each Spark query side-by-side
with an ANSI-SQL equivalent in DuckDB and hash-compares values. These
builders emit SQL whose every arithmetic step matches the Spark
expressions in xesmf_spark.weights/* and xesmf_spark.apply — same
formulas, same join conditions, same tie-breaks — so results agree to
float round-off; both sides round doubles to 7 places to absorb the
~1-ulp libm-vs-JVM trig differences.

Grid CTEs generate the grids with ``range()`` (no external tables), so
regrid queries are fully self-contained and sf-independent.
"""

from __future__ import annotations

from xesmf_spark.grids import _arange_n

ROUND = 7


def axis_cte(name: str, idx: str, start: float, step: float, n: int) -> str:
    """1-D axis CTE: (idx, lo, hi, c) — mirrors grids.grid_1d."""
    return (
        f"{name} AS (SELECT k AS {idx}, "
        f"{start!r} + CAST(k AS DOUBLE) * {step!r} AS lo, "
        f"{start!r} + CAST(k + 1 AS DOUBLE) * {step!r} AS hi, "
        f"(({start!r} + CAST(k AS DOUBLE) * {step!r}) + ({start!r} + CAST(k + 1 AS DOUBLE) * {step!r})) / 2.0 AS c "
        f"FROM range({n}) t(k))"
    )


class GridSpec:
    """Rectilinear grid parameters shared by the Spark fixture builders
    and the SQL oracle (FIXTURES.md §2.1)."""

    def __init__(self, lon0, lon1, d_lon, lat0, lat1, d_lat):
        self.lon0, self.lon1, self.d_lon = float(lon0), float(lon1), float(d_lon)
        self.lat0, self.lat1, self.d_lat = float(lat0), float(lat1), float(d_lat)
        self.n_x = _arange_n(self.lon0, self.lon1 + self.d_lon, self.d_lon) - 1
        self.n_y = _arange_n(self.lat0, self.lat1 + self.d_lat, self.d_lat) - 1

    @property
    def shape(self):
        return (self.n_y, self.n_x)


G_IN = GridSpec(-180, 180, 20, -90, 90, 12)   # grid_global(20, 12): 15x18
G_OUT = GridSpec(-180, 180, 15, -90, 90, 9)   # grid_global(15, 9): 20x24

WAVE = "2.0 + POW(COS(RADIANS(lat)), 2.0) * COS(2.0 * RADIANS(lon))"


def grid_ctes(g: GridSpec, prefix: str) -> str:
    """Axis + cell CTEs for one grid: {prefix}_lat, {prefix}_lon,
    {prefix}_cells(cell_id, lon, lat)."""
    return ",\n".join(
        [
            axis_cte(f"{prefix}_lat", "j", g.lat0, g.d_lat, g.n_y),
            axis_cte(f"{prefix}_lon", "i", g.lon0, g.d_lon, g.n_x),
            f"{prefix}_cells AS (SELECT la.j * {g.n_x} + lo.i AS cell_id, lo.c AS lon, la.c AS lat, "
            f"lo.lo AS lon_lo, lo.hi AS lon_hi, la.lo AS lat_lo, la.hi AS lat_hi "
            f"FROM {prefix}_lat la CROSS JOIN {prefix}_lon lo)",
        ]
    )


def conservative_weights_ctes(src: GridSpec, dst: GridSpec) -> str:
    """CTE `w(row, col, S)` — mirrors weights/conservative.py."""
    return f"""
lat_ov AS (
  SELECT s.j AS sj, d.j AS dj,
         (LEAST(SIN(RADIANS(s.hi)), SIN(RADIANS(d.hi))) - GREATEST(SIN(RADIANS(s.lo)), SIN(RADIANS(d.lo))))
           / (SIN(RADIANS(d.hi)) - SIN(RADIANS(d.lo))) AS frac_lat
  FROM src_lat s JOIN dst_lat d ON SIN(RADIANS(s.lo)) < SIN(RADIANS(d.hi)) AND SIN(RADIANS(s.hi)) > SIN(RADIANS(d.lo))
),
lon_ov AS (
  SELECT s.i AS si, d.i AS di,
         (LEAST(s.hi, d.hi) - GREATEST(s.lo, d.lo)) / (d.hi - d.lo) AS frac_lon
  FROM src_lon s JOIN dst_lon d ON s.lo < d.hi AND s.hi > d.lo
),
w AS (
  SELECT dj * {dst.n_x} + di AS row, sj * {src.n_x} + si AS col, frac_lat * frac_lon AS S
  FROM lat_ov CROSS JOIN lon_ov
  WHERE frac_lat * frac_lon > 1e-12
)"""


def bilinear_weights_ctes(src: GridSpec, dst: GridSpec, periodic: bool) -> str:
    """CTE `w(row, col, S)` — mirrors weights/bilinear.py (incl. the
    ±360 periodic extension and the ALLAVG virtual-pole rows when
    periodic). The library brackets with numpy ``searchsorted``; the
    SQL re-derives the same brackets as a range join."""
    if periodic:
        lon_ext = (
            "SELECT i AS k, c FROM src_lon "
            "UNION ALL SELECT i AS k, c - 360.0 FROM src_lon "
            "UNION ALL SELECT i AS k, c + 360.0 FROM src_lon"
        )
    else:
        lon_ext = "SELECT i AS k, c FROM src_lon"

    interior = f"""
lon_ext AS ({lon_ext}),
lon_pairs AS (
  SELECT k AS k_lo, c AS c_lo, LEAD(k) OVER (ORDER BY c) AS k_hi, LEAD(c) OVER (ORDER BY c) AS c_hi
  FROM lon_ext QUALIFY k_hi IS NOT NULL
),
lon_brk AS (
  SELECT d.i AS di, d.c AS x, p.k_lo, p.c_lo, p.k_hi, p.c_hi
  FROM dst_lon d JOIN lon_pairs p ON d.c >= p.c_lo AND d.c <= p.c_hi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY d.i ORDER BY p.c_lo) = 1
),
lon_w AS (
  SELECT di, k_lo AS si, 1.0 - (x - c_lo) / (c_hi - c_lo) AS w_lon FROM lon_brk
  UNION ALL SELECT di, k_hi, (x - c_lo) / (c_hi - c_lo) FROM lon_brk
),
lat_pairs AS (
  SELECT j AS k_lo, c AS c_lo, LEAD(j) OVER (ORDER BY c) AS k_hi, LEAD(c) OVER (ORDER BY c) AS c_hi
  FROM src_lat QUALIFY k_hi IS NOT NULL
),
lat_brk AS (
  SELECT d.j AS dj, d.c AS x, p.k_lo, p.c_lo, p.k_hi, p.c_hi
  FROM dst_lat d JOIN lat_pairs p ON d.c >= p.c_lo AND d.c <= p.c_hi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY d.j ORDER BY p.c_lo) = 1
),
lat_w AS (
  SELECT dj, k_lo AS sj, 1.0 - (x - c_lo) / (c_hi - c_lo) AS w_lat FROM lat_brk
  UNION ALL SELECT dj, k_hi, (x - c_lo) / (c_hi - c_lo) FROM lat_brk
)"""
    if not periodic:
        return interior + f""",
w AS (
  SELECT dj * {dst.n_x} + di AS row, sj * {src.n_x} + si AS col, w_lat * w_lon AS S
  FROM lat_w CROSS JOIN lon_w WHERE w_lat * w_lon > 0.0
)"""
    # periodic: add ALLAVG pole rows (the numpy
    # weights/bilinear.py::_pole_brackets as SQL)
    return interior + f""",
lat_ext AS (
  SELECT MAX(c) AS c_top, MIN(c) AS c_bot, ARG_MAX(j, c) AS k_top, ARG_MIN(j, c) AS k_bot FROM src_lat
),
pole_w AS (
  SELECT d.j AS dj, e.k_top AS sj, 1.0 - (d.c - e.c_top) / (90.0 - e.c_top) AS w_lat
    FROM dst_lat d, lat_ext e WHERE d.c > e.c_top
  UNION ALL
  SELECT d.j, {src.n_y}, (d.c - e.c_top) / (90.0 - e.c_top)
    FROM dst_lat d, lat_ext e WHERE d.c > e.c_top
  UNION ALL
  SELECT d.j, e.k_bot, 1.0 - (e.c_bot - d.c) / (e.c_bot - (-90.0))
    FROM dst_lat d, lat_ext e WHERE d.c < e.c_bot
  UNION ALL
  SELECT d.j, -1, (e.c_bot - d.c) / (e.c_bot - (-90.0))
    FROM dst_lat d, lat_ext e WHERE d.c < e.c_bot
),
pole_w_nz AS (SELECT * FROM pole_w WHERE w_lat > 0.0),
lat_all AS (
  SELECT * FROM lat_w
  UNION ALL SELECT dj, sj, w_lat FROM pole_w_nz WHERE sj >= 0 AND sj < {src.n_y}
),
w_interior AS (
  SELECT dj * {dst.n_x} + di AS row, sj * {src.n_x} + si AS col, w_lat * w_lon AS S
  FROM lat_all CROSS JOIN lon_w WHERE w_lat * w_lon > 0.0
),
w_pole AS (
  SELECT p.dj * {dst.n_x} + d.i AS row,
         (CASE WHEN p.sj < 0 THEN 0 ELSE {src.n_y - 1} END) * {src.n_x} + s.i AS col,
         p.w_lat / {float(src.n_x)!r} AS S
  FROM (SELECT * FROM pole_w_nz WHERE sj < 0 OR sj >= {src.n_y}) p
  CROSS JOIN dst_lon d CROSS JOIN src_lon s
),
w AS (
  SELECT * FROM w_interior
  UNION ALL SELECT * FROM w_pole
)"""


def _axis_patch_ctes(prefix: str, axis: str, idx: str, dst_idx: str, periodic: bool) -> str:
    """Per-axis patch-weight CTEs re-deriving in SQL what the numpy
    weights/patch.py::_axis_patch computes on the driver:
    3-point corner stencils (edge-shifted) + bracketing + Lagrange
    quadratic evaluation + corner blend, summed per source index.
    Emits ``{prefix}_w({dst_idx}, s{idx}, w_{prefix})``."""
    if periodic:
        ext = (
            f"SELECT {idx} AS k, c FROM src_{axis} "
            f"UNION ALL SELECT {idx} AS k, c - 360.0 FROM src_{axis} "
            f"UNION ALL SELECT {idx} AS k, c + 360.0 FROM src_{axis}"
        )
    else:
        ext = f"SELECT {idx} AS k, c FROM src_{axis}"
    p = prefix
    return f"""
{p}_ext AS ({ext}),
{p}_stn AS (
  SELECT k, c,
    CASE WHEN km1 IS NULL THEN k  WHEN kp1 IS NULL THEN km2 ELSE km1 END AS ka,
    CASE WHEN km1 IS NULL THEN c  WHEN kp1 IS NULL THEN cm2 ELSE cm1 END AS ca,
    CASE WHEN km1 IS NULL THEN kp1 WHEN kp1 IS NULL THEN km1 ELSE k  END AS kb,
    CASE WHEN km1 IS NULL THEN cp1 WHEN kp1 IS NULL THEN cm1 ELSE c  END AS cb,
    CASE WHEN km1 IS NULL THEN kp2 WHEN kp1 IS NULL THEN k   ELSE kp1 END AS kc,
    CASE WHEN km1 IS NULL THEN cp2 WHEN kp1 IS NULL THEN c   ELSE cp1 END AS cc
  FROM (
    SELECT k, c,
      LAG(k, 1) OVER (ORDER BY c) AS km1, LAG(c, 1) OVER (ORDER BY c) AS cm1,
      LAG(k, 2) OVER (ORDER BY c) AS km2, LAG(c, 2) OVER (ORDER BY c) AS cm2,
      LEAD(k, 1) OVER (ORDER BY c) AS kp1, LEAD(c, 1) OVER (ORDER BY c) AS cp1,
      LEAD(k, 2) OVER (ORDER BY c) AS kp2, LEAD(c, 2) OVER (ORDER BY c) AS cp2
    FROM {p}_ext
  )
),
{p}_pairs AS (
  SELECT k AS k_lo, c AS c_lo, LEAD(k) OVER (ORDER BY c) AS k_hi, LEAD(c) OVER (ORDER BY c) AS c_hi
  FROM {p}_ext QUALIFY k_hi IS NOT NULL
),
{p}_brk AS (
  SELECT d.{idx} AS {dst_idx}, d.c AS x, q.k_lo, q.c_lo, q.k_hi, q.c_hi
  FROM dst_{axis} d JOIN {p}_pairs q ON d.c >= q.c_lo AND d.c <= q.c_hi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY d.{idx} ORDER BY q.c_lo) = 1
),
{p}_corner AS (
  SELECT {dst_idx}, x, k_lo AS ck, c_lo AS cco, 1.0 - (x - c_lo) / (c_hi - c_lo) AS b FROM {p}_brk
  UNION ALL
  SELECT {dst_idx}, x, k_hi, c_hi, (x - c_lo) / (c_hi - c_lo) FROM {p}_brk
),
{p}_lag AS (
  SELECT {dst_idx}, st.ka AS k,
         b * ((x - st.cb) * (x - st.cc)) / ((st.ca - st.cb) * (st.ca - st.cc)) AS w
  FROM {p}_corner jc JOIN {p}_stn st ON jc.ck = st.k AND jc.cco = st.c
  UNION ALL
  SELECT {dst_idx}, st.kb,
         b * ((x - st.ca) * (x - st.cc)) / ((st.cb - st.ca) * (st.cb - st.cc))
  FROM {p}_corner jc JOIN {p}_stn st ON jc.ck = st.k AND jc.cco = st.c
  UNION ALL
  SELECT {dst_idx}, st.kc,
         b * ((x - st.ca) * (x - st.cb)) / ((st.cc - st.ca) * (st.cc - st.cb))
  FROM {p}_corner jc JOIN {p}_stn st ON jc.ck = st.k AND jc.cco = st.c
),
{p}_w AS (
  SELECT {dst_idx}, k AS s{idx}, SUM(w) AS w_{p}
  FROM {p}_lag GROUP BY {dst_idx}, k HAVING SUM(w) <> 0.0
)"""


def patch_weights_ctes(src: GridSpec, dst: GridSpec, periodic: bool) -> str:
    """CTE `w(row, col, S)` — mirrors weights/patch.py (tensor product
    of per-axis Lagrange patch weights; ALLAVG virtual-pole rows when
    periodic, identical to the bilinear pole treatment)."""
    axes = (
        _axis_patch_ctes("plon", "lon", "i", "di", periodic)
        + ","
        + _axis_patch_ctes("plat", "lat", "j", "dj", False)
    )
    if not periodic:
        return axes + f""",
w AS (
  SELECT dj * {dst.n_x} + di AS row, sj * {src.n_x} + si AS col, w_plat * w_plon AS S
  FROM plat_w CROSS JOIN plon_w
)"""
    return axes + f""",
lat_ext_mm AS (
  SELECT MAX(c) AS c_top, MIN(c) AS c_bot, ARG_MAX(j, c) AS k_top, ARG_MIN(j, c) AS k_bot FROM src_lat
),
pole_w AS (
  SELECT d.j AS dj, e.k_top AS sj, 1.0 - (d.c - e.c_top) / (90.0 - e.c_top) AS w_plat
    FROM dst_lat d, lat_ext_mm e WHERE d.c > e.c_top
  UNION ALL
  SELECT d.j, {src.n_y}, (d.c - e.c_top) / (90.0 - e.c_top)
    FROM dst_lat d, lat_ext_mm e WHERE d.c > e.c_top
  UNION ALL
  SELECT d.j, e.k_bot, 1.0 - (e.c_bot - d.c) / (e.c_bot - (-90.0))
    FROM dst_lat d, lat_ext_mm e WHERE d.c < e.c_bot
  UNION ALL
  SELECT d.j, -1, (e.c_bot - d.c) / (e.c_bot - (-90.0))
    FROM dst_lat d, lat_ext_mm e WHERE d.c < e.c_bot
),
pole_w_nz AS (SELECT * FROM pole_w WHERE w_plat > 0.0),
lat_all AS (
  SELECT * FROM plat_w
  UNION ALL SELECT dj, sj, w_plat FROM pole_w_nz WHERE sj >= 0 AND sj < {src.n_y}
),
w_interior AS (
  SELECT dj * {dst.n_x} + di AS row, sj * {src.n_x} + si AS col, w_plat * w_plon AS S
  FROM lat_all CROSS JOIN plon_w
),
w_pole AS (
  SELECT p.dj * {dst.n_x} + d.i AS row,
         (CASE WHEN p.sj < 0 THEN 0 ELSE {src.n_y - 1} END) * {src.n_x} + s.i AS col,
         p.w_plat / {float(src.n_x)!r} AS S
  FROM (SELECT * FROM pole_w_nz WHERE sj < 0 OR sj >= {src.n_y}) p
  CROSS JOIN dst_lon d CROSS JOIN src_lon s
),
w AS (
  SELECT * FROM w_interior
  UNION ALL SELECT * FROM w_pole
)"""


#: squared chord distance in the engine's EXPANDED trig form (see
#: weights/nearest.py::_keys) — same op order, so doubles agree
_D2_EXPANDED = (
    "2.0 - 2.0 * (COS(RADIANS(n.lat)) * COS(RADIANS(p.lat))"
    " * (COS(RADIANS(n.lon)) * COS(RADIANS(p.lon)) + SIN(RADIANS(n.lon)) * SIN(RADIANS(p.lon)))"
    " + SIN(RADIANS(n.lat)) * SIN(RADIANS(p.lat)))"
)


def nearest_weights_ctes(src: GridSpec, dst: GridSpec, direction: str) -> str:
    """CTE `w(row, col, S)` — mirrors weights/nearest.py (expanded chord
    distance, quantized tie-break then candidate id)."""
    d2 = _D2_EXPANDED
    if direction == "s2d":
        need, pool, row, col = "dst_cells", "src_cells", "n.cell_id", "p.cell_id"
    else:
        need, pool, row, col = "src_cells", "dst_cells", "p.cell_id", "n.cell_id"
    return f"""
w AS (
  SELECT {row} AS row, {col} AS col, 1.0 AS S
  FROM {need} n CROSS JOIN {pool} p
  QUALIFY ROW_NUMBER() OVER (PARTITION BY n.cell_id
    ORDER BY CAST(ROUND(({d2}) * 1000000000.0) AS BIGINT) ASC, p.cell_id ASC) = 1
)"""


def knn_topk_oracle_sql(k: int = 3, src: GridSpec = G_IN, dst: GridSpec = G_OUT) -> str:
    """Oracle for the generic k-NN join (dst cells -> k nearest src
    cells): quantized chord-distance ordering identical to the engine's
    primitive argmin/rank encoding."""
    d2 = _D2_EXPANDED
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')}
SELECT left_id, right_id, rank, CAST(qd AS DOUBLE) / 1000000000.0 AS dist2 FROM (
  SELECT n.cell_id AS left_id, p.cell_id AS right_id,
         CAST(ROUND(({d2}) * 1000000000.0) AS BIGINT) AS qd,
         ROW_NUMBER() OVER (PARTITION BY n.cell_id
           ORDER BY CAST(ROUND(({d2}) * 1000000000.0) AS BIGINT) ASC, p.cell_id ASC) AS rank
  FROM dst_cells n CROSS JOIN src_cells p
) WHERE rank <= {k}
"""


def regrid_oracle_sql(method: str, periodic: bool = False,
                      src: GridSpec = G_IN, dst: GridSpec = G_OUT) -> str:
    """Full oracle query: grids → weights → wave_smooth field → apply
    with LEFT-join + coalesce(0) unmapped semantics → rounded output
    (cell_id, lon, lat, value)."""
    if method == "conservative":
        wcte = conservative_weights_ctes(src, dst)
    elif method == "bilinear":
        wcte = bilinear_weights_ctes(src, dst, periodic)
    elif method in ("nearest_s2d", "nearest_d2s"):
        wcte = nearest_weights_ctes(src, dst, method[-3:])
    elif method == "patch":
        wcte = patch_weights_ctes(src, dst, periodic)
    else:
        raise ValueError(method)
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')},
{wcte},
field AS (SELECT cell_id, {WAVE} AS value FROM src_cells),
agg AS (
  SELECT w.row, SUM(w.S * f.value) AS v
  FROM w JOIN field f ON w.col = f.cell_id
  GROUP BY w.row
)
SELECT d.cell_id,
       ROUND(d.lon, {ROUND}) AS lon,
       ROUND(d.lat, {ROUND}) AS lat,
       ROUND(COALESCE(a.v, 0.0), {ROUND}) AS value
FROM dst_cells d LEFT JOIN agg a ON d.cell_id = a.row
"""


def bilinear_locstream_oracle_sql(n_pts: int = 49, src: GridSpec = G_IN) -> str:
    """Oracle for bilinear -> POINT destination (locstream): per-point
    lon/lat brackets joined on the point id — mirrors the per-point
    path of weights/bilinear.py (``_point_weights``, incl. periodic wrap
    + ALLAVG virtual-pole rows). Point set is a deterministic arithmetic
    sequence so both engines compute bit-identical coordinates."""
    dlat = repr(176.0 / 48.0)
    return f"""
WITH
{grid_ctes(src, 'src')},
pts AS (
  SELECT k AS pid,
         -180.0 + CAST(k AS DOUBLE) * 7.25 AS lon,
         -88.0 + CAST(k AS DOUBLE) * {dlat} AS lat
  FROM range({n_pts}) t(k)
),
lon_ext AS (
  SELECT i AS k, c FROM src_lon
  UNION ALL SELECT i AS k, c - 360.0 FROM src_lon
  UNION ALL SELECT i AS k, c + 360.0 FROM src_lon
),
lon_pairs AS (
  SELECT k AS k_lo, c AS c_lo, LEAD(k) OVER (ORDER BY c) AS k_hi, LEAD(c) OVER (ORDER BY c) AS c_hi
  FROM lon_ext QUALIFY k_hi IS NOT NULL
),
plon AS (
  SELECT p.pid, p.lon AS x, q.k_lo, q.c_lo, q.k_hi, q.c_hi
  FROM pts p JOIN lon_pairs q ON p.lon >= q.c_lo AND p.lon <= q.c_hi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY q.c_lo) = 1
),
lon_w AS (
  SELECT pid, k_lo AS si, 1.0 - (x - c_lo) / (c_hi - c_lo) AS w_lon FROM plon
  UNION ALL SELECT pid, k_hi, (x - c_lo) / (c_hi - c_lo) FROM plon
),
lon_w_nz AS (SELECT * FROM lon_w WHERE w_lon > 0.0),
lat_pairs AS (
  SELECT j AS k_lo, c AS c_lo, LEAD(j) OVER (ORDER BY c) AS k_hi, LEAD(c) OVER (ORDER BY c) AS c_hi
  FROM src_lat QUALIFY k_hi IS NOT NULL
),
plat AS (
  SELECT p.pid, p.lat AS x, q.k_lo, q.c_lo, q.k_hi, q.c_hi
  FROM pts p JOIN lat_pairs q ON p.lat >= q.c_lo AND p.lat <= q.c_hi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY q.c_lo) = 1
),
lat_w AS (
  SELECT pid, k_lo AS sj, 1.0 - (x - c_lo) / (c_hi - c_lo) AS w_lat FROM plat
  UNION ALL SELECT pid, k_hi, (x - c_lo) / (c_hi - c_lo) FROM plat
),
lat_w_nz AS (SELECT * FROM lat_w WHERE w_lat > 0.0),
lat_ext AS (
  SELECT MAX(c) AS c_top, MIN(c) AS c_bot, ARG_MAX(j, c) AS k_top, ARG_MIN(j, c) AS k_bot FROM src_lat
),
pole_w AS (
  SELECT p.pid, e.k_top AS sj, 1.0 - (p.lat - e.c_top) / (90.0 - e.c_top) AS w_lat
    FROM pts p, lat_ext e WHERE p.lat > e.c_top
  UNION ALL
  SELECT p.pid, {src.n_y}, (p.lat - e.c_top) / (90.0 - e.c_top)
    FROM pts p, lat_ext e WHERE p.lat > e.c_top
  UNION ALL
  SELECT p.pid, e.k_bot, 1.0 - (e.c_bot - p.lat) / (e.c_bot - (-90.0))
    FROM pts p, lat_ext e WHERE p.lat < e.c_bot
  UNION ALL
  SELECT p.pid, -1, (e.c_bot - p.lat) / (e.c_bot - (-90.0))
    FROM pts p, lat_ext e WHERE p.lat < e.c_bot
),
pole_w_nz AS (SELECT * FROM pole_w WHERE w_lat > 0.0),
lat_all AS (
  SELECT * FROM lat_w_nz
  UNION ALL SELECT pid, sj, w_lat FROM pole_w_nz WHERE sj >= 0 AND sj < {src.n_y}
),
w_interior AS (
  SELECT la.pid AS row, la.sj * {src.n_x} + lo.si AS col, la.w_lat * lo.w_lon AS S
  FROM lat_all la JOIN lon_w_nz lo ON la.pid = lo.pid
),
w_pole AS (
  SELECT p.pid AS row,
         (CASE WHEN p.sj < 0 THEN 0 ELSE {src.n_y - 1} END) * {src.n_x} + s.i AS col,
         p.w_lat / {float(src.n_x)!r} AS S
  FROM (SELECT * FROM pole_w_nz WHERE sj < 0 OR sj >= {src.n_y}) p
  CROSS JOIN src_lon s
),
w AS (SELECT * FROM w_interior UNION ALL SELECT * FROM w_pole),
field AS (SELECT cell_id, {WAVE} AS value FROM src_cells),
agg AS (
  SELECT w.row, SUM(w.S * f.value) AS v
  FROM w JOIN field f ON w.col = f.cell_id
  GROUP BY w.row
)
SELECT p.pid AS cell_id,
       ROUND(p.lon, {ROUND}) AS lon,
       ROUND(p.lat, {ROUND}) AS lat,
       ROUND(COALESCE(a.v, 0.0), {ROUND}) AS value
FROM pts p LEFT JOIN agg a ON p.pid = a.row
"""


def bilinear_curvilinear_oracle_sql(n_y: int = 20, n_x: int = 30, n_pts: int = 64) -> str:
    """Oracle for bilinear over a CURVILINEAR mesh: the sheared mesh is
    pure arithmetic (bit-identical across engines); point-in-quad cross
    products, the inverse-bilinear quadratic, branch selections and
    clamps mirror weights/curvilinear.py operation-for-operation. The
    candidate set here is the plain cross join — the engine's bin index
    is an optimization that never drops a containing quad."""
    return f"""
WITH
mesh AS (
  SELECT j, i,
         -30.0 + 60.0 * CAST(i AS DOUBLE) / {float(n_x - 1)!r} AS x,
         -20.0 + 40.0 * CAST(j AS DOUBLE) / {float(n_y - 1)!r} AS y
  FROM range({n_y}) t(j) CROSS JOIN range({n_x}) s(i)
),
src_cells AS (
  SELECT j * {n_x} + i AS cell_id, j, i,
         x + 0.25 * y + 0.004 * x * y AS lon,
         y + 0.15 * x - 0.003 * x * y AS lat
  FROM mesh
),
pts AS (
  SELECT k AS pid,
         -18.0 + CAST(k % 8 AS DOUBLE) * 5.0 + CAST(k // 8 AS DOUBLE) * 0.37 AS px,
         -13.0 + CAST(k // 8 AS DOUBLE) * 3.5 + CAST(k % 8 AS DOUBLE) * 0.21 AS py
  FROM range({n_pts}) t(k)
),
quads AS (
  SELECT a.j, a.i,
         a.cell_id AS id00, a.lon AS x00, a.lat AS y00,
         b.cell_id AS id10, b.lon AS x10, b.lat AS y10,
         c.cell_id AS id01, c.lon AS x01, c.lat AS y01,
         d.cell_id AS id11, d.lon AS x11, d.lat AS y11
  FROM src_cells a
  JOIN src_cells b ON b.j = a.j AND b.i = a.i + 1
  JOIN src_cells c ON c.j = a.j + 1 AND c.i = a.i
  JOIN src_cells d ON d.j = a.j + 1 AND d.i = a.i + 1
),
hits AS (
  SELECT * FROM (
    SELECT p.pid, p.px, p.py, q.*,
           ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY q.j, q.i) AS _rk
    FROM pts p CROSS JOIN quads q
    WHERE (
      ((q.x10 - q.x00) * (p.py - q.y00) - (q.y10 - q.y00) * (p.px - q.x00) >= 0 AND
       (q.x11 - q.x10) * (p.py - q.y10) - (q.y11 - q.y10) * (p.px - q.x10) >= 0 AND
       (q.x01 - q.x11) * (p.py - q.y11) - (q.y01 - q.y11) * (p.px - q.x11) >= 0 AND
       (q.x00 - q.x01) * (p.py - q.y01) - (q.y00 - q.y01) * (p.px - q.x01) >= 0)
      OR
      ((q.x10 - q.x00) * (p.py - q.y00) - (q.y10 - q.y00) * (p.px - q.x00) <= 0 AND
       (q.x11 - q.x10) * (p.py - q.y10) - (q.y11 - q.y10) * (p.px - q.x10) <= 0 AND
       (q.x01 - q.x11) * (p.py - q.y11) - (q.y01 - q.y11) * (p.px - q.x11) <= 0 AND
       (q.x00 - q.x01) * (p.py - q.y01) - (q.y00 - q.y01) * (p.px - q.x01) <= 0)
    )
  ) WHERE _rk = 1
),
solved AS (
  SELECT pid, id00, id10, id01, id11,
         LEAST(GREATEST(CASE WHEN ABS(den_x) >= ABS(den_y)
                             THEN (qx - cx * v0) / den_x
                             ELSE (qy - cy * v0) / den_y END, 0.0), 1.0) AS u,
         LEAST(GREATEST(v0, 0.0), 1.0) AS v
  FROM (
    SELECT *,
           bx + dx * v0 AS den_x,
           by + dy * v0 AS den_y
    FROM (
      SELECT *,
             CASE WHEN ABS(aa) < 1e-12 THEN -1.0 * cc / bb
                  ELSE CASE WHEN ((-1.0 * bb + sq) / (2.0 * aa)) >= -1e-9
                             AND ((-1.0 * bb + sq) / (2.0 * aa)) <= 1.0 + 1e-9
                            THEN (-1.0 * bb + sq) / (2.0 * aa)
                            ELSE (-1.0 * bb - sq) / (2.0 * aa) END
             END AS v0
      FROM (
        SELECT *,
               SQRT(GREATEST(bb * bb - 4.0 * aa * cc, 0.0)) AS sq
        FROM (
          SELECT pid, id00, id10, id01, id11, bx, by, cx, cy, dx, dy, qx, qy,
                 cy * dx - cx * dy AS aa,
                 qx * dy - qy * dx + bx * cy - by * cx AS bb,
                 qx * by - qy * bx AS cc
          FROM (
            SELECT pid, id00, id10, id01, id11,
                   x10 - x00 AS bx, y10 - y00 AS by,
                   x01 - x00 AS cx, y01 - y00 AS cy,
                   x11 - x10 - x01 + x00 AS dx,
                   y11 - y10 - y01 + y00 AS dy,
                   px - x00 AS qx, py - y00 AS qy
            FROM hits
          )
        )
      )
    )
  )
),
w AS (
  SELECT pid AS row, id00 AS col, (1.0 - u) * (1.0 - v) AS S FROM solved
  UNION ALL SELECT pid, id10, u * (1.0 - v) FROM solved
  UNION ALL SELECT pid, id01, (1.0 - u) * v FROM solved
  UNION ALL SELECT pid, id11, u * v FROM solved
),
w_nz AS (SELECT * FROM w WHERE S > 0.0),
field AS (SELECT cell_id, {WAVE} AS value FROM src_cells),
agg AS (
  SELECT w_nz.row, SUM(w_nz.S * f.value) AS v
  FROM w_nz JOIN field f ON w_nz.col = f.cell_id
  GROUP BY w_nz.row
)
SELECT p.pid AS cell_id,
       ROUND(p.px, {ROUND}) AS lon,
       ROUND(p.py, {ROUND}) AS lat,
       ROUND(COALESCE(a.v, 0.0), {ROUND}) AS value
FROM pts p LEFT JOIN agg a ON p.pid = a.row
"""


def regrid_multivar_oracle_sql() -> str:
    """Dataset multi-variable oracle: two value columns through one
    shared join (engine: apply.py value_cols)."""
    src, dst = G_IN, G_OUT
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')},
{conservative_weights_ctes(src, dst)},
field AS (
  SELECT cell_id, {WAVE} AS va, ({WAVE}) * lat AS vb FROM src_cells
),
agg AS (
  SELECT w.row, SUM(w.S * f.va) AS va, SUM(w.S * f.vb) AS vb
  FROM w JOIN field f ON w.col = f.cell_id
  GROUP BY w.row
)
SELECT d.cell_id,
       ROUND(COALESCE(a.va, 0.0), {ROUND}) AS va,
       ROUND(COALESCE(a.vb, 0.0), {ROUND}) AS vb
FROM dst_cells d LEFT JOIN agg a ON d.cell_id = a.row
"""


def regrid_4d_oracle_sql(n_time: int = 3, n_lev: int = 2) -> str:
    """Conservative 4-D broadcast oracle: data4D = time*lev*wave."""
    src, dst = G_IN, G_OUT
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')},
{conservative_weights_ctes(src, dst)},
times AS (SELECT k + 1 AS time FROM range({n_time}) t(k)),
levs AS (SELECT k + 1 AS lev FROM range({n_lev}) t(k)),
field AS (
  SELECT time, lev, cell_id,
         CAST(time AS DOUBLE) * CAST(lev AS DOUBLE) * ({WAVE}) AS value
  FROM src_cells CROSS JOIN times CROSS JOIN levs
),
agg AS (
  SELECT f.time, f.lev, w.row, SUM(w.S * f.value) AS v
  FROM w JOIN field f ON w.col = f.cell_id
  GROUP BY f.time, f.lev, w.row
)
SELECT d.cell_id, t.time, l.lev, ROUND(COALESCE(a.v, 0.0), {ROUND}) AS value
FROM dst_cells d CROSS JOIN times t CROSS JOIN levs l
LEFT JOIN agg a ON d.cell_id = a.row AND a.time = t.time AND a.lev = l.lev
"""


def patch_curvilinear_oracle_sql(n_pts: int = 64) -> str:
    """Identity oracle for curvilinear patch recovery: the method's
    defining contract is EXACT reproduction of quadratic fields
    (weights/patch_curvilinear.py, pytest-verified to ~1e-11), so the
    oracle evaluates the query's quadratic analytically at the
    deterministic destination points — a full value check at reduced
    rounding (engine vs analytic differ only by LS round-off)."""
    return f"""
WITH pts AS (
  SELECT k AS cell_id,
         -18.0 + CAST(k % 8 AS DOUBLE) * 5.0 + CAST(k // 8 AS DOUBLE) * 0.37 AS px,
         -13.0 + CAST(k // 8 AS DOUBLE) * 3.5 + CAST(k % 8 AS DOUBLE) * 0.21 AS py
  FROM range({n_pts}) t(k)
)
SELECT cell_id,
       ROUND(px, 5) AS lon,
       ROUND(py, 5) AS lat,
       ROUND(1.5 + 0.3 * px - 0.2 * py + 0.01 * px * px
             - 0.015 * px * py + 0.02 * py * py, 5) AS value
FROM pts
"""


def stream_regrid_oracle_sql(src: GridSpec = G_IN, dst: GridSpec = G_OUT) -> str:
    """Oracle for the STREAMING weight application: the finite stream
    (3 hourly slices of (hour+1) x wave_smooth, sentinel-flushed) must
    equal the batch join-agg per window — weights from the same
    interval-overlap CTEs as regrid_conservative, aggregated per hour.
    Window starts are the UTC hour floors of base = 1_700_000_000
    (base mod 3600 = 800 -> first window start 1_699_999_200)."""
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')},
{conservative_weights_ctes(src, dst)},
hours AS (SELECT CAST(h AS BIGINT) AS h FROM range(3) t(h)),
field AS (
  SELECT h, cell_id, CAST(h + 1 AS DOUBLE) * ({WAVE}) AS value
  FROM src_cells CROSS JOIN hours
),
agg AS (
  SELECT f.h, w.row, SUM(w.S * f.value) AS v
  FROM w JOIN field f ON w.col = f.cell_id
  GROUP BY f.h, w.row
)
SELECT 1699999200 + h * 3600 AS ws, row, ROUND(v, {ROUND}) AS value FROM agg
"""


def unmapped_cells_oracle_sql(src: GridSpec = G_IN, dst: GridSpec = G_OUT) -> str:
    """Oracle for the unmapped-cell diagnostic: destination cells with
    NO weight rows under non-periodic bilinear (the strip beyond the
    last source column that unmapped_action=IGNORE silently zero-fills
    — the reference asserts rel-err exactly 1.0 there,
    tests/test_frontend.py:116-127). An ANTI join against the weight
    rows on both engines."""
    return f"""
WITH
{grid_ctes(src, 'src')},
{grid_ctes(dst, 'dst')},
{bilinear_weights_ctes(src, dst, periodic=False)}
SELECT d.cell_id, ROUND(d.lon, {ROUND}) AS lon, ROUND(d.lat, {ROUND}) AS lat
FROM dst_cells d
WHERE d.cell_id NOT IN (SELECT row FROM w)
"""
