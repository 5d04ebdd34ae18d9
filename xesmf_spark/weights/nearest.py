"""Nearest-neighbor regridding weights + generic k-NN join (SURVEY.md §2B-2).

Reference: ``method='nearest_s2d'`` / ``'nearest_d2s'``
(xesmf/backend.py:244-245).

- ``nearest_s2d``: each DESTINATION point takes the value of its nearest
  source point (S=1, one triplet per dest cell).
- ``nearest_d2s``: each SOURCE point is assigned to its nearest
  destination; weights ACCUMULATE (the pile-up behavior shown in
  doc/notebooks/Compare_algorithms.ipynb cells 16, 20) — so a dest cell
  receiving k sources sums k values.

Distance is 3-D chord distance on the unit sphere (the reference's math
"happens in 3-D Cartesian", xesmf/backend.py:44-45) — monotone in
great-circle distance and naturally periodic in longitude. Neighbors
rank by the key ``(round(d2 * 1e9), id)``: the squared chord distance
in the expanded form
``2 - 2*(cos φn cos φp (cos λn cos λp + sin λn sin λp) + sin φn sin φp)``,
rounded half-up on the 1e-9 grid, then the point id. The DuckDB oracle
(``oracle.nearest_weights_ctes``, ``knn_topk_oracle_sql``) evaluates the
same expression in the same operation order, so geometric ties break on
the id in both.

Search: the pool's unit-sphere xyz go into a grid of cubic voxels of
side ``h``, sized from the pool's own spread (about two point spacings,
whatever share of the globe the pool covers). Chord distance is
Euclidean in R³, so the index has no lon wrap, seam or pole case. Each
needle gathers the pool points in the cube of voxels of Chebyshev
radius r around its own voxel; r starts where the cube first reaches
the pool's voxels and doubles. A point outside that cube is more than
``r·h`` away along some axis, so its key is at least ``(r·h)²·1e9``
less half a quantum (plus fp dust). Once the needle's k-th key is below
``(r·h)²·1e9 - 1`` — one quantum of margin, since a point just past the
bound can round to the k-th key and win on its id — or the cube covers
the whole pool, its top k is exact. After a cube that found k points,
the next one visits only the voxels inside the ball that holds every
key up to the k-th found, so a needle far from a compact pool does not
gather all of it.

Scale premise: both point sets already sit on the driver (``Grid.mesh``
of every constructor grid), and the triplet count is one grid's cell
count (k per needle for the k-NN join). So the search runs in numpy in
the driver process — no Spark job, worker, pool or thread — and the
result enters Spark as one local relation (``createDataFrame``). A
numpy pass holds at most ``_PAIRS`` cube columns and candidate pairs
(a pass of a single needle may exceed it; that is at most the pool).

Output schemas, every column nullable as a DDL schema string declares
it (no value is ever null): ``row long, col long, S double`` for the
weights, ``left_id long, right_id long, rank int, dist2 double`` for the
k-NN join.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xesmf_spark.grids import Grid
from xesmf_spark.weights.curvilinear import _round_half_up, _runs

#: candidate pairs (and cube columns) one numpy pass may hold
_PAIRS = 1 << 18


class _Pool(NamedTuple):
    """Pool points sorted by voxel key ``(i * m + j) * m + k``: voxel
    ``(i, j, k)`` spans ``[i, i + 1) x [j, j + 1) x [k, k + 1)`` in the
    units ``(xyz + 1) / h``. ``lo``/``hi`` bound the occupied voxels."""

    h: float
    m: int
    lo: np.ndarray
    hi: np.ndarray
    keys: np.ndarray
    ids: np.ndarray
    trig: np.ndarray


def _trig(lon, lat) -> np.ndarray:
    """``(cos φ, sin φ, cos λ, sin λ)`` of points in degrees, ``(4, n)``."""
    la, lo = np.radians(lat), np.radians(lon)
    return np.stack([np.cos(la), np.sin(la), np.cos(lo), np.sin(lo)])


def _xyz(t: np.ndarray) -> np.ndarray:
    """Unit-sphere ``(x, y, z)``, ``(3, n)``, of the points of trig ``t``."""
    return np.stack([t[0] * t[2], t[0] * t[3], t[1]])


def _keys(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The quantized squared chord distance of each column pair of the
    trig arrays ``a`` and ``b``."""
    d2 = 2.0 - 2.0 * (a[0] * b[0] * (a[2] * b[2] + a[3] * b[3]) + a[1] * b[1])
    return _round_half_up(d2 * 1e9).astype(np.int64)


def _pool(ids: np.ndarray, trig: np.ndarray, h: float | None = None) -> _Pool:
    """Voxel index of the pool points ``ids`` with trig ``trig``. The
    side ``h`` defaults to twice the point spacing of the pool's extent:
    its two widest sides over the point count (an area), or the widest
    over the count when the pool is a line."""
    xyz = _xyz(trig)
    if h is None:
        n, (_, e1, e2) = max(ids.size, 1), np.sort(xyz.max(axis=1, initial=-1.0) - xyz.min(axis=1, initial=1.0))
        h = 2.0 * max(np.sqrt(e1 * e2 / n), e2 / n)
    h = max(h, 2e-6)  # keeps the voxel keys within int64
    m = int(2.0 / h) + 2
    c = np.floor((xyz + 1.0) / h).astype(np.int64)
    key = (c[0] * m + c[1]) * m + c[2]
    o = np.argsort(key, kind="stable")
    return _Pool(h, m, c.min(axis=1, initial=m), c.max(axis=1, initial=-1), key[o], ids[o], trig[:, o])


def _pass(pool: _Pool, x: np.ndarray, trig: np.ndarray, r: np.ndarray, cap: np.ndarray, k: int):
    """One search of the needles at voxel coordinates ``x`` (``(3, c)``)
    through the cubes of Chebyshev radii ``r`` around their voxels, cut
    to the balls of squared radii ``cap`` that hold every point still
    able to rank: ``((needle, id, rank, key), done, cap)`` — the top-k
    rows of the needles it proves exact, which those are, and the ball
    of each other needle. None when the pass would hold more than
    ``_PAIRS`` columns or pairs."""
    v = np.floor(x).astype(np.int64)
    lo, hi = np.maximum(v - r, pool.lo[:, None]), np.minimum(v + r, pool.hi[:, None])
    w = np.maximum(hi - lo + 1, 0)
    cols = w[0] * w[1] * (w[2] > 0)
    if x.shape[1] > 1 and cols.sum() > _PAIRS:
        return None
    # one key range per (i, j) column of each cube: the ball's chord
    q, off = _runs(cols)
    i, j = lo[0, q] + off // w[1, q], lo[1, q] + off % w[1, q]
    # the ball's squared radius less the squared distance to the column
    rest = cap[q] - sum(np.maximum(np.maximum(a - x[d, q], x[d, q] - a - 1), 0.0) ** 2 for d, a in ((0, i), (1, j)))
    half = np.sqrt(np.maximum(rest, 0.0))
    k0 = np.maximum(lo[2, q], np.floor(x[2, q] - half)).astype(np.int64)
    k1 = np.where(rest < 0, -1, np.minimum(hi[2, q], np.floor(x[2, q] + half))).astype(np.int64)
    base = (i * pool.m + j) * pool.m
    s = np.searchsorted(pool.keys, base + k0)
    n = np.maximum(np.searchsorted(pool.keys, base + k1, "right") - s, 0)
    if x.shape[1] > 1 and n.sum() > _PAIRS:
        return None
    c, off = _runs(n)
    q, p = q[c], s[c] + off
    key, ids = _keys(trig[:, q], pool.trig[:, p]), pool.ids[p]
    o = np.lexsort((ids, q << 32 | key))  # q < 2**31, 0 <= key < 2**32
    q, key, ids = q[o], key[o], ids[o]
    found = np.bincount(q, minlength=x.shape[1])
    first = np.cumsum(found) - found
    rank = np.arange(q.size) - first[q]
    # the k-th key, inf while fewer than k are found
    kth = np.where(found >= k, np.append(key, 0)[np.minimum(first + k - 1, q.size)], np.inf)
    # exact once the cube holds the whole pool, or the k-th key beats
    # the nearest point outside the cube by a quantum
    covers = (lo == pool.lo[:, None]).all(axis=0) & (hi == pool.hi[:, None]).all(axis=0)
    done = covers | (kth < (r * pool.h) ** 2 * 1e9 - 1.0)
    keep = (rank < k) & done[q]
    # a point that can still displace the k-th key has a key up to it
    cap = np.where(found >= k, (kth + 1.0) / 1e9 / pool.h**2, cap)
    return (q[keep], ids[keep], rank[keep] + 1, key[keep]), done, cap


def _search(pool: _Pool, trig: np.ndarray, k: int):
    """``(needle, id, rank, key)`` of the k nearest pool points of each
    needle (all of them when the pool is smaller), ordered by needle and
    rank."""
    x = (_xyz(trig) + 1.0) / pool.h
    v = np.floor(x).astype(np.int64)
    # the first cube reaches the pool's voxels; each next one doubles
    r = np.maximum(np.maximum(pool.lo[:, None] - v, v - pool.hi[:, None]).max(axis=0), 1)
    todo, cap = np.arange(x.shape[1]), np.full(x.shape[1], np.inf)
    rows = [(np.empty(0, np.int64),) * 4]
    while todo.size:
        left, s, step = [], 0, todo.size
        while s < todo.size:
            t = slice(s, s + step)
            got = _pass(pool, x[:, todo[t]], trig[:, todo[t]], r[t], cap[t], k)
            if got is None:
                step //= 2
                continue
            (q, ids, rank, key), done, c = got
            rows.append((todo[t][q], ids, rank, key))
            left.append((todo[t][~done], 2 * r[t][~done], c[~done]))
            s += step
        todo, r, cap = (np.concatenate(a) for a in zip(*left))
    need, ids, rank, key = (np.concatenate(c) for c in zip(*rows))
    o = np.lexsort((rank, need))
    return need[o], ids[o], rank[o], key[o]


def _centers(g: Grid):
    """Ids and trig of the grid's cell centers (missing centers dropped)."""
    lon, lat = (a.reshape(-1) for a in g.mesh)
    ok = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
    return ok, _trig(lon[ok], lat[ok])


def _knn(left: Grid, right: Grid, k: int):
    """``(left id, right id, rank, key)`` of the k nearest right centers
    of every left center."""
    lid, ltrig = _centers(left)
    need, rid, rank, key = _search(_pool(*_centers(right)), ltrig, k)
    return lid[need], rid, rank, key


def knn_join(left: Grid, right: Grid, k: int = 1) -> DataFrame:
    """Generic geographic k-NN join: for every left cell center, the k
    nearest right cell centers by great-circle (chord) distance.
    Returns (left_id, right_id, rank, dist2) with rank 1..k and dist2
    the rounded squared chord distance."""
    lid, rid, rank, key = _knn(left, right, k)
    pdf = pd.DataFrame({"left_id": lid, "right_id": rid, "rank": rank.astype(np.int32), "dist2": key / 1e9})
    return left.df.sparkSession.createDataFrame(pdf, "left_id long, right_id long, rank int, dist2 double")


def nearest_weights(src: Grid, dst: Grid, direction: str = "s2d") -> DataFrame:
    """COO triplets for nearest_s2d / nearest_d2s. S is always 1.0;
    d2s accumulation happens naturally in the apply's group-by-sum.
    """
    if direction not in ("s2d", "d2s"):
        raise ValueError(f"direction must be 's2d' or 'd2s', got {direction!r}")
    need, pool = (dst, src) if direction == "s2d" else (src, dst)
    nid, pid, _, _ = _knn(need, pool, 1)
    row, col = (nid, pid) if direction == "s2d" else (pid, nid)
    pdf = pd.DataFrame({"row": row, "col": col, "S": np.ones(row.size)})
    return src.df.sparkSession.createDataFrame(pdf, "row long, col long, S double")
