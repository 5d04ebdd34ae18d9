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
great-circle distance and naturally periodic in longitude.

Two physical strategies:

- ``strategy='broadcast'``: broadcast the smaller point set and
  cross-join. The per-point argmin is a ``min(struct(dist, id))``
  HASH AGGREGATE, not a window — partial (map-side) aggregation means
  each task emits at most one row per needle, so nothing resembling the
  candidate set ever shuffles.
- ``strategy='bucketed'``: the 100-TB path. Coarse lat/lon spatial bins,
  candidates from an EQUI-join on bin keys (3x3 neighborhood via
  exploded offsets, longitude wrapping modulo the bin count), argmin by
  the same partial hash aggregate. EXACTNESS is enforced, not assumed:
  a neighborhood winner only stands if its distance beats the bound
  below; everything else (empty neighborhoods, near-pole points,
  suspiciously-far winners) is routed through an exact rescue pass that
  broadcasts the SMALL miss set against the distributed pool — the pool
  is never collected or broadcast.

Exactness bound: any pool point OUTSIDE the 3x3 neighborhood differs by
>= 2 bins in latitude or longitude, so its distance is at least
``2 * cos(phi_max) * sin(bin/2)`` (chord), with ``phi_max = min(90,
|lat| + 2*bin)`` the worst latitude at which a 2-bin longitude gap can
close. Near the poles the bound collapses to 0 and those (few) points
fall through to the exact pass automatically — resolving the silent
wrong-neighbor hazard of a neighborhood-only search.

Tie-breaking: ``min(struct(round(dist2, 9), point_id))`` — rounding
makes exact geometric ties (common on symmetric synthetic grids) break
on the deterministic id in every engine, so Spark and the DuckDB oracle
agree.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from xesmf_spark.grids import Grid
from xesmf_spark.materialize import pin

#: brute-force is fine (and faster) below this many points on the
#: broadcast side; above it the bucketed equi-join path takes over.
BROADCAST_LIMIT = 2_000_000


def _points(g: Grid | DataFrame, prefix: str) -> DataFrame:
    """Project (id, lon, lat, cos_lat, sin_lat, cos_lon, sin_lon) —
    trig ONCE per point, so the per-candidate distance below is pure
    multiply-add (libm trig per candidate dominated the brute-force
    strategy: ~10x slower than arithmetic)."""
    df = g.df if isinstance(g, Grid) else g
    return df.select(
        F.col("cell_id").alias(f"{prefix}_id"),
        F.radians("lon").alias(f"{prefix}_lon"),
        F.radians("lat").alias(f"{prefix}_lat"),
        F.cos(F.radians("lat")).alias(f"{prefix}_cla"),
        F.sin(F.radians("lat")).alias(f"{prefix}_sla"),
        F.cos(F.radians("lon")).alias(f"{prefix}_clo"),
        F.sin(F.radians("lon")).alias(f"{prefix}_slo"),
    )


def _dist2(p: str, q: str):
    """Squared 3-D chord distance between unit-sphere points, in the
    EXPANDED form over precomputed trig columns:
    ``2 - 2*(cla_p*cla_q*(clo_p*clo_q + slo_p*slo_q) + sla_p*sla_q)``
    (cos(a-b) expanded so candidates cost multiply-adds only; the
    DuckDB oracle uses the identical expansion and op order)."""
    return (
        F.lit(2.0)
        - F.lit(2.0)
        * (
            F.col(f"{p}_cla")
            * F.col(f"{q}_cla")
            * (
                F.col(f"{p}_clo") * F.col(f"{q}_clo")
                + F.col(f"{p}_slo") * F.col(f"{q}_slo")
            )
            + F.col(f"{p}_sla") * F.col(f"{q}_sla")
        )
    )


#: needle columns: id plus the precomputed trig of :func:`_points`
_N_COLS = ("n_id", "n_lon", "n_lat", "n_cla", "n_sla", "n_clo", "n_slo")

#: argmin encoding: quantized distance in the high bits, candidate id in
#: the low 30 — lexicographic (dist, id) order as ONE primitive BIGINT.
#: d2 <= 4 so the quantized part is < 4.1e9; 4.1e9 * 2^30 < 2^63. Ids
#: must stay below 2^30 (~1.07e9 cells) — asserted by the caller's grid
#: metadata at real scale.
_ID_SHIFT = 1 << 30


def _quantized_d2():
    """Squared chord distance on the 1e-9 grid, as a BIGINT: the
    ordering key of every argmin and top-k here (and in the DuckDB
    oracle), so geometric ties break on the point id everywhere."""
    return F.round(_dist2("n", "p") * F.lit(1e9)).cast("long")


def _argmin_agg(cand: DataFrame, keys: Sequence[str] = ("n_id",)) -> DataFrame:
    """``(*keys, p_id, d2r)`` of the nearest candidate per needle;
    ``keys`` identify the needle (``n_id`` first, any needle columns
    the caller wants carried along after it). A needle whose candidates
    are all null gets null ``p_id`` and ``d2r``.

    The min runs over a PRIMITIVE encoding of (quantized d2, p_id), not
    min(struct(...)) / min_by(...): struct-ordered aggregates plan as
    SortAggregate, which SORTS the whole candidate relation (measured:
    a 2.9e10-row broadcast-nn candidate set spilled the disk to death).
    A primitive min is a HashAggregate with map-side partial combine —
    tasks emit at most one row per needle and nothing ever sorts."""
    enc = (_quantized_d2() * F.lit(_ID_SHIFT) + F.col("p_id")).alias("enc")
    return (
        cand.select(*keys, enc)
        .groupBy(*keys)
        .agg(F.min("enc").alias("enc"))  # min() skips null candidates
        .select(
            *keys,
            (F.col("enc") % _ID_SHIFT).alias("p_id"),
            (F.floor(F.col("enc") / _ID_SHIFT).cast("double") / 1e9).alias("d2r"),
        )
    )


def _trusted_d2(bin_deg: float):
    """Exactness bound (see module docstring) as a squared chord
    distance: a neighborhood winner at most this far from needle
    ``n_lat`` is nearer than any point outside its 3x3 neighborhood."""
    bin_rad = math.radians(bin_deg)
    phi_max = F.least(F.lit(math.pi / 2), F.abs(F.col("n_lat")) + F.lit(2 * bin_rad))
    bound = F.lit(2.0) * F.cos(phi_max) * F.lit(math.sin(bin_rad / 2.0))
    return bound * bound


def _bin_candidates(
    need: DataFrame, pool: DataFrame, bin_deg: float, join_type: str = "inner"
) -> DataFrame:
    """Candidate pairs from the coarse-bin equi-join (3x3 neighborhood,
    longitude wraps modulo the bin count). ``join_type="left"`` keeps
    needles whose neighborhood is empty (null pool columns) so
    downstream logic sees every needle IN BAND instead of needing an
    anti-join to find the absentees."""
    nbins_lon = max(1, int(round(360.0 / bin_deg)))
    binned_pool = pool.withColumn(
        "blat", F.floor((F.degrees("p_lat") + F.lit(90.0)) / F.lit(bin_deg)).cast("int")
    ).withColumn(
        "blon",
        (
            F.floor((F.degrees("p_lon") + F.lit(180.0)) / F.lit(bin_deg)).cast("int")
            % F.lit(nbins_lon)
        ),
    )
    # the 3x3 neighborhood is built as WRAPPED (blat, blon) pairs and
    # array_distinct-ed BEFORE the explode: with nbins_lon < 3
    # (bin_deg > 120) the longitude wrap makes offsets collide, and
    # duplicate bins would emit duplicate candidate pairs (harmless for
    # the min-argmin, but knn_join's row_number would rank the same
    # neighbor twice)
    wrapped_bins = F.array_distinct(
        F.array(
            *[
                F.struct(
                    (F.col("blat0") + F.lit(a)).alias("blat"),
                    (
                        ((F.col("blon0") + F.lit(b)) % F.lit(nbins_lon) + F.lit(nbins_lon))
                        % F.lit(nbins_lon)
                    ).alias("blon"),
                )
                for a in (-1, 0, 1)
                for b in (-1, 0, 1)
            ]
        )
    )
    binned_need = (
        need.withColumn(
            "blat0", F.floor((F.degrees("n_lat") + F.lit(90.0)) / F.lit(bin_deg)).cast("int")
        )
        .withColumn(
            "blon0",
            F.floor((F.degrees("n_lon") + F.lit(180.0)) / F.lit(bin_deg)).cast("int"),
        )
        .select("*", F.explode(wrapped_bins).alias("off"))
        .select(
            *_N_COLS,
            F.col("off.blat").alias("blat"),
            F.col("off.blon").alias("blon"),
        )
    )
    return binned_need.join(binned_pool, ["blat", "blon"], join_type).drop("blat", "blon")


def _argmin_join(need: DataFrame, pool: DataFrame, strategy: str, bin_deg: float) -> DataFrame:
    """For each point in ``need`` (n_id, n_lon, n_lat — radians), find the
    nearest point in ``pool`` (p_id, p_lon, p_lat). Returns (n_id, p_id).
    """
    if strategy == "broadcast":
        return _argmin_agg(need.crossJoin(F.broadcast(pool))).select("n_id", "p_id")

    # ONE aggregation does everything: the bin join is LEFT OUTER (so a
    # needle with an empty 3x3 neighborhood is still present, with a
    # null candidate) and the argmin groups by the FULL needle tuple
    # (same cardinality as n_id — the extra key columns ride along in
    # the hash key). No join against `need` afterwards: the exactness
    # check reads n_lat straight from the aggregate, and the miss set
    # already carries the trig columns the rescue pass needs.
    hit = _argmin_agg(_bin_candidates(need, pool, bin_deg, join_type="left"), _N_COLS)
    # a winner farther than the closest possible out-of-neighborhood
    # point cannot be trusted
    checked = pin(
        hit.withColumn("_ok", F.col("p_id").isNotNull() & (F.col("d2r") <= _trusted_d2(bin_deg)))
    )
    ok = checked.filter("_ok").select("n_id", "p_id")
    # rescue: empty neighborhoods + out-of-bound winners, resolved
    # EXACTLY by broadcasting the (small) miss set against the
    # distributed pool — the pool side is never collected
    missed = checked.filter(~F.col("_ok")).select(*_N_COLS)
    rescue = _argmin_agg(pool.crossJoin(F.broadcast(missed))).select("n_id", "p_id")
    return ok.unionByName(rescue)


def _est_rows(g: "Grid | DataFrame") -> int:
    """Row-count estimate for strategy auto-selection WITHOUT running a
    job: Grid metadata when available, else Catalyst's optimized-plan
    statistics (rowCount if known, else sizeInBytes over a LOWER bound
    on compressed bytes/row). Overestimation is safe — it only tips the
    choice toward the bucketed path, which is correct at every size —
    which is why the divisor is 4, not the ~24 in-memory bytes/row:
    parquet with delta/RLE-encoded ids and gridded coords compresses
    far below the logical width, and dividing by the logical width
    would UNDERestimate rows and broadcast an oversized pool."""
    if isinstance(g, Grid):
        return g.n_cells
    stats = g._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    return int(str(stats.sizeInBytes())) // 4


def knn_join(
    left: DataFrame | Grid,
    right: DataFrame | Grid,
    k: int = 1,
    strategy: str = "auto",
    bin_deg: float = 2.0,
) -> DataFrame:
    """Generic geographic k-NN join: for every left point, the k nearest
    right points by great-circle (chord) distance. Inputs need columns
    (cell_id, lon, lat) (degrees). Returns (left_id, right_id, rank,
    dist2) with rank 1..k and dist2 the rounded squared chord distance.

    Strategy mirrors the nearest-weights duality: ``broadcast`` for a
    small right side; ``bucketed`` for the 100-TB shape — candidates
    from the bin equi-join, per-needle top-k via window, and an exact
    rescue for needles whose k-th winner fails the out-of-neighborhood
    distance bound (or that found < k candidates).
    """
    need = _points(left, "n")
    pool = _points(right, "p")
    if strategy == "auto":
        strategy = "broadcast" if _est_rows(right) <= BROADCAST_LIMIT else "bucketed"

    # quantized ordering key (same 1e-9 grid as _argmin_agg, so ties
    # break identically in Spark and the DuckDB oracle)
    qd = _quantized_d2().alias("qd")
    w = Window.partitionBy("n_id").orderBy(F.col("qd").asc(), F.col("p_id").asc())

    def topk(cand: DataFrame) -> DataFrame:
        return (
            cand.select("n_id", "n_lat", "p_id", qd)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("dist2", F.col("qd").cast("double") / F.lit(1e9))
            .drop("qd")
        )

    if strategy == "broadcast":
        res = topk(need.crossJoin(F.broadcast(pool)))
        return res.select(
            F.col("n_id").alias("left_id"),
            F.col("p_id").alias("right_id"),
            "rank",
            "dist2",
        )

    # single-pass bucketed plan (same shape as _argmin_join): LEFT
    # OUTER bin join keeps empty-neighborhood needles in band, and the
    # trust check (found k candidates AND the k-th beats the
    # out-of-neighborhood bound) is computed by window aggregates over
    # the SAME partitioning as the rank — no per-needle groupBy, no
    # semi/anti joins, no persist
    cand = _bin_candidates(need, pool, bin_deg, join_type="left")
    w_ord = Window.partitionBy("n_id").orderBy(
        F.col("qd").asc_nulls_last(), F.col("p_id").asc_nulls_last()
    )
    w_all = Window.partitionBy("n_id")
    ranked = (
        cand.select(*_N_COLS, "p_id", qd)
        .withColumn("rank", F.row_number().over(w_ord))
        .withColumn("n_found", F.count("p_id").over(w_all))
        .withColumn(
            "d_kth",
            F.max(F.when(F.col("rank") <= k, F.col("qd"))).over(w_all).cast("double")
            / F.lit(1e9),
        )
        .withColumn(
            "_ok",
            F.col("p_id").isNotNull()
            & (F.col("n_found") >= k)
            & (F.col("d_kth") <= _trusted_d2(bin_deg)),
        )
    )
    ok = (
        ranked.filter(F.col("_ok") & (F.col("rank") <= k))
        .withColumn("dist2", F.col("qd").cast("double") / F.lit(1e9))
        .select("n_id", "p_id", "rank", "dist2")
    )
    missed = ranked.filter((F.col("rank") == 1) & ~F.col("_ok")).select(*_N_COLS)
    rescue = topk(pool.crossJoin(F.broadcast(missed)))
    return (
        ok.unionByName(rescue.select("n_id", "p_id", "rank", "dist2"))
        .select(
            F.col("n_id").alias("left_id"),
            F.col("p_id").alias("right_id"),
            "rank",
            "dist2",
        )
    )


def nearest_weights(
    src: Grid,
    dst: Grid,
    direction: str = "s2d",
    strategy: str = "auto",
    bin_deg: float | None = None,
) -> DataFrame:
    """COO triplets for nearest_s2d / nearest_d2s. S is always 1.0;
    d2s accumulation happens naturally in the apply's group-by-sum.
    """
    if direction not in ("s2d", "d2s"):
        raise ValueError(f"direction must be 's2d' or 'd2s', got {direction!r}")

    pool_grid = src if direction == "s2d" else dst
    need_grid = dst if direction == "s2d" else src
    if strategy == "auto":
        # brute force costs |need| * |pool| candidate evaluations; the
        # bucketed equi-join wins long before the pool alone is "big"
        big = (pool_grid.n_cells > BROADCAST_LIMIT) or (
            pool_grid.n_cells * need_grid.n_cells > 2_000_000_000
        )
        strategy = "bucketed" if big else "broadcast"
    if bin_deg is None:
        # heuristic: bins ~2 cells wide on the pool grid so the true
        # nearest is inside the 3x3 neighborhood for quasi-uniform grids
        bin_deg = max(1.0, 2.0 * 360.0 / max(pool_grid.n_x, 1))

    need = _points(need_grid, "n")
    pool = _points(pool_grid, "p")
    pairs = _argmin_join(need, pool, strategy, bin_deg)
    if direction == "s2d":
        return pairs.select(
            F.col("n_id").alias("row"), F.col("p_id").alias("col"), F.lit(1.0).alias("S")
        )
    return pairs.select(
        F.col("p_id").alias("row"), F.col("n_id").alias("col"), F.lit(1.0).alias("S")
    )
