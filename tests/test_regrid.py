"""Analytic-oracle regridding tests — ports of the reference's flagship
assertions (xesmf/tests/test_frontend.py). Exact fixture grids so the
reference's tolerance thresholds remain valid (SURVEY.md §5, §7):

- conservative g_in→g_out: max |rel err| < 0.05        (:186-187)
- bilinear periodic:       max |rel err| < 0.065       (:130-137)
- bilinear NON-periodic:   max |rel err| == 1.0 exactly (:116-127)
- 4-D broadcast invariance per (time, lev)             (:196-199)
- nearest to locstream: one source per location, S=1.0 (:209-246)
"""

from contextlib import contextmanager
from unittest import mock

import numpy as np
import pytest

from pyspark.sql import functions as F

from xesmf_spark import Regridder, grid_global, locstream, smm_apply, wave_smooth
from xesmf_spark.weights import conservative_weights


@pytest.fixture(scope="module")
def g_in(spark):
    return grid_global(spark, 20, 12)


@pytest.fixture(scope="module")
def g_out(spark):
    return grid_global(spark, 15, 9)


@contextmanager
def voxel_side(h):
    """Index every nearest/k-NN pool built inside the block at voxel side
    ``h``. ``ONE_VOXEL`` puts the whole unit sphere into one voxel, so
    each needle ranks every pool point, as a broadcast cross join does."""
    from xesmf_spark.weights import nearest as NN

    pool = NN._pool
    with mock.patch.object(NN, "_pool", lambda ids, trig: pool(ids, trig, h)):
        yield


#: a voxel side wider than the unit sphere's extent
ONE_VOXEL = 4.0


def _field(g):
    return g.df.select("cell_id", wave_smooth().alias("value"))


def _max_rel_err(out_df, g_out):
    ref = g_out.df.select("cell_id", wave_smooth().alias("ref"))
    return (
        out_df.join(ref, "cell_id")
        .select(F.max(F.abs((F.col("ref") - F.col("value")) / F.col("ref"))).alias("e"))
        .first()["e"]
    )


def test_conservative(spark, g_in, g_out):
    rg = Regridder(spark, g_in, g_out, "conservative")
    out = rg(_field(g_in))
    assert out.count() == g_out.n_cells
    err = _max_rel_err(out, g_out)
    assert err < 0.05, err
    rg.clean_weight_file()


def test_conservative_preserves_integral(spark, g_in, g_out):
    """Conservation: global area-weighted integral is preserved."""
    w = conservative_weights(g_in, g_out)
    out = smm_apply(_field(g_in), w, g_out)

    def integral(df, g):
        cells = g.df.select(
            "cell_id",
            (
                (F.radians("lon_hi") - F.radians("lon_lo"))
                * (F.sin(F.radians("lat_hi")) - F.sin(F.radians("lat_lo")))
            ).alias("area"),
        )
        return (
            df.join(cells, "cell_id")
            .select(F.sum(F.col("area") * F.col("value")).alias("s"))
            .first()["s"]
        )

    i_in = integral(_field(g_in), g_in)
    i_out = integral(out, g_out)
    assert abs(i_in - i_out) / abs(i_in) < 1e-9


def test_bilinear_periodic_wrong(spark, g_in, g_out):
    rg = Regridder(spark, g_in, g_out, "bilinear", periodic=False)
    out = rg(_field(g_in))
    err = _max_rel_err(out, g_out)
    assert err == 1.0  # unmapped cells get exactly 0 (test_frontend.py:116-127)
    rg.clean_weight_file()


def test_bilinear_periodic_correct(spark, g_in, g_out):
    rg = Regridder(spark, g_in, g_out, "bilinear", periodic=True)
    out = rg(_field(g_in))
    err = _max_rel_err(out, g_out)
    assert err < 0.065, err
    rg.clean_weight_file()


def test_broadcast_4d(spark, g_in, g_out):
    """data4D = time * lev * wave; per-(time,lev) result equals the 2-D
    regrid scaled by time*lev to 1e-10 (test_frontend.py:196-199)."""
    rg = Regridder(spark, g_in, g_out, "conservative")
    time = spark.range(1, 8).select(F.col("id").alias("time"))
    lev = spark.range(1, 12).select(F.col("id").alias("lev"))
    f4 = (
        _field(g_in)
        .crossJoin(time)
        .crossJoin(lev)
        .select("time", "lev", "cell_id", (F.col("time") * F.col("lev") * F.col("value")).alias("value"))
    )
    out4 = rg(f4, extra_keys=("time", "lev"))
    out2 = rg(_field(g_in)).select("cell_id", F.col("value").alias("v2"))
    bad = (
        out4.join(out2, "cell_id")
        .select(
            F.max(F.abs(F.col("value") - F.col("time") * F.col("lev") * F.col("v2"))).alias("d")
        )
        .first()["d"]
    )
    assert out4.count() == g_out.n_cells * 7 * 11
    assert bad < 1e-10, bad
    rg.clean_weight_file()


def test_nearest_s2d_to_locstream(spark, g_in):
    g_locs = locstream(spark, [0.0, 5.0, 10.0, 15.0], [-20.0, -10.0, 0.0, 10.0])
    rg = Regridder(spark, g_in, g_locs, "nearest_s2d")
    w = rg.weights
    assert w.count() == 4
    assert w.filter(F.col("S") != 1.0).count() == 0
    # each location gets exactly one source
    assert w.select("row").distinct().count() == 4
    out = rg(_field(g_in))
    assert out.count() == 4
    # values are actual wave_smooth values from the source grid
    src_vals = {r["value"] for r in _field(g_in).collect()}
    for r in out.collect():
        assert r["value"] in src_vals
    rg.clean_weight_file()


def test_nearest_s2d_from_locstream(spark, g_out):
    """locstream INPUT (frontend.py:178-184 — nearest-only): a point
    cloud as the SOURCE; every destination cell must key to its exact
    chord-nearest point (cross-checked against a numpy argmin)."""
    import numpy as np

    pts_lon = [-120.0, -40.0, 10.0, 75.0, 160.0]
    pts_lat = [-60.0, 10.0, 45.0, -20.0, 70.0]
    pts = locstream(spark, pts_lon, pts_lat)
    rg = Regridder(spark, pts, g_out, "nearest_s2d")
    w = rg.weights
    assert w.count() == g_out.n_cells  # every dest mapped, S=1 rows
    assert w.filter(F.col("S") != 1.0).count() == 0

    got = {r["row"]: r["col"] for r in w.collect()}
    cells = g_out.df.select("cell_id", "lon", "lat").collect()
    plon, plat = np.radians(pts_lon), np.radians(pts_lat)
    px = np.cos(plat) * np.cos(plon)
    py = np.cos(plat) * np.sin(plon)
    pz = np.sin(plat)
    for c in cells:
        lo, la = np.radians(c["lon"]), np.radians(c["lat"])
        d2 = (np.cos(la) * np.cos(lo) - px) ** 2 + (np.cos(la) * np.sin(lo) - py) ** 2 + (np.sin(la) - pz) ** 2
        assert got[c["cell_id"]] == int(np.argmin(d2)), c
    rg.clean_weight_file()


def test_nearest_d2s(spark, g_in, g_out):
    rg = Regridder(spark, g_out, g_in, "nearest_d2s")  # fine grid -> coarse
    w = rg.weights
    # every source appears exactly once as a col; weights pile up on rows
    assert w.count() == g_out.n_cells
    assert w.select("col").distinct().count() == g_out.n_cells
    rg.clean_weight_file()


def test_nearest_bucketed_parity(spark, g_in, g_out):
    """The voxel-pruned search ≡ ranking every pool point (the whole
    pool in one voxel) — the engine's analogue of the reference's
    scipy≡ESMPy differential test (tests/test_backend.py:142-157)."""
    from xesmf_spark.weights import nearest_weights

    with voxel_side(ONE_VOXEL):
        wb = nearest_weights(g_in, g_out, direction="s2d")
    wk = nearest_weights(g_in, g_out, direction="s2d")
    assert wb.count() == wk.count() == g_out.n_cells
    assert wb.exceptAll(wk).count() == 0


def test_conservative_without_bounds_raises(spark, g_in):
    g_locs = locstream(spark, [0.0], [0.0])
    with pytest.raises((KeyError, ValueError)):
        Regridder(spark, g_in, g_locs, "conservative")


def test_patch_reproduces_quadratics_exactly(spark):
    """The defining property of patch recovery: any quadratic field is
    regridded EXACTLY on interior destinations (per-corner biquadratic
    patches blended bilinearly reproduce degree <= 2 in each axis)."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import patch_weights

    g_src = grid_2d(spark, -100, 100, 5.0, -60, 60, 4.0)
    g_dst = grid_2d(spark, -80, 80, 7.0, -45, 45, 5.0)  # strictly interior
    quad = (
        F.lit(1.0) + 2.0 * F.col("lon") + 3.0 * F.col("lat")
        + 0.1 * F.col("lon") ** 2
        + 0.05 * F.col("lon") * F.col("lat")
        + 0.2 * F.col("lat") ** 2
    )
    w = patch_weights(g_src, g_dst)
    # weights per dest: <= 16 nnz, summing to exactly 1 (affine blend of
    # Lagrange bases); negative entries are legitimate for quadratics
    per = w.groupBy("row").agg(F.count("*").alias("n"), F.sum("S").alias("s")).collect()
    assert len(per) == g_dst.n_cells
    assert max(r.n for r in per) <= 16
    assert max(abs(r.s - 1.0) for r in per) < 1e-12
    field = g_src.df.select("cell_id", quad.alias("value"))
    out = smm_apply(field, w, g_dst, attach_coords=False)
    exp = {r.cell_id: r.v for r in g_dst.df.select("cell_id", quad.alias("v")).collect()}
    got = {r.cell_id: r.value for r in out.collect()}
    assert max(abs(got[k] - exp[k]) for k in exp) < 1e-9


def test_patch_beats_bilinear_on_smooth_field(spark, g_in, g_out):
    """Higher-order convergence in practice: on wave_smooth the patch
    Regridder's max relative error must be well under bilinear's
    (measured: 0.0037 vs 0.060 on the fixture pair)."""

    def max_rel_err(method):
        rg = Regridder(spark, g_in, g_out, method, periodic=True)
        out = rg(_field(g_in))
        ref = {r.cell_id: r.v for r in g_out.df.select("cell_id", wave_smooth().alias("v")).collect()}
        err = max(
            abs(r.value - ref[r.cell_id]) / abs(ref[r.cell_id]) for r in out.collect()
        )
        rg.clean_weight_file()
        return err

    assert max_rel_err("patch") < 0.25 * max_rel_err("bilinear")


def test_patch_curvilinear_dispatches(spark, g_out):
    """patch_weights on a curvilinear source dispatches to the
    general-mesh builder (the former scope gate is lifted): weights
    exist and form a partition of unity on mapped destinations.
    Numerical contract (quadratic exactness, seam) is pinned in
    tests/test_curvilinear.py."""
    from xesmf_spark.grids import grid_from_2d_arrays
    from xesmf_spark.weights import patch_weights

    lon2d = [[float(i * 3) for i in range(8)] for _ in range(8)]
    lat2d = [[float(j * 3) for i in range(8)] for j in range(8)]
    src = grid_from_2d_arrays(spark, lon2d, lat2d)
    w = patch_weights(src, g_out).collect()
    assert len(w) > 0
    sums = {}
    for r in w:
        sums[r.row] = sums.get(r.row, 0.0) + r.S
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_repr(spark, g_in, g_out):
    rg = Regridder(spark, g_in, g_out, "bilinear")
    assert repr(rg) == str(rg)
    assert "bilinear" in repr(rg)
    assert "(15, 18)" in repr(rg)
    rg.clean_weight_file()


def test_bilinear_locstream_matches_grid_at_centers(spark, g_in, g_out):
    """Bilinear -> locstream must agree with bilinear -> grid when the
    locations ARE the destination grid centers (port of the reference's
    locstream tolerance test, tests/test_frontend.py:206-246, tightened
    to exact equality since both paths share the same bracket math)."""
    from xesmf_spark.apply import smm_apply
    from xesmf_spark.grids import wave_smooth
    from xesmf_spark.weights import bilinear_weights

    field = g_in.df.select("cell_id", wave_smooth().alias("value"))
    cells = g_out.df.select("cell_id", "lon", "lat").orderBy("cell_id").collect()
    ls = locstream(spark, [r.lon for r in cells], [r.lat for r in cells])
    for periodic in (True, False):
        w_grid = bilinear_weights(g_in, g_out, periodic=periodic)
        ref = {r.cell_id: r.value for r in smm_apply(field, w_grid, g_out).collect()}
        w_ls = bilinear_weights(g_in, ls, periodic=periodic)
        got = {r.cell_id: r.value for r in smm_apply(field, w_ls, ls).collect()}
        assert set(got) == set(ref)
        assert max(abs(ref[k] - got[k]) for k in ref) == 0.0


def test_bilinear_locstream_per_point_brackets(spark, g_in):
    """Regression for the round-1 defect: two locations at lat -30/+30
    must each bracket between their OWN adjacent source rows (sj 4,5 and
    sj 9,10 on the 12-degree grid), not share one collapsed bracket."""
    from xesmf_spark.weights import bilinear_weights

    ls = locstream(spark, [10.0, 10.0], [-30.0, 30.0])
    w = bilinear_weights(g_in, ls, periodic=False)
    rows = {(r.row, divmod(r.col, g_in.n_x)[0]) for r in w.collect()}
    assert {sj for (r, sj) in rows if r == 0} == {4, 5}
    assert {sj for (r, sj) in rows if r == 1} == {9, 10}


def test_smm_apply_scans_field_once(spark, g_in, g_out, tmp_path):
    """The extra-dim combo base must come from the aggregate (tiny), not
    a second scan of the field — at 100-TB field scale a second scan
    doubles the read just to enumerate (time, lev)."""
    import contextlib
    import io

    from xesmf_spark.apply import smm_apply
    from xesmf_spark.grids import wave_smooth
    from xesmf_spark.weights import conservative_weights

    path = str(tmp_path / "field.parquet")
    (
        g_in.df.select("cell_id", wave_smooth().alias("value"))
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("time")))
        .write.parquet(path)
    )
    field = spark.read.parquet(path)
    w = conservative_weights(g_in, g_out)
    out = smm_apply(field, w, g_out, extra_keys=("time",), attach_coords=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # one DISTINCT parquet scan node (each scan node gets its own
    # "Location:" details block; a second scan of the field would add a
    # second block) — the combo base reads the cached aggregate instead
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    # and the result is still complete: every (cell, time) slot present
    assert out.count() == g_out.n_cells * 3


def test_knn_join_bucketed_matches_broadcast(spark):
    """The voxel-pruned k-NN join must reproduce ranking every pool
    point, including near-pole needles, both with voxels sized from the
    pool and with voxels far finer than its spacing (the cube then grows
    over several passes before the k-th key beats its bound)."""
    from xesmf_spark.grids import grid_2d, grid_global
    from xesmf_spark.weights.nearest import knn_join

    g_pool = grid_global(spark, 10.0, 6.0)     # coarse global incl. poles
    g_need = grid_2d(spark, -180, 180, 15.0, -88, 88, 11.0)
    key = lambda r: (r.left_id, r.rank, r.right_id, r.dist2)
    with voxel_side(ONE_VOXEL):
        bb = sorted(map(key, knn_join(g_need, g_pool, k=3).collect()))
    with voxel_side(0.01):
        fine = sorted(map(key, knn_join(g_need, g_pool, k=3).collect()))
    bk = sorted(map(key, knn_join(g_need, g_pool, k=3).collect()))
    assert bb == bk == fine
    assert len(bb) == 3 * g_need.n_cells


def test_knn_join_auto_runs_no_job(spark):
    """Building a k-NN join or nearest weights from constructor grids
    launches no Spark job: the search runs on the driver-held centers
    and its rows enter as a local relation, so jobs start only at the
    action."""
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights import nearest_weights
    from xesmf_spark.weights.nearest import knn_join

    g_need = grid_2d(spark, -60, 60, 20.0, -30, 30, 15.0)
    g_pool = grid_2d(spark, -60, 60, 10.0, -30, 30, 10.0)

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    df1 = knn_join(g_need, g_pool, k=2)
    df2 = nearest_weights(g_pool, g_need, direction="d2s")
    after = len(tracker.getJobIdsForGroup())
    assert after == before, "building a nearest frame launched a Spark job"
    # the plans still execute correctly afterwards
    assert df1.count() == 2 * g_need.n_cells and df2.count() == g_pool.n_cells


def test_knn_search_memory_is_bounded_per_chunk():
    """A 1x1-degree pool of 10,000 points and 2,500 needles inside it.
    The voxels are sized from the pool's own spread, not the sphere's
    (sphere-sized voxels put this pool into two voxels, and every needle
    then gathers all 10,000 points), and the pair budget keeps one
    chunk's arrays small."""
    import tracemalloc

    from xesmf_spark.weights import nearest as NN

    def centers(n):
        c = 0.5 + np.arange(n)
        lon, lat = np.meshgrid(10.0 + c / n, 40.0 + c / n)
        return NN._trig(lon.ravel(), lat.ravel())

    pool = NN._pool(np.arange(100 * 100), centers(100))
    assert pool.h < 4 * np.radians(0.01)  # a few pool spacings
    needles = centers(50)
    tracemalloc.start()
    try:
        need, ids, rank, key = NN._search(pool, needles, 3)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert need.size == 3 * 2500 and (rank <= 3).all()
    # each needle's nearest is within half a pool cell's diagonal
    half_diagonal = np.radians(0.005) ** 2 * 2 * 1e9
    assert key[rank == 1].max() <= half_diagonal
    assert peak < 64 * 2**20, peak


def test_finalize_releases_persisted_intermediates(spark, g_in, g_out):
    """Regridder.finalize must unpersist the extra-combo intermediates
    smm_apply pins (esmf_regrid_finalize analogue, backend.py:333-350),
    and the regridder must stay usable afterwards."""
    from pyspark.sql import functions as F

    from xesmf_spark import materialize
    from xesmf_spark.grids import wave_smooth
    from xesmf_spark.regridder import Regridder

    # assert on the SPECIFIC intermediate smm_apply pins, not the global
    # persistent-RDD count: Spark's cache manager dedupes canonicalized
    # plans, so an earlier test's persist can absorb this one and make a
    # count-based assertion order-dependent (flaked in full-suite order)
    already = set(map(id, materialize.pinned_since(0)))
    with Regridder(spark, g_in, g_out, "conservative") as rg:
        field = (
            g_in.df.select("cell_id", wave_smooth().alias("value"))
            .crossJoin(spark.range(2, 7).select(F.col("id").alias("t_fin")))
        )
        rg(field, extra_keys=("t_fin",)).count()   # derives combos -> persists
        pinned = [d for d in materialize.pinned_since(0) if id(d) not in already]
        assert len(pinned) == 1
        lvl = pinned[0].storageLevel
        assert lvl.useMemory or lvl.useDisk
    # finalize released it (and emptied the registry entry)
    lvl = pinned[0].storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    assert all(id(d) in already for d in materialize.pinned_since(0))
    # still usable after finalize
    assert rg(g_in.df.select("cell_id", wave_smooth().alias("value"))).count() > 0


def test_finalize_keeps_other_operators_pins(spark, g_in, g_out):
    """finalize releases only what its own applies pinned. The frame
    dense_rank_distributed pins is what keeps a lazy suffix_ranks
    result correct (un-cached, repartitionByRange re-samples its
    boundaries and rows drop), so it must survive ``with Regridder``."""
    from xesmf_spark import materialize
    from xesmf_spark.relational import dense_rank_distributed

    def cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    depth = materialize.mark()
    keys = spark.range(40).select((F.col("id") % 9).alias("k_keep"))
    ranked = dense_rank_distributed(keys, ["k_keep"], "r_keep")
    (local,) = materialize.pinned_since(depth)
    with Regridder(spark, g_in, g_out, "conservative") as rg:
        field = _field(g_in).crossJoin(
            spark.range(3, 6).select(F.col("id").alias("t_keep"))
        )
        rg(field, extra_keys=("t_keep",)).count()
        combos = materialize.pinned_since(depth)[1:]
        assert len(combos) == 1 and cached(combos[0])
    assert cached(local)
    assert [id(d) for d in materialize.pinned_since(depth)] == [id(local)]
    assert not cached(combos[0])
    assert sorted(r.r_keep for r in ranked.collect()) == sorted(
        i % 9 + 1 for i in range(40)
    )
    materialize.release_since(depth)
    assert not cached(local)


def test_call_metadata_facade(spark, g_in, g_out):
    """The frontend.py:424-441 metadata layer: output dim-index columns
    carry the OUTPUT grid's dim names, dest lon/lat coords are attached
    (test_frontend.py:163-165), extra broadcast dims survive untouched
    (test_frontend.py:202-203), and the result is stamped with
    regrid_method / keep_attrs semantics (frontend.py:420,441)."""
    import dataclasses

    g_named = dataclasses.replace(g_out, dims=("lat_dim", "lon_dim"))
    rg = Regridder(spark, g_in, g_named, "conservative")
    field = (
        _field(g_in)
        .crossJoin(spark.range(1, 3).select(F.col("id").alias("time")))
        .select("time", "cell_id", "value")
    )
    out = rg(
        field,
        extra_keys=("time",),
        keep_attrs=True,
        field_attrs={"units": "K"},
        attach_dims=True,
    )
    # attrs: input attrs kept underneath the regrid_method stamp
    assert out.attrs == {"units": "K", "regrid_method": "conservative"}
    rows = out.filter(F.col("time") == 1).collect()
    assert len(rows) == g_named.n_cells
    # dim rename analogue: index columns named by the OUTPUT grid's dims
    expect = {
        (r.cell_id, r.j, r.i, round(r.lon, 9), round(r.lat, 9))
        for r in g_named.df.select("cell_id", "j", "i", "lon", "lat").collect()
    }
    got = {
        (r.cell_id, r.lat_dim, r.lon_dim, round(r.lon, 9), round(r.lat, 9))
        for r in rows
    }
    assert got == expect  # coords match dest grid (test_frontend.py:163-165)
    # broadcast dim preserved with its values (test_frontend.py:202-203)
    assert {r.time for r in out.select("time").distinct().collect()} == {1, 2}
    # default: no attrs kept, no dim columns
    out2 = rg(_field(g_in))
    assert out2.attrs == {"regrid_method": "conservative"}
    assert "lat_dim" not in out2.columns
    rg.clean_weight_file()


def test_locstream_out_dims_and_repr(spark, g_in):
    """Point destinations report ('locations',) — the post-squeeze
    horizontal shape (frontend.py:443-444) — and attach a single
    locations index column."""
    pts = locstream(
        spark,
        [(-150.0 + 7.0 * k) for k in range(40)],
        [(-80.0 + 4.0 * k) for k in range(40)],
    )
    rg = Regridder(spark, g_in, pts, "nearest_s2d")
    assert rg.out_horiz_dims == ("locations",)
    assert "('locations',)" in repr(rg)
    out = rg(_field(g_in), attach_dims=True)
    rows = out.collect()
    assert {r.locations for r in rows} == {r.cell_id for r in rows}
    rg.clean_weight_file()


def test_unmapped_cells_diagnostic(spark, g_in, g_out):
    """unmapped_cells = dest cells with no weight rows: non-periodic
    bilinear leaves the strip beyond the last source column unmapped
    (the reference asserts rel-err exactly 1.0 there,
    tests/test_frontend.py:116-127); global conservative maps all."""
    rg = Regridder(spark, g_in, g_out, "bilinear", periodic=False)
    un = rg.unmapped_cells().collect()
    mapped = {r.row for r in rg.weights.select("row").distinct().collect()}
    assert {r.cell_id for r in un} == set(range(g_out.n_cells)) - mapped
    assert len(un) > 0  # the non-periodic edge strip exists

    rg2 = Regridder(spark, g_in, g_out, "conservative")
    assert rg2.unmapped_cells().count() == 0


def test_reuse_construction_runs_no_job(spark, tmp_path, jobs_in):
    """From a warm cache, a Regridder on freshly built grids validates,
    keys and loads its weights without a Spark job."""
    wdir = str(tmp_path)
    Regridder(spark, grid_global(spark, 20, 12), grid_global(spark, 15, 9),
              "conservative", weights_dir=wdir)
    g_in, g_out = grid_global(spark, 20, 12), grid_global(spark, 15, 9)
    rg, jobs = jobs_in(lambda: Regridder(
        spark, g_in, g_out, "conservative", reuse_weights=True, weights_dir=wdir))
    assert jobs == 0
    assert rg.nnz > 0


def test_cache_filename_follows_geometry(spark, tmp_path):
    """Same shape, different latitudes: different cache files. The same
    geometry built twice: the same file."""
    from xesmf_spark.grids import grid_from_arrays

    wdir = str(tmp_path)
    lon = [-135.0, -45.0, 45.0, 135.0]
    dst = locstream(spark, [0.0, 40.0], [10.0, -10.0])

    def rg(lat):
        src = grid_from_arrays(spark, lon, lat, periodic=True)
        return Regridder(spark, src, dst, "nearest_s2d", reuse_weights=True, weights_dir=wdir)

    uniform = rg([-60.0, -20.0, 20.0, 60.0])
    gaussian = rg([-70.0, -25.0, 25.0, 70.0])
    assert uniform.filename != gaussian.filename
    assert rg([-60.0, -20.0, 20.0, 60.0]).filename == uniform.filename


def test_reuse_shares_driver_csr_rebuild_does_not(spark, g_in, g_out, tmp_path, jobs_in):
    """Reuse constructions on an unchanged cache file share the weights
    frame, so the driver CSR cache regrid_numpy runs on is collected
    once; a rebuilt file gets a fresh frame and a fresh collect."""
    import numpy as np

    wdir = str(tmp_path)
    x = np.random.default_rng(0).random((1,) + g_in.shape)

    def regrid(reuse):
        rg = Regridder(spark, g_in, g_out, "bilinear", periodic=True,
                       reuse_weights=reuse, weights_dir=wdir)
        y, jobs = jobs_in(lambda: rg.regrid_numpy(x))
        return rg, y, jobs

    first, y1, jobs_first = regrid(reuse=False)
    second, y2, jobs_second = regrid(reuse=True)
    assert second.weights is first.weights
    assert jobs_second == 0  # no CSR collect
    rebuilt, y3, jobs_rebuilt = regrid(reuse=False)
    assert rebuilt.weights is not first.weights
    assert jobs_first == jobs_rebuilt == 1
    np.testing.assert_array_equal(y1, y2)
    np.testing.assert_array_equal(y1, y3)


def test_prepare_with_auto_shuffle_partitions(spark, g_in, g_out, monkeypatch, tmp_path):
    """A runtime that reports spark.sql.shuffle.partitions as "auto"
    (open-source Spark rejects setting it) must not break prepare()."""
    conf = spark.conf
    real_get = conf.get

    def get(key, *default):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, *default)

    monkeypatch.setattr(conf, "get", get)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "auto"
    rg = Regridder(spark, g_in, g_out, "bilinear", weights_dir=str(tmp_path))
    rg.prepare()
    try:
        assert rg._prepared.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert rg(_field(g_in)).count() == g_out.n_cells
    finally:
        rg.finalize()


def _sorted_triplets(w):
    pdf = w.select("row", "col", "S").toPandas()
    row, col, s = (pdf[c].to_numpy() for c in ("row", "col", "S"))
    order = np.lexsort((s, col, row))
    return row[order], col[order], s[order]


def _separable_builds(g_in, g_out):
    from xesmf_spark.weights import bilinear_weights, patch_weights

    return {
        "bilinear_periodic": lambda: bilinear_weights(g_in, g_out, periodic=True),
        "bilinear_noperiodic": lambda: bilinear_weights(g_in, g_out, periodic=False),
        "patch_periodic": lambda: patch_weights(g_in, g_out, periodic=True),
        "patch_noperiodic": lambda: patch_weights(g_in, g_out, periodic=False),
        "conservative": lambda: conservative_weights(g_in, g_out),
    }


def test_separable_builds_run_no_job(spark, g_in, g_out, jobs_in):
    """Between constructor-built grids the 1-D stage is driver numpy:
    building the weights (not running them) launches no Spark job, also
    onto point destinations."""
    from xesmf_spark.weights import bilinear_weights

    pts = locstream(spark, [-170.0, 0.0, 175.0], [-88.0, 0.0, 89.0])
    builds = dict(_separable_builds(g_in, g_out), points=lambda: bilinear_weights(g_in, pts, True))
    for name, build in builds.items():
        w, jobs = jobs_in(build)
        assert jobs == 0, name
        assert w.count() > 0, name


def test_hand_built_grid_gives_identical_triplets(spark, g_in, g_out):
    """A Grid built by hand around a constructor's cell table collects
    its axes from the cells; the weights are bit-identical."""
    from xesmf_spark.grids import Grid

    def by_hand(g):
        return Grid(df=g.df, shape=g.shape, periodic=g.periodic)

    built = _separable_builds(g_in, g_out)
    hand = _separable_builds(by_hand(g_in), by_hand(g_out))
    for name in built:
        a, b = _sorted_triplets(built[name]()), _sorted_triplets(hand[name]())
        assert len(a[0]) > 0, name
        assert all(np.array_equal(x, y) for x, y in zip(a, b)), name


def test_prepare_pin_is_released(spark, g_in, g_out, tmp_path):
    """prepare() pins its partitioned weights through the registry, so
    release_persisted() frees them like every other pinned frame."""
    from xesmf_spark import release_persisted

    spark.catalog.clearCache()
    Regridder(spark, g_in, g_out, "bilinear", weights_dir=str(tmp_path)).prepare()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    release_persisted()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
