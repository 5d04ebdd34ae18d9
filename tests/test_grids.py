"""Grid-constructor tests — port of xesmf/tests/test_util.py:5-21."""

import warnings

import pytest

from pyspark.sql import functions as F

from xesmf_spark.grids import grid_global, locstream, wave_smooth


def test_grid_global_shapes(spark):
    g = grid_global(spark, 1.5, 1.5)
    assert g.shape == (120, 240)  # test_util.py:5-13
    assert g.df.count() == 120 * 240


def test_grid_global_fixture_grids(spark):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    assert g_in.shape == (15, 18)
    assert g_out.shape == (20, 24)
    row = g_in.df.orderBy("cell_id").first()
    assert row["lon"] == -170.0 and row["lat"] == -84.0
    assert row["lon_lo"] == -180.0 and row["lon_hi"] == -160.0


def test_grid_global_bad_resolution_warns(spark):
    with pytest.warns(UserWarning):
        grid_global(spark, 1.23, 1.0)  # test_util.py:16-21
    with pytest.warns(UserWarning):
        grid_global(spark, 1.0, 1.23)


def test_wave_smooth_range(spark):
    g = grid_global(spark, 20, 12)
    # field is 2 + cos^2(lat)cos(2lon) in [1, 3]
    vals = g.df.select(wave_smooth().alias("v")).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    assert 1.0 <= vals["lo"] <= vals["hi"] <= 3.0


def test_locstream(spark):
    g = locstream(spark, [0.0, 5.0, 10.0, 15.0], [-20.0, -10.0, 0.0, 10.0])
    assert g.shape == (1, 4)
    assert not g.has_bounds
    assert g.df.count() == 4


def _crossjoin_cells(spark, spec):
    """The meshgrid as a cross join of two grid_1d axis tables — the
    reference construction the one-range cell table must reproduce."""
    from xesmf_spark.grids import grid_1d

    lon0, lon1, dlon, lat0, lat1, dlat = spec
    lon_ax, n_x = grid_1d(spark, lon0, lon1, dlon, "i")
    lat_ax, _ = grid_1d(spark, lat0, lat1, dlat, "j")
    lat = lat_ax.select(
        "j", F.col("lo").alias("lat_lo"), F.col("hi").alias("lat_hi"), F.col("c").alias("lat")
    )
    lon = lon_ax.select(
        "i", F.col("lo").alias("lon_lo"), F.col("hi").alias("lon_hi"), F.col("c").alias("lon")
    )
    return lat.crossJoin(lon).select(
        (F.col("j") * F.lit(n_x) + F.col("i")).alias("cell_id"),
        "j", "i", "lon", "lat", "lon_lo", "lon_hi", "lat_lo", "lat_hi",
    )


@pytest.mark.parametrize(
    "spec",
    [
        (-180.0, 180.0, 20.0, -90.0, 90.0, 15.0),
        (0.0, 4.0, 1.0, 0.0, 4.0, 1.0),
        (-120.0, 120.0, 0.4, -60.0, 60.0, 0.3),
        (-120.0, 120.0, 0.6, -60.0, 60.0, 0.4),
    ],
)
def test_grid_2d_matches_crossjoin_bit_for_bit(spark, spec):
    from xesmf_spark.grids import grid_2d

    g = grid_2d(spark, *spec)
    ref = _crossjoin_cells(spark, spec)
    assert g.df.dtypes == ref.dtypes
    # repr keeps every bit that matters (it tells -0.0 from 0.0)
    got = sorted(tuple(map(repr, r)) for r in g.df.collect())
    want = sorted(tuple(map(repr, r)) for r in ref.collect())
    assert len(got) == g.n_cells
    assert got == want


@pytest.mark.parametrize(
    "spec",
    [
        (-120.0, 120.0, 0.4, -60.0, 60.0, 0.3),
        (-180.0, 180.0, 0.7, -90.0, 90.0, 0.3),
    ],
)
def test_grid_2d_matches_driver_geometry_bit_for_bit(spark, spec):
    """Every bound and center of the cell table equals the numpy
    geometry the grid keeps on the driver, bit for bit (fractional
    steps, where a reassociated sum would move the last bit)."""
    import numpy as np

    from xesmf_spark.grids import grid_2d

    g = grid_2d(spark, *spec)
    pdf = g.df.toPandas().sort_values("cell_id")
    geo = g.geometry
    j, i = pdf["j"].to_numpy(), pdf["i"].to_numpy()
    want = {
        "lon": geo.lon[i], "lat": geo.lat[j],
        "lon_lo": geo.lon_b[i], "lon_hi": geo.lon_b[i + 1],
        "lat_lo": geo.lat_b[j], "lat_hi": geo.lat_b[j + 1],
    }
    for c, w in want.items():
        assert np.array_equal(pdf[c].to_numpy().view(np.int64), w.view(np.int64)), c


def _constructor_grids(spark):
    from xesmf_spark.grids import grid_2d, grid_from_2d_arrays, grid_from_arrays

    return {
        "grid_2d": grid_2d(spark, 0.0, 4.0, 1.0, 0.0, 2.0, 1.0),
        "grid_from_arrays": grid_from_arrays(
            spark, [0.5, 1.5, 2.5], [10.0, 30.0], [0.0, 1.0, 2.0, 3.0], [0.0, 20.0, 40.0]
        ),
        "grid_from_arrays_centres": grid_from_arrays(spark, [0.0, 1.0], [95.0, 0.0]),
        # bottom cell row collapsed to lines: its first two node rows coincide
        "grid_from_2d_arrays": grid_from_2d_arrays(
            spark,
            [[0.5, 1.5, 2.5]] * 3,
            [[0.0] * 3, [0.5] * 3, [1.5] * 3],
            lon_b=[[0.0, 1.0, 2.0, 3.0]] * 4,
            lat_b=[[0.0] * 4, [0.0] * 4, [1.0] * 4, [2.0] * 4],
        ),
        "locstream": locstream(spark, [0.0, 5.0, 10.0], [-20.0, 0.0, 91.0]),
    }


def test_constructor_grid_facts_run_no_job(spark, jobs_in):
    """Latitude range, degeneracy and the cache digest of a
    constructor-built grid come from its driver-side geometry."""
    from xesmf_spark.grids import count_degenerate_cells, validate_lat_range

    grids = _constructor_grids(spark)

    def probe():
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            for g in grids.values():
                validate_lat_range(g)
                count_degenerate_cells(g)
                g.facts.digest
        return len(caught)

    n_warned, jobs = jobs_in(probe)
    assert jobs == 0
    assert n_warned == 2  # the 95 and 91 degree latitudes
    assert count_degenerate_cells(grids["grid_from_2d_arrays"]) == 3


def test_driver_facts_match_cell_table_aggregate(spark, jobs_in):
    """A hand-built Grid (no geometry) gets the same latitude and
    degeneracy facts from ONE collect of its cells; a mesh-form grid's
    table pivots back into its very geometry, so the digest agrees too."""
    from xesmf_spark.grids import Grid

    for name, g in _constructor_grids(spark).items():
        bare = Grid(df=g.df, shape=g.shape, has_bounds=g.has_bounds, curvilinear=g.curvilinear)
        facts, jobs = jobs_in(lambda: bare.facts)
        assert jobs == 1, name
        assert facts.lat_out_of_range == g.facts.lat_out_of_range, name
        assert facts.n_degenerate == g.facts.n_degenerate, name
        if not g.geometry.rectilinear:
            assert facts.digest == g.facts.digest, name
        assert jobs_in(lambda: bare.facts)[1] == 0  # once per Grid


@pytest.mark.parametrize("name", ["grid_from_arrays", "grid_from_2d_arrays"])
def test_hand_built_grid_reads_its_table_in_one_job(spark, jobs_in, name):
    """facts, axes, mesh and rings of a Grid built by hand around a cell
    table (interval bounds, or corner columns) all read one geometry,
    collected from the table in ONE job."""
    import numpy as np

    from xesmf_spark.grids import Grid

    g = _constructor_grids(spark)[name]
    bare = Grid(df=g.df, shape=g.shape, has_bounds=g.has_bounds, curvilinear=g.curvilinear)

    def all_four():
        if bare.curvilinear:
            with pytest.raises(ValueError, match="separable"):
                bare.axes
        else:
            assert all(
                np.array_equal(getattr(a, f), getattr(b, f))
                for a, b in zip(bare.axes, g.axes)
                for f in ("c", "lo", "hi")
            )
        return bare.facts, bare.mesh, bare.rings

    (facts, mesh, rings), jobs = jobs_in(all_four)
    assert jobs == 1
    assert facts.n_degenerate == g.facts.n_degenerate
    assert all(np.array_equal(a, b) for a, b in zip(mesh + rings, g.mesh + g.rings))


@pytest.mark.parametrize(
    "bad",
    [
        "negative",  # -1 for the last id
        "duplicate",  # the last id repeats the one before it
        "missing",  # the last row dropped
        "beyond",  # n_cells for the last id
    ],
)
def test_hand_built_grid_rejects_bad_cell_ids(spark, bad):
    """The table of a hand-built Grid must number its cells exactly
    0..n_cells-1, each once; anything else would pivot cells into the
    wrong place (or leave holes) without a word."""
    from xesmf_spark.grids import Grid, grid_2d

    g = grid_2d(spark, 0.0, 4.0, 1.0, 0.0, 2.0, 1.0)
    last = F.col("cell_id") == g.n_cells - 1
    df = {
        "negative": g.df.withColumn("cell_id", F.when(last, -1).otherwise(F.col("cell_id"))),
        "duplicate": g.df.withColumn("cell_id", F.when(last, g.n_cells - 2).otherwise(F.col("cell_id"))),
        "missing": g.df.filter(~last),
        "beyond": g.df.withColumn("cell_id", F.when(last, g.n_cells).otherwise(F.col("cell_id"))),
    }[bad]
    bare = Grid(df=df, shape=g.shape)
    for prop in ("facts", "axes", "mesh", "rings"):
        with pytest.raises(ValueError, match="cell_id"):
            getattr(bare, prop)


def test_constructor_mesh_cell_tables_are_literal(spark):
    """The point list's cell table, column by column and row by row, and
    the column layout of a mesh with corner nodes."""
    grids = _constructor_grids(spark)
    ls = grids["locstream"].df
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in ls.schema.fields] == [
        ("cell_id", "bigint", True),
        ("j", "bigint", True),
        ("i", "bigint", True),
        ("lon", "double", True),
        ("lat", "double", True),
        ("lon_lo", "double", True),
        ("lon_hi", "double", True),
        ("lat_lo", "double", True),
        ("lat_hi", "double", True),
    ]
    assert [tuple(r) for r in ls.orderBy("cell_id").collect()] == [
        (0, 0, 0, 0.0, -20.0, None, None, None, None),
        (1, 0, 1, 5.0, 0.0, None, None, None, None),
        (2, 0, 2, 10.0, 91.0, None, None, None, None),
    ]
    assert grids["grid_from_2d_arrays"].df.columns == [
        "cell_id", "j", "i", "lon", "lat",
        "clon0", "clat0", "clon1", "clat1", "clon2", "clat2", "clon3", "clat3",
        "lon_lo", "lon_hi", "lat_lo", "lat_hi",
    ]


def test_geometry_digest_tells_same_shape_grids_apart(spark):
    from xesmf_spark.grids import grid_from_arrays

    lon = [-135.0, -45.0, 45.0, 135.0]
    uniform = grid_from_arrays(spark, lon, [-60.0, -20.0, 20.0, 60.0])
    gaussian = grid_from_arrays(spark, lon, [-70.0, -25.0, 25.0, 70.0])
    assert uniform.shape == gaussian.shape
    assert uniform.facts.digest != gaussian.facts.digest
    again = grid_from_arrays(spark, lon, [-60.0, -20.0, 20.0, 60.0])
    assert again.facts.digest == uniform.facts.digest
    assert grid_global(spark, 20, 12).facts.digest == grid_global(spark, 20, 12).facts.digest


def test_axes_are_lazy_and_match_grid_1d(spark):
    from xesmf_spark.grids import grid_1d, grid_2d

    g = grid_2d(spark, -30.0, 30.0, 10.0, -20.0, 20.0, 5.0)
    assert "axes" not in g.__dict__
    lon, lat = g.axes
    assert g.axes is g.axes
    want = sorted(map(tuple, grid_1d(spark, -30.0, 30.0, 10.0, "i")[0].collect()))
    assert [(k, lon.lo[k], lon.hi[k], lon.c[k]) for k in range(g.n_x)] == want
    assert lat.c.shape == lat.lo.shape == lat.hi.shape == (g.n_y,)


def test_mesh_is_the_pivoted_cell_table(spark, jobs_in):
    """Grid.mesh of a constructor-built grid comes from its driver-side
    geometry (no job) and equals the cell table's centers pivoted by
    cell_id; a hand-built Grid pays one collect, once."""
    import numpy as np

    from xesmf_spark.grids import Grid

    for name, g in _constructor_grids(spark).items():
        pdf = g.df.select("cell_id", "lon", "lat").toPandas().sort_values("cell_id")
        want = [pdf[c].to_numpy().reshape(g.shape) for c in ("lon", "lat")]
        mesh, jobs = jobs_in(lambda: g.mesh)
        assert jobs == 0, name
        assert all(not a.flags.writeable for a in mesh), name
        assert all(np.array_equal(a, b) for a, b in zip(mesh, want)), name

        bare = Grid(df=g.df, shape=g.shape, has_bounds=g.has_bounds, curvilinear=g.curvilinear)
        mesh, jobs = jobs_in(lambda: bare.mesh)
        assert jobs == 1, name
        assert all(np.array_equal(a, b) for a, b in zip(mesh, want)), name
        assert jobs_in(lambda: bare.mesh) == (mesh, 0)


def test_rings_are_the_pivoted_cell_quads(spark, jobs_in):
    """Grid.rings of a constructor-built grid with bounds comes from its
    driver-side geometry (no job) and equals the cell table's corner
    ring pivoted by cell_id; a hand-built Grid pays one collect, once.
    A grid without bounds has no rings."""
    import numpy as np

    from xesmf_spark.grids import Grid, cell_quads

    for name, g in _constructor_grids(spark).items():
        bare = Grid(df=g.df, shape=g.shape, has_bounds=g.has_bounds, curvilinear=g.curvilinear)
        if not g.has_bounds:
            for grid in (g, bare):
                with pytest.raises(KeyError, match="corners"):
                    grid.rings
            continue
        pdf = cell_quads(g, "").toPandas().sort_values("id")
        want = [pdf[[f"{ax}{k}" for k in range(4)]].to_numpy().T for ax in ("x", "y")]
        rings, jobs = jobs_in(lambda: g.rings)
        assert jobs == 0, name
        assert all(not a.flags.writeable and a.shape == (4, g.n_cells) for a in rings), name
        assert all(np.array_equal(a, b) for a, b in zip(rings, want)), name

        rings, jobs = jobs_in(lambda: bare.rings)
        assert jobs == 1, name
        assert all(np.array_equal(a, b) for a, b in zip(rings, want)), name
        assert jobs_in(lambda: bare.rings) == (rings, 0)


def test_grid_2d_is_one_projection_over_range(spark):
    """The cell table is built by one SQL projection: its analyzed plan
    is a single Project directly over the Range."""
    from xesmf_spark.grids import grid_2d

    plan = grid_2d(spark, -120.0, 120.0, 0.7, -60.0, 60.0, 0.3).df._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Project"
    assert plan.children().size() == 1
    child = plan.children().apply(0)
    assert child.nodeName() == "Range"
    assert child.children().size() == 0
