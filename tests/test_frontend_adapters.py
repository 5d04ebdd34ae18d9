"""Native-array ingestion facade — ports of the reference's frontend
tests that drive ``regridder(numpy_array)`` / ``regridder(DataArray)``
(xesmf/tests/test_frontend.py:117-137 periodic pair,
test_frontend.py:175-200 regrid_dataarray/broadcasting). xarray is not
installed in this container, so the DataArray/Dataset paths are gated
tests; the numpy path — the shared compute core of all of them — is
exercised end-to-end.
"""

from __future__ import annotations

import numpy as np
import pytest

from xesmf_spark.grids import grid_global, grid_from_arrays
from xesmf_spark.regridder import Regridder, _try_import_xarray


def _lonlat(grid):
    pdf = grid.df.select("cell_id", "lon", "lat").orderBy("cell_id").toPandas()
    return (
        pdf["lon"].to_numpy().reshape(grid.shape),
        pdf["lat"].to_numpy().reshape(grid.shape),
    )


def _wave(lon, lat):
    # xesmf/data.py:8-44 analytic benchmark field
    return 2.0 + np.cos(np.radians(lat)) ** 2 * np.cos(2.0 * np.radians(lon))


@pytest.fixture(scope="module")
def grids(spark):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    return g_in, g_out


def test_regrid_numpy_conservative(spark, grids):
    # test_frontend.py:175-192 numpy portion
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "conservative")
    lon_i, lat_i = _lonlat(g_in)
    lon_o, lat_o = _lonlat(g_out)
    out = rg(_wave(lon_i, lat_i))  # ndarray dispatch through __call__
    assert out.shape == g_out.shape
    ref = _wave(lon_o, lat_o)
    rel = np.abs((ref - out) / ref)
    assert np.max(rel) < 0.05


def test_regrid_numpy_periodic_wrong_and_correct(spark, grids):
    # test_frontend.py:117-137: without periodic the seam cells are
    # unmapped (-> 0, rel err exactly 1); with periodic the wrap-union
    # brackets close the seam
    g_in, g_out = grids
    lon_i, lat_i = _lonlat(g_in)
    lon_o, lat_o = _lonlat(g_out)
    data, ref = _wave(lon_i, lat_i), _wave(lon_o, lat_o)

    out_wrong = Regridder(spark, g_in, g_out, "bilinear")(data)
    rel = np.abs((ref - out_wrong) / ref)
    assert np.max(rel) == 1.0

    g_in_p = grid_global(spark, 20, 12, periodic=True)
    out_right = Regridder(spark, g_in_p, g_out, "bilinear", periodic=True)(data)
    rel = np.abs((ref - out_right) / ref)
    assert np.max(rel) < 0.065


def test_regrid_numpy_4d_broadcast(spark, grids):
    # test_frontend.py:194-200: extra (time, lev) dims broadcast through
    # the SpMV; by linearity every slice must equal its scalar multiple
    # of the 2-D result
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "conservative")
    lon_i, lat_i = _lonlat(g_in)
    data2d = _wave(lon_i, lat_i)
    time = np.arange(1, 5)[:, None, None, None]
    lev = np.arange(1, 4)[None, :, None, None]
    data4d = time * lev * data2d[None, None]
    out4d = rg(data4d)
    out2d = rg(data2d)
    assert out4d.shape == (4, 3) + g_out.shape
    expect = time * lev * out2d[None, None]
    np.testing.assert_allclose(out4d, expect, rtol=1e-12, atol=1e-12)


def test_regrid_numpy_from_1d_axes(spark):
    # test_frontend.py:105-113 + 151-168: grids built from plain 1-D
    # coordinate arrays (the dict-construction UX) regrid identically
    lon_axis = np.arange(-170.0, 180.0, 20.0)
    lat_axis = np.arange(-84.0, 90.0, 12.0)
    lon_axis_o = np.arange(-172.5, 180.0, 15.0)
    lat_axis_o = np.arange(-85.5, 90.0, 9.0)
    g_in = grid_from_arrays(spark, lon_axis, lat_axis, periodic=True)
    g_out = grid_from_arrays(spark, lon_axis_o, lat_axis_o)
    rg = Regridder(spark, g_in, g_out, "bilinear", periodic=True)
    data = _wave(lon_axis[None, :], lat_axis[:, None])
    out = rg(data)
    ref = _wave(lon_axis_o[None, :], lat_axis_o[:, None])
    rel = np.abs((ref - out) / ref)
    assert np.max(rel) < 0.065


def test_regrid_numpy_shape_validation(spark, grids):
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear")
    with pytest.raises(ValueError):
        rg(np.zeros((3, 4)))
    with pytest.raises(TypeError):
        rg("not a field")


def _apply_vectorized(spark, rg, X):
    """``X`` (k, n_in) through the executor-side ``smm_apply_vectorized``."""
    import pandas as pd

    from xesmf_spark.vectorized import smm_apply_vectorized

    wide = spark.createDataFrame(
        pd.DataFrame({"slice_idx": np.arange(len(X)), "values": list(X)}),
        schema="slice_idx long, values array<double>",
    )
    out = smm_apply_vectorized(wide, rg.weights, rg.n_in, rg.n_out, extra_cols=["slice_idx"])
    return np.stack(out.toPandas().sort_values("slice_idx")["values"].to_numpy())


@pytest.mark.parametrize("method", ["bilinear", "conservative", "nearest_s2d", "locstream"])
def test_regrid_numpy_bit_identical_to_vectorized(spark, grids, tmp_path, method):
    """The driver-side regrid_numpy and the executor-side
    smm_apply_vectorized run one kernel on one CSR: same bits."""
    from xesmf_spark.grids import locstream

    g_in, g_out = grids
    if method == "locstream":
        g_in = locstream(spark, [-120.0, -40.0, 10.0, 75.0, 160.0], [-60.0, 10.0, 45.0, -20.0, 70.0])
        method = "nearest_s2d"
    rg = Regridder(spark, g_in, g_out, method, weights_dir=str(tmp_path))
    X = np.random.default_rng(1).random((6, rg.n_in))
    shape_in = (rg.n_in,) if rg.locstream_in else g_in.shape
    got = rg.regrid_numpy(X.reshape((2, 3) + shape_in))
    assert got.shape == (2, 3) + g_out.shape
    np.testing.assert_array_equal(got.reshape(6, rg.n_out), _apply_vectorized(spark, rg, X))


def test_regrid_numpy_jobs(spark, grids, tmp_path, jobs_in):
    """The first call on a weights frame collects the triplets (one
    job); later calls on the cached CSR launch none."""
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear", weights_dir=str(tmp_path))
    x = np.ones((4,) + g_in.shape)
    _, jobs_first = jobs_in(lambda: rg.regrid_numpy(x))
    _, jobs_warm = jobs_in(lambda: rg(x))
    assert (jobs_first, jobs_warm) == (1, 0)


def test_regrid_numpy_returns_independent_arrays(spark, grids, tmp_path):
    """Each call returns an array of its own: a second call must not
    overwrite the first result (the kernel's scratch is shared)."""
    from xesmf_spark.vectorized import _SCRATCH

    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "conservative", weights_dir=str(tmp_path))
    rng = np.random.default_rng(2)
    y1 = rg.regrid_numpy(rng.random((3,) + g_in.shape))
    kept = y1.copy()
    y2 = rg.regrid_numpy(rng.random((3,) + g_in.shape))
    np.testing.assert_array_equal(y1, kept)
    assert not np.shares_memory(y1, y2)
    assert "Y" not in _SCRATCH or not np.shares_memory(y1, _SCRATCH["Y"])


def test_regrid_numpy_leaves_no_stack_sized_buffer(spark, grids, tmp_path):
    """A large stack does not grow the process-global kernel scratch."""
    from xesmf_spark.vectorized import _SCRATCH

    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear", weights_dir=str(tmp_path))
    before = _SCRATCH["Y"].size if "Y" in _SCRATCH else 0
    rg.regrid_numpy(np.ones((2000,) + g_in.shape))
    after = _SCRATCH["Y"].size if "Y" in _SCRATCH else 0
    assert after <= before


def test_regrid_numpy_threads_get_their_own_results(spark, grids, tmp_path):
    """Driver threads share the kernel's scratch buffers; concurrent
    calls must still each return their own input's regridding."""
    import sys
    import threading

    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear", weights_dir=str(tmp_path))
    inputs = [np.random.default_rng(s).random((4,) + g_in.shape) for s in range(8)]
    expected = [rg.regrid_numpy(x) for x in inputs]
    mismatches = []

    def work(i):
        for _ in range(20):
            if not np.array_equal(rg.regrid_numpy(inputs[i]), expected[i]):
                mismatches.append(i)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(len(inputs))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert mismatches == []


def test_xarray_facade_gated(spark, grids):
    # without xarray the DataArray path must fail with a clear message,
    # not an AttributeError mid-regrid
    if _try_import_xarray() is not None:
        pytest.skip("xarray present; gate not reachable")
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear")
    with pytest.raises(ImportError, match="xarray"):
        rg.regrid_dataarray(object())
