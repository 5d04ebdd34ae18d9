"""The ``smm_apply`` contract, value bit for value bit.

Weights are rounded to 20 fractional bits and field values are
multiples of 1/4, so every product ``S * v`` and every partial sum is
exact: the result does not depend on the order Spark sums in, and a
numpy reference summed in any order must agree to the last bit. The
bit patterns are compared (``view(np.int64)``), so a ``-0.0`` where the
reference has ``0.0`` fails. The field holds negative values and
``-0.0``; destination cells without a contribution must read ``+0.0``.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xesmf_spark.apply import smm_apply
from xesmf_spark.grids import grid_global
from xesmf_spark.weights import bilinear_weights, conservative_weights, nearest_weights

_Q = float(2**20)

WEIGHTS = {
    "bilinear_periodic": lambda a, b: bilinear_weights(a, b, periodic=True),
    # the source's last column has no eastern neighbour: a strip of
    # destination cells gets no weights
    "bilinear_noperiodic": lambda a, b: bilinear_weights(a, b, periodic=False),
    "conservative": conservative_weights,
    # one weight per SOURCE cell: most destination cells get none
    "nearest_d2s": lambda a, b: nearest_weights(a, b, direction="d2s"),
}


@pytest.fixture(scope="module")
def grids(spark):
    return grid_global(spark, 20, 12), grid_global(spark, 15, 9)


def _weights(grids, name):
    """The builder's frame with ``S`` rounded to 20 fractional bits (still
    lazy) and its triplets as numpy arrays."""
    w = WEIGHTS[name](*grids)
    w = w.select("row", "col", (F.round(F.col("S") * _Q) / _Q).alias("S"))
    pdf = w.toPandas()
    return w, (pdf["row"].to_numpy(np.int64), pdf["col"].to_numpy(np.int64), pdf["S"].to_numpy())


def _values(n, seed):
    """Multiples of 1/4 in [-3, 3], every 7th one ``-0.0``."""
    v = np.random.default_rng(seed).integers(-12, 13, n) / 4.0
    v[::7] = -0.0
    return v


def _field(spark, rows, extra=(), value_cols=("value",)):
    cols = [*extra, "cell_id", *value_cols]
    pdf = pd.DataFrame({c: rows[c] for c in cols})
    schema = ", ".join(
        [f"{k} bigint" for k in (*extra, "cell_id")] + [f"{v} double" for v in value_cols]
    )
    return spark.createDataFrame(pdf, schema)


def _reference(triplets, n_out, cells, values):
    """Sum of ``S * v`` per destination cell over the present ``cells``,
    in numpy, starting from ``+0.0``."""
    row, col, S = triplets
    x = np.full(max(col.max(), cells.max()) + 1, np.nan)
    x[cells] = values
    hit = ~np.isnan(x[col])
    y = np.zeros(n_out)
    np.add.at(y, row[hit], S[hit] * x[col[hit]])
    return y


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.int64)


def _assert_bits(got, want, what):
    bad = np.flatnonzero(_bits(got) != _bits(want))
    assert bad.size == 0, f"{what}: {bad.size} cells differ, first {bad[:5]}: {got[bad[:5]]} vs {want[bad[:5]]}"


def _check_schema(out, extra=(), value_cols=("value",), coords=True):
    want = ["cell_id", *(["lon", "lat"] if coords else []), *extra, *value_cols]
    assert out.columns == want
    types = dict(out.dtypes)
    assert all(types[c] == "bigint" for c in ("cell_id", *extra))
    assert all(types[c] == "double" for c in want if c not in ("cell_id", *extra))
    fields = {f.name: f for f in out.schema.fields}
    assert not any(fields[v].nullable for v in value_cols)


@pytest.mark.parametrize("name", sorted(WEIGHTS))
def test_apply_without_extra_keys(spark, grids, name):
    g_in, g_out = grids
    w, trip = _weights(grids, name)
    v = _values(g_in.n_cells, 1)
    cells = np.arange(g_in.n_cells)
    out = smm_apply(_field(spark, {"cell_id": cells, "value": v}), w, g_out)
    _check_schema(out)
    pdf = out.toPandas().sort_values("cell_id")
    assert pdf["cell_id"].tolist() == list(range(g_out.n_cells))
    want = _reference(trip, g_out.n_cells, cells, v)
    _assert_bits(pdf["value"].to_numpy(), want, name)
    # the destination's own centers, unchanged
    lon, lat = g_out.mesh
    _assert_bits(pdf["lon"].to_numpy(), lon.ravel(), "lon")
    _assert_bits(pdf["lat"].to_numpy(), lat.ravel(), "lat")
    if name in ("bilinear_noperiodic", "nearest_d2s"):
        assert np.unique(trip[0]).size < g_out.n_cells  # zero-filled cells exist


def test_apply_without_broadcast(spark, grids):
    g_in, g_out = grids
    w, trip = _weights(grids, "bilinear_noperiodic")
    v = _values(g_in.n_cells, 2)
    cells = np.arange(g_in.n_cells)
    out = smm_apply(
        _field(spark, {"cell_id": cells, "value": v}), w, g_out,
        broadcast_weights=False, attach_coords=False,
    )
    _check_schema(out, coords=False)
    pdf = out.toPandas().sort_values("cell_id")
    assert pdf["cell_id"].tolist() == list(range(g_out.n_cells))
    _assert_bits(pdf["value"].to_numpy(), _reference(trip, g_out.n_cells, cells, v), "value")


def test_apply_two_value_columns(spark, grids):
    g_in, g_out = grids
    w, trip = _weights(grids, "conservative")
    va, vb = _values(g_in.n_cells, 3), _values(g_in.n_cells, 4)
    cells = np.arange(g_in.n_cells)
    field = _field(spark, {"cell_id": cells, "va": va, "vb": vb}, value_cols=("va", "vb"))
    out = smm_apply(field, w, g_out, value_cols=("va", "vb"), attach_coords=False)
    _check_schema(out, value_cols=("va", "vb"), coords=False)
    pdf = out.toPandas().sort_values("cell_id")
    for c, v in (("va", va), ("vb", vb)):
        _assert_bits(pdf[c].to_numpy(), _reference(trip, g_out.n_cells, cells, v), c)


def test_apply_derives_combos_of_a_dense_field(spark, grids):
    g_in, g_out = grids
    w, trip = _weights(grids, "bilinear_periodic")
    n = g_in.n_cells
    v = {t: _values(n, 10 + t) for t in range(3)}
    rows = {
        "time": np.repeat(np.arange(3), n),
        "cell_id": np.tile(np.arange(n), 3),
        "value": np.concatenate([v[t] for t in range(3)]),
    }
    out = smm_apply(_field(spark, rows, extra=("time",)), w, g_out, extra_keys=("time",))
    _check_schema(out, extra=("time",))
    pdf = out.toPandas()
    assert len(pdf) == 3 * g_out.n_cells
    for t in range(3):
        got = pdf[pdf["time"] == t].sort_values("cell_id")
        assert got["cell_id"].tolist() == list(range(g_out.n_cells))
        want = _reference(trip, g_out.n_cells, np.arange(n), v[t])
        _assert_bits(got["value"].to_numpy(), want, f"time {t}")


def test_apply_zero_fills_a_sparse_field_over_passed_combos(spark, grids):
    """Every (destination cell, passed combo) appears: whole source
    cells are missing at every time, time 1 misses a whole cell range
    and time 3 has no rows at all."""
    g_in, g_out = grids
    w, trip = _weights(grids, "conservative")
    n = g_in.n_cells
    present = {}
    for t in range(3):
        cells = np.arange(n)
        cells = cells[cells % 5 != 0]
        if t == 1:
            cells = cells[(cells < 40) | (cells >= 120)]
        present[t] = (cells, _values(cells.size, 20 + t))
    rows = {
        "time": np.concatenate([np.full(c.size, t) for t, (c, _) in present.items()]),
        "cell_id": np.concatenate([c for c, _ in present.values()]),
        "value": np.concatenate([v for _, v in present.values()]),
    }
    combos = spark.range(4).select(F.col("id").alias("time"))
    out = smm_apply(
        _field(spark, rows, extra=("time",)), w, g_out,
        extra_keys=("time",), extra_combos=combos, attach_coords=False,
    )
    _check_schema(out, extra=("time",), coords=False)
    pdf = out.toPandas()
    assert len(pdf) == 4 * g_out.n_cells
    for t in range(4):
        got = pdf[pdf["time"] == t].sort_values("cell_id")
        assert got["cell_id"].tolist() == list(range(g_out.n_cells))
        want = (
            _reference(trip, g_out.n_cells, *present[t]) if t in present else np.zeros(g_out.n_cells)
        )
        _assert_bits(got["value"].to_numpy(), want, f"time {t}")


def test_broadcast_apply_is_one_aggregate(spark, grids, jobs_in, tmp_path):
    """Without extra keys the broadcast apply of stored weights (what a
    Regridder reuses) is three jobs — the weights broadcast, one shuffle
    into the group-by-sum and the result stage: the zero-fill rides in
    that aggregate, with no outer join."""
    g_in, g_out = grids
    conservative_weights(g_in, g_out).write.parquet(str(tmp_path / "w"))
    w = spark.read.parquet(str(tmp_path / "w"))
    field = _field(spark, {"cell_id": np.arange(g_in.n_cells), "value": _values(g_in.n_cells, 5)})
    out = smm_apply(field, w, g_out)
    rows, jobs = jobs_in(out.collect)
    assert len(rows) == g_out.n_cells
    assert jobs <= 3, jobs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" not in plan, plan
