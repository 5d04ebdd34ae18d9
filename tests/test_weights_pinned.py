"""Weight values pinned per builder path.

Each case builds one weight set and compares the md5 of its sorted
``(row, col, round(S, 9))`` arrays with a recorded digest. The other
weight tests check properties (row sums, quadratic exactness, oracle
agreement after apply); these catch any change to the triplets
themselves, such as a refactor that moves one weight by more than 1e-9.
"""

import hashlib

import numpy as np
import pytest

from tests.test_curvilinear import _rotated_nodes, _seam_mesh
from tests.test_regrid import ONE_VOXEL, voxel_side
from xesmf_spark.grids import grid_2d, grid_from_2d_arrays, grid_global
from xesmf_spark.queries import _curvilinear_pair, _fixture_grids, _locstream_pair
from xesmf_spark.weights import (
    bilinear_weights,
    conservative_weights,
    conservative_weights_clip,
    nearest_weights,
    patch_weights,
)
from xesmf_spark.weights.nearest import knn_join


def _global_mesh_pair(spark):
    """The 20x12-degree global grid read as a PERIODIC curvilinear mesh
    (its meshgrid of centers), onto the 15x9-degree global grid: the
    patch stencils of the first and last columns wrap mod n_x."""
    g = grid_global(spark, 20, 12)
    lon, lat = np.meshgrid(g.geometry.lon, g.geometry.lat)
    src = grid_from_2d_arrays(spark, lon, lat, periodic=True)
    return src, grid_global(spark, 15, 9)


def _one_voxel(build, *args, **kwargs):
    with voxel_side(ONE_VOXEL):
        return build(*args, **kwargs)


def _cornered(spark, lonc, latc, lonb, latb):
    return grid_from_2d_arrays(spark, lonc, latc, lon_b=lonb, lat_b=latb)


CASES = {
    "bilinear_periodic": (
        lambda s: bilinear_weights(*_fixture_grids(s), periodic=True),
        "1654d8ed15b501e59455f581a0c2f0e6",
    ),
    "bilinear_noperiodic": (
        lambda s: bilinear_weights(*_fixture_grids(s), periodic=False),
        "68d08cfc001f06ca3790a2ef6cbfe416",
    ),
    "bilinear_locstream": (
        lambda s: bilinear_weights(*_locstream_pair(s), periodic=True),
        "248c38c81cc4ce62b52134f1e368b4ca",
    ),
    "patch_periodic": (
        lambda s: patch_weights(*_fixture_grids(s), periodic=True),
        "a0669289b1a205f8925e87d10f935b6a",
    ),
    "conservative_axis": (
        lambda s: conservative_weights(*_fixture_grids(s)),
        "ce98491cdd60abeb95862a22034b1cd4",
    ),
    # equal to the axis digest: on a rectilinear pair the clipper's
    # overlaps agree with the axis decomposition to 1e-12
    "conservative_clip": (
        lambda s: conservative_weights_clip(*_fixture_grids(s)),
        "ce98491cdd60abeb95862a22034b1cd4",
    ),
    # curvilinear sources with corner nodes take the clipper's
    # seam-aware candidate search: a rotated regional mesh, and a
    # rotated mesh straddling the ±180° seam in the wrapped convention
    "conservative_clip_curvilinear": (
        lambda s: conservative_weights(
            _cornered(s, *_rotated_nodes(15, 20, 15.0)), grid_2d(s, -20, 20, 4.0, -5, 25, 3.0)
        ),
        "7295265c68f3b11597042be6c0a4cf6a",
    ),
    "conservative_clip_seam": (
        lambda s: conservative_weights(
            _cornered(s, *_seam_mesh(6, 8, 12.0, wrap=True)),
            grid_2d(s, 165.0, 195.0, 3.0, -12.0, 12.0, 3.0),
        ),
        "22eb35e52e5cf10a4edc70c701a0a2a7",
    ),
    # "broadcast" ranks every pool point (the whole pool in one voxel),
    # "bucketed" is the voxel-pruned search nearest_weights runs
    "nearest_s2d_broadcast": (
        lambda s: _one_voxel(nearest_weights, *_fixture_grids(s), direction="s2d"),
        "f52ef643f3be7e063906ac8aa6488ffe",
    ),
    "nearest_s2d_bucketed": (
        lambda s: nearest_weights(*_fixture_grids(s), direction="s2d"),
        "f52ef643f3be7e063906ac8aa6488ffe",
    ),
    "nearest_d2s_broadcast": (
        lambda s: _one_voxel(nearest_weights, *_fixture_grids(s), direction="d2s"),
        "18e217f121212004e254c0fc32ff45c4",
    ),
    "nearest_d2s_bucketed": (
        lambda s: nearest_weights(*_fixture_grids(s), direction="d2s"),
        "18e217f121212004e254c0fc32ff45c4",
    ),
    "bilinear_curvilinear": (
        lambda s: bilinear_weights(*_curvilinear_pair(s)),
        "70ef9905c7da6f9789c6d99e7185566b",
    ),
    "patch_curvilinear": (
        lambda s: patch_weights(*_curvilinear_pair(s)),
        "49185d54f0cdf65ba20d6ab00c2a42e3",
    ),
    "patch_curvilinear_periodic": (
        lambda s: patch_weights(*_global_mesh_pair(s)),
        "a8dfbd934c78ef207f52c34f6254e0d6",
    ),
}


def _digest(weights) -> str:
    pdf = weights.select("row", "col", "S").toPandas()
    row, col, s = (pdf[c].to_numpy() for c in ("row", "col", "S"))
    order = np.lexsort((s, col, row))
    h = hashlib.md5()
    h.update(np.ascontiguousarray(row[order], np.int64).tobytes())
    h.update(np.ascontiguousarray(col[order], np.int64).tobytes())
    h.update(np.ascontiguousarray(np.round(s[order], 9), np.float64).tobytes())
    return h.hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_weights_match_pinned_digest(spark, case):
    build, want = CASES[case]
    assert _digest(build(spark)) == want


def test_knn_join_matches_pinned_digest(spark):
    """``knn_join(g_out, g_in, k=3)`` on the fixture pair, as ``knn_top3``
    calls it: md5 of the (left_id, rank)-sorted left_id, right_id, rank
    and dist2 arrays."""
    g_in, g_out = _fixture_grids(spark)
    pdf = knn_join(g_out, g_in, k=3).toPandas()
    cols = [pdf[c].to_numpy() for c in ("left_id", "right_id", "rank", "dist2")]
    order = np.lexsort((cols[2], cols[0]))
    h = hashlib.md5()
    for c, t in zip(cols, (np.int64, np.int64, np.int64, np.float64)):
        h.update(np.ascontiguousarray(c[order], t).tobytes())
    assert h.hexdigest() == "9cfd5ffad7c76726ac5c479b981cdc0e"
