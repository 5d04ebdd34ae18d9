"""Weight-builder queries — the Spark-native replacement for
``esmf_regrid_build`` (xesmf/backend.py:191-282, which runs in ESMF
Fortran). Each builder returns a lazy DataFrame of COO triplets
``(row BIGINT, col BIGINT, S DOUBLE)`` (FIXTURES.md §1.4).

Methods (xesmf/backend.py:241-246):
- ``conservative``  → interval overlaps per axis  (conservative.py)
- ``bilinear``      → 1-D brackets per axis        (bilinear.py)
- ``nearest_s2d`` / ``nearest_d2s`` → exact nearest center from a
  driver-side voxel search, one local relation (nearest.py)
- ``patch``         → Lagrange patch-recovery tensor build (patch.py)

A rectilinear source has separable axes (``Grid.axes``, numpy read
from the grid's driver-side geometry; it raises on a curvilinear
mesh, so the builders check ``Grid.curvilinear`` first). Its 1-D
weights are computed on the driver in numpy; one Spark stage — a
broadcast cross join of the per-axis tables, or a ``mapInPandas``
over point destinations — emits the O(nnz) triplets. Otherwise:
- conservative: a curvilinear mesh on either side → polygon clipping
  of each destination cell against the source cells' corner rings
  (conservative_clip.py);
- bilinear: a curvilinear source → point-in-quad search and inverse
  bilinear map (curvilinear.py); a curvilinear or locstream
  destination → per-point brackets (bilinear.py);
- patch: a curvilinear source → least-squares patches over the
  located quad (patch_curvilinear.py); a curvilinear destination →
  per-point patch weights (patch.py).

These general-mesh builders share one shape: they read the source on
the driver (its centers, ``Grid.mesh``, or its corner rings,
``Grid.rings``), broadcast it with a numpy bin index, and run one
``mapInPandas`` over the destination cells; no join or shuffle. The
nearest builders and ``knn_join`` read both grids' centers and search
on the driver: their rows, one per needle, enter Spark as one local
relation.
"""

from xesmf_spark.weights.conservative import conservative_weights
from xesmf_spark.weights.conservative_clip import conservative_weights_clip
from xesmf_spark.weights.bilinear import bilinear_weights
from xesmf_spark.weights.nearest import nearest_weights, knn_join
from xesmf_spark.weights.patch import patch_weights
from xesmf_spark.weights.io import read_weights_netcdf, write_weights_netcdf

METHODS = ("bilinear", "conservative", "nearest_s2d", "nearest_d2s", "patch")

__all__ = [
    "conservative_weights",
    "conservative_weights_clip",
    "bilinear_weights",
    "nearest_weights",
    "patch_weights",
    "knn_join",
    "read_weights_netcdf",
    "write_weights_netcdf",
    "METHODS",
]
