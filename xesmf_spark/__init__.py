"""xesmf_spark — a PySpark-native regridding + data-pipeline engine.

A from-scratch engine with the query/data-processing capabilities of
xESMF (reference: JiaweiZhuang/xESMF v0.3.0), re-expressed as idiomatic
Spark DataFrame operations:

- weight generation  = spatial joins over grid cell tables. A
  rectilinear pair (conservative, bilinear, patch) separates per axis:
  numpy 1-D weights on the driver, one broadcast cross join for the
  product. Nearest_s2d / nearest_d2s are an exact voxel search over the
  driver-held centers, entering Spark as one local relation;
  curvilinear meshes get polygon clipping
  (conservative) and, from a curvilinear source, one ``mapInPandas``
  over the destination points against the broadcast source mesh
  (bilinear, patch);
- weight application = equi-join + hash aggregate
  (``out[row] = sum_col S(row, col) * in[col]``), the relational form of
  the scipy COO sparse matmul in the reference (xesmf/smm.py:44-95).

Plus large-scale training-data-pipeline operators: text dedup +
analysis under ``xesmf_spark.pipeline`` (exact/MinHash-LSH/SimHash/
n-gram-Jaccard dedup, text stats, fingerprints).
"""

from xesmf_spark.session import install_zip_cache_hook

# Python workers import this package when they unpickle any of its
# functions; installing here covers every worker that runs a UDF of it
install_zip_cache_hook()

from xesmf_spark.grids import Grid, grid_1d, grid_2d, grid_global, locstream, wave_smooth
from xesmf_spark.apply import smm_apply
from xesmf_spark.materialize import release_persisted
from xesmf_spark.regridder import Regridder
from xesmf_spark.relational import (
    asof_join,
    interval_join,
    merge_rollups,
    merge_upsert,
    rollup_delta,
    salted_join,
)
from xesmf_spark.bpe import bpe_encode, bpe_train
from xesmf_spark.pipeline import (
    assign_split,
    decontaminate,
    pack_contexts,
    select_token_budget,
    weighted_sample,
    dedup_groups,
    deterministic_sample,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    text_stats,
    unigram_logprob_score,
)

__version__ = "0.2.0"

__all__ = [
    "Grid",
    "grid_1d",
    "grid_2d",
    "grid_global",
    "locstream",
    "wave_smooth",
    "release_persisted",
    "smm_apply",
    "Regridder",
    "asof_join",
    "interval_join",
    "merge_rollups",
    "merge_upsert",
    "rollup_delta",
    "salted_join",
    "assign_split",
    "decontaminate",
    "pack_contexts",
    "select_token_budget",
    "weighted_sample",
    "unigram_logprob_score",
    "deterministic_sample",
    "dedup_groups",
    "exact_dedup",
    "minhash_dedup_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "text_stats",
    "bpe_train",
    "bpe_encode",
]
