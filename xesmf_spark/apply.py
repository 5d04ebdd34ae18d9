"""Weight application — THE core operator (xesmf/smm.py:44-95).

The reference computes ``out = A.dot(x)`` with a scipy COO matrix,
broadcasting over flattened extra dims (smm.py:89-90). Relationally::

    out[extra, row] = SUM over col of  S(row, col) * field[extra, col]

i.e. an **equi-join + hash aggregate**, with the reference's
``unmapped_action=IGNORE`` semantics (xesmf/backend.py:275-279: a
destination cell with no weights gets **0**, not NULL/NaN) encoded in
that same aggregate: one NULL-valued row per destination cell (and
extra-dim combination) is unioned into its input, and each value is
``coalesce(sum, 0.0)`` — no join against the destination grid.

Scale design:
- the weights table is broadcast when small (nnz ~ 4*n_out for bilinear —
  a few MB for typical grids); at 100 TB field scale this makes the apply
  a map-side broadcast-hash join with NO shuffle of the field except the
  final partial+final hash aggregate on (extra..., row), whose shuffle
  also carries the output-sized destination rows;
- extra dims (time, lev, ...) are simply group-by keys — the reference's
  "flatten extra dims and batch the matmul" trick (smm.py:89) is free;
- partial aggregation (map-side combine) happens automatically for sum().
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xesmf_spark.grids import Grid
from xesmf_spark.materialize import pin


def smm_apply(
    field: DataFrame,
    weights: DataFrame,
    dest_grid: Grid | DataFrame,
    extra_keys: Sequence[str] = (),
    value_cols: Sequence[str] = ("value",),
    broadcast_weights: bool = True,
    attach_coords: bool = True,
    extra_combos: DataFrame | None = None,
) -> DataFrame:
    """Apply a sparse weight matrix to a long-format field.

    Parameters
    ----------
    field : DataFrame with columns ``[*extra_keys, cell_id, *value_cols]``
        (the long-format N-D array; extra dims = leading dims of the
        reference's field, xesmf/frontend.py:321-331).
    weights : DataFrame ``(row BIGINT, col BIGINT, S DOUBLE)`` — COO triplets.
    dest_grid : destination Grid (or its cell DataFrame); every dest cell
        appears in the output for every extra-key combination, unmapped
        cells with value 0.0 (backend.py:275-279 semantics). Its
        ``cell_id`` (with ``lon``/``lat`` when ``attach_coords``) enters
        the aggregate as one row per (cell, combo) with NULL values, so
        the zero-fill costs no join: a NULL leaves a sum untouched (the
        result is bit for bit the sum of the contributions) and a group
        of NULLs alone sums to NULL, which becomes 0.0.
    value_cols : one or more value columns — a Dataset (bag of named
        fields sharing a grid, xesmf/frontend.py:448-511) regrids all its
        variables in ONE shared join+agg.

    The output is ``[cell_id, (lon, lat,) *extra_keys, *value_cols]``
    with one row per (dest cell, combo) — provided, as the weights of
    every builder are, that weight rows are dest cells and the field's
    combos are among ``extra_combos``: a contribution outside those sets
    would add its own output row instead of being dropped.

    Multi-variable apply shares a single join and a single shuffle —
    the relational analogue of the reference looping ``regrid_dataarray``
    per variable but strictly better (one pass over the field).

    ``extra_combos``: the distinct extra-dim combinations (a dimension
    table). When omitted it is derived from the contributions summed
    per (combo, row) (output-sized, persisted once, then fed to the
    same union) — NOT from a second scan of the field, which at
    100-TB field scale would double the read just to enumerate
    (time, lev). Pass it explicitly when you have it (the usual case:
    the combos are known upstream).

    BEHAVIORAL REQUIREMENT of the derive-from-aggregate default: the
    field must be DENSE over the weighted source cells — every extra
    combo must have at least one row surviving the weight join
    (the reference's N-D array contract, smm.py:77-86, guarantees
    exactly this). A combo whose rows ALL miss the join (sparse field +
    weights not covering it) would vanish from the output instead of
    appearing zero-filled; callers with sparse fields MUST pass
    ``extra_combos`` explicitly to keep the zero-fill contract.
    """
    dest_df = dest_grid.df if isinstance(dest_grid, Grid) else dest_grid
    w = F.broadcast(weights) if broadcast_weights else weights

    extra = list(extra_keys)
    contrib = field.join(w, field["cell_id"] == w["col"], "inner").select(
        *extra, "row", *[(F.col("S") * F.col(v)).alias(v) for v in value_cols]
    )
    if extra and extra_combos is None:
        # derive combos from the (small) pre-aggregated contributions,
        # pinned so the field is scanned exactly once — a dense field's
        # combos all survive the inner join (reference contract
        # smm.py:77-86)
        contrib = pin(contrib.groupBy(*extra, "row").agg(*[F.sum(v).alias(v) for v in value_cols]))
        extra_combos = contrib.select(*extra).distinct()

    # one presence row per (dest cell, combo) with NULL values: sum()
    # skips the NULLs, so a cell with contributions keeps its exact sum
    # and a cell without any sums to NULL, coalesced to 0.0
    coords = ["lon", "lat"] if attach_coords else []
    dest = dest_df.select(F.col("cell_id").alias("row"), *coords)
    if extra:
        dest = dest.crossJoin(F.broadcast(extra_combos.select(*extra)))
    aggs = [F.coalesce(F.sum(v), F.lit(0.0)).alias(v) for v in value_cols]
    aggs += [F.max(c).alias(c) for c in coords]
    out = contrib.unionByName(dest, allowMissingColumns=True).groupBy(*extra, "row").agg(*aggs)
    return out.select(F.col("row").alias("cell_id"), *coords, *extra, *value_cols)
