"""Weight application — THE core operator (xesmf/smm.py:44-95).

The reference computes ``out = A.dot(x)`` with a scipy COO matrix,
broadcasting over flattened extra dims (smm.py:89-90). Relationally::

    out[extra, row] = SUM over col of  S(row, col) * field[extra, col]

i.e. an **equi-join + hash aggregate**, with the reference's
``unmapped_action=IGNORE`` semantics (xesmf/backend.py:275-279: a
destination cell with no weights gets **0**, not NULL/NaN) encoded as a
destination-grid LEFT join + ``coalesce(sum, 0.0)``.

Scale design:
- the weights table is broadcast when small (nnz ~ 4*n_out for bilinear —
  a few MB for typical grids); at 100 TB field scale this makes the apply
  a map-side broadcast-hash join with NO shuffle of the field except the
  final partial+final hash aggregate on (extra..., row);
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
        cells with value 0.0 (backend.py:275-279 semantics).
    value_cols : one or more value columns — a Dataset (bag of named
        fields sharing a grid, xesmf/frontend.py:448-511) regrids all its
        variables in ONE shared join+agg.

    Multi-variable apply shares a single join and a single shuffle —
    the relational analogue of the reference looping ``regrid_dataarray``
    per variable but strictly better (one pass over the field).

    ``extra_combos``: the distinct extra-dim combinations (a dimension
    table). When omitted it is derived from the aggregated result
    (output-sized, persisted once) — NOT from a second scan of the
    field, which at 100-TB field scale would double the read just to
    enumerate (time, lev). Pass it explicitly when you have it (the
    usual case: the combos are known upstream).

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
    aggs = [
        F.sum(F.col("S") * F.col(v)).alias(f"__agg_{v}") for v in value_cols
    ]
    applied = (
        field.join(w, field["cell_id"] == w["col"], "inner")
        .groupBy(*extra, "row")
        .agg(*aggs)
    )
    if extra and extra_combos is None:
        # derive combos from the (small) aggregate, and persist it so
        # the field is scanned exactly once — a dense field's combos
        # all survive the inner join (reference contract smm.py:77-86)
        applied = pin(applied)
        extra_combos = applied.select(*extra).distinct()

    # base = dest cells x distinct extra-dim combos (so unmapped cells and
    # empty groups still appear, with 0.0 — hash-match with the oracle).
    # String aliases qualify the (possibly self-referencing) join: when
    # combos derive from `applied`, both join sides share lineage.
    if attach_coords:
        base = dest_df.select(F.col("cell_id"), "lon", "lat")
    else:
        base = dest_df.select("cell_id")
    if extra:
        base = base.crossJoin(F.broadcast(extra_combos))
    base = base.alias("__b")
    applied = applied.alias("__a")

    cond = F.col("__b.cell_id") == F.col("__a.row")
    if extra:
        cond = cond & _and_all(
            [F.col(f"__b.{k}").eqNullSafe(F.col(f"__a.{k}")) for k in extra]
        )
    out = base.join(applied, cond, "left")

    sel = [F.col("__b.cell_id")]
    if attach_coords:
        sel += [F.col("__b.lon"), F.col("__b.lat")]
    sel += [F.col(f"__b.{k}") for k in extra]
    sel += [
        F.coalesce(F.col(f"__a.__agg_{v}"), F.lit(0.0)).alias(v) for v in value_cols
    ]
    return out.select(*sel)


def _and_all(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
