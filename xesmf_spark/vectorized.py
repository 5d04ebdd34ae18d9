"""Vectorized physical strategies for weight application (SURVEY.md §4.3).

The relational join-agg (apply.py) is exact and scales to arbitrary
field sizes, but for dense many-field workloads the reference's
one-matmul-per-chunk design (scipy COO dot, xesmf/smm.py:90; dask
map_blocks, xesmf/frontend.py:375-389) is the faster shape. Two Spark
physical strategies implement it:

1. ``smm_apply_vectorized`` — fields as WIDE rows ``(extra dims...,
   values: array<double>)`` processed by ``mapInArrow`` with the sparse
   weight triplets broadcast to every executor. Data transits the
   JVM<->Python Arrow boundary (measured ~0.5-1 GB/s aggregate on
   list columns — fine for interactive use, not the 100-TB path).

2. ``smm_apply_files`` — the dense-tensor FAST path: the field lives in
   parquet (where a 100-TB field lives anyway), Spark schedules
   row-group SPLITS, and each task reads its split natively with
   pyarrow, applies the kernel, and writes its output part file
   natively. Field bytes never transit the JVM — the only rows crossing
   the boundary are a tiny manifest. This mirrors how Spark's own file
   sinks work (tasks write part files, the driver commits), with the
   scan+compute fused into the Python worker.

Kernel design (pure numpy; scipy unavailable in this environment):
triplets are pre-sorted by destination row (CSR-style). The batch is
transposed ONCE to ``(n_in, b)`` C-contiguous so that every nnz access
``XT[col]`` reads a CONTIGUOUS b-vector — the same memory-access trick
that makes scipy's CSR @ dense-with-trailing-batch fast (each nnz
touches one cache-resident row instead of b scattered elements). Then
one fancy-index gather + one ``np.add.reduceat`` segment-sum per batch:
O(nnz * b) streaming work, no per-row Python.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Executor-process allocator setup (workers are forked AFTER import, and
# reused across tasks): this VM page-faults fresh anonymous memory at
# only ~5 GB/s aggregate while warm memory streams at ~470 GB/s, so the
# jemalloc pool must RETAIN freed buffers across tasks instead of
# returning pages to the kernel. One-time per process.
def _init_worker_allocator() -> None:
    try:
        pa.set_memory_pool(pa.jemalloc_memory_pool())
        pa.jemalloc_set_decay_ms(600_000)
    except (NotImplementedError, pa.ArrowNotImplementedError):
        pass


_init_worker_allocator()
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


#: weights DataFrame -> ((n_in, n_out), CSR arrays), cached for the
#: lifetime of the weights object: collecting the triplets is a Spark
#: job of 0.3-1.2 s (measured), and a Regridder applies the SAME
#: weights to array after array — the reference holds its scipy matrix
#: across calls for exactly this reason (xesmf/frontend.py:315-318).
#: ``regrid_numpy`` runs the kernel against these arrays on the driver;
#: ``_CSR_BC_CACHE`` holds the broadcast of the same arrays for the
#: executor-side applies. Weak keys so a dropped weights frame releases
#: both. Regridders on one unchanged weight-cache file share a single
#: weights frame, hence a single collect and a single broadcast.
import weakref

_CSR_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_CSR_BC_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _cached(cache, weights: DataFrame, n_in: int, n_out: int, build):
    hit = cache.get(weights)
    if hit is not None and hit[0] == (n_in, n_out):
        return hit[1]
    value = build()
    cache[weights] = ((n_in, n_out), value)
    return value


def _csr(weights: DataFrame, n_in: int, n_out: int):
    """The weights' CSR arrays on the driver (see ``_collect_csr``)."""
    return _cached(_CSR_CACHE, weights, n_in, n_out, lambda: _collect_csr(weights, n_in, n_out))


def _csr_broadcast(spark: SparkSession, weights: DataFrame, n_in: int, n_out: int):
    return _cached(
        _CSR_BC_CACHE,
        weights,
        n_in,
        n_out,
        lambda: spark.sparkContext.broadcast(_csr(weights, n_in, n_out)),
    )


def _collect_csr(weights: DataFrame, n_in: int, n_out: int):
    """Collect COO triplets to the driver and pre-sort by destination row
    (the bounded nnz ~ 4*n_out premise — same as the broadcast-hash join
    in the relational path). Returns (uniq_rows, seg_starts, cols, vals).
    """
    trip = weights.select("row", "col", "S").toPandas()
    rows = trip["row"].to_numpy(np.int64)
    cols = trip["col"].to_numpy(np.int64)
    vals = trip["S"].to_numpy(np.float64)
    if len(rows) and (
        rows.min() < 0 or cols.min() < 0 or rows.max() >= n_out or cols.max() >= n_in
    ):
        raise ValueError(
            f"weight indices outside shape ({n_out}, {n_in}) — shape metadata is "
            "required because max indices under-determine it (xesmf/smm.py:20-27)"
        )
    order = np.argsort(rows, kind="stable")
    rows, cols, vals = rows[order], cols[order], vals[order]
    uniq_rows, seg_starts = np.unique(rows, return_index=True)
    return uniq_rows, seg_starts, cols, vals


def _list_to_matrix(vcol: pa.Array, n_in: int) -> np.ndarray:
    """Arrow list<double> column -> (b, n_in) float64 matrix, zero-copy
    from the list child buffer (avoids pyarrow's per-element fallback)."""
    if isinstance(vcol, pa.ChunkedArray):
        vcol = vcol.combine_chunks()
    b = len(vcol)
    flat = vcol.flatten()  # logical value range of the list array
    X = flat.to_numpy(zero_copy_only=False)  # primitive double -> buffer view
    if X.size != b * n_in:
        raise ValueError(
            f"field rows have ragged/unexpected length: {X.size} values "
            f"for {b} rows, expected n_in={n_in} each"
        )
    return X.reshape(b, n_in)


def _matrix_to_list(Y: np.ndarray) -> pa.ListArray:
    b, n_out = Y.shape
    offsets = pa.array(np.arange(0, (b + 1) * n_out, n_out, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(np.ascontiguousarray(Y).reshape(-1)))


#: Worker-process scratch buffers, REUSED across tasks (workers are
#: long-lived and reused): page-faulting fresh anonymous memory is this
#: environment's scaling bottleneck (~5 GB/s aggregate vs ~470 GB/s on
#: warm pages), so the kernel's output and temporaries must come from
#: already-touched pages. Capacity-keyed so growth re-allocates once.
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n:
        _SCRATCH[name] = buf = np.empty(n, dtype=np.float64)
    return buf[:n]


def _spmv_batch(X: np.ndarray, csr, n_out: int, out: np.ndarray | None = None) -> np.ndarray:
    """(b, n_in) -> (b, n_out): Y = A @ X.T per slice.

    Per-slice loop over C-contiguous rows with worker-global REUSED
    scratch buffers (``np.take(..., out=)`` + in-place multiply +
    ``reduceat(out=)``). The loop shape is deliberate: a batched
    (nnz, b) gather materializes ~tens of MB of FRESH allocations per
    batch, and page-faulting fresh pages is the scaling bottleneck under
    many concurrent executor processes (measured: per-slice+reuse
    146 ms/task at 32-way parallel vs 7.0 s/task for the
    batched-allocation variant on the same data). Per-slice work is
    still fully vectorized C: one gather, one multiply, one segment-sum
    over nnz. Unmapped destination rows stay 0
    (unmapped_action=IGNORE, xesmf/backend.py:275-279).

    Without ``out`` the returned array is a view of process-global
    scratch: it is valid until the NEXT ``_spmv_batch`` call in this
    process (callers write or serialize it before computing another
    batch — true for both the per-task parquet write and the mapInArrow
    yield, which is streamed out before the generator resumes). A
    caller that keeps the result passes a ``(b, n_out)`` float64
    ``out`` and gets it back filled.
    """
    uniq, starts, cols, vals = csr
    b = X.shape[0]
    Y = _scratch("Y", b * n_out).reshape(b, n_out) if out is None else out
    Y.fill(0.0)
    if len(cols) == 0 or b == 0:
        return Y
    contrib = _scratch("contrib", len(cols))
    red = _scratch("red", len(starts))
    for k in range(b):
        np.take(X[k], cols, out=contrib)
        contrib *= vals
        np.add.reduceat(contrib, starts, out=red)
        Y[k, uniq] = red
    return Y


def smm_apply_vectorized(
    field_wide: DataFrame,
    weights: DataFrame,
    n_in: int,
    n_out: int,
    extra_cols: Sequence[str] = (),
    value_col: str = "values",
) -> DataFrame:
    """Apply COO weights to a wide field: one output array row per input
    row, ``out = A.dot(x)`` per slice (xesmf/smm.py:90 semantics,
    including unmapped-row -> 0 since Y starts as zeros)."""
    spark = field_wide.sparkSession
    bc = _csr_broadcast(spark, weights, n_in, n_out)

    extra_cols = list(extra_cols)
    out_fields = [field_wide.schema[c] for c in extra_cols]
    out_fields.append(StructField(value_col, ArrayType(DoubleType()), False))
    out_schema = StructType(out_fields)

    def kernel(batches):
        for rb in batches:
            vcol = rb.column(rb.schema.get_field_index(value_col))
            X = _list_to_matrix(vcol, n_in)
            Y = _spmv_batch(X, bc.value, n_out)
            arrays = [rb.column(rb.schema.get_field_index(e)) for e in extra_cols]
            yield pa.RecordBatch.from_arrays(
                arrays + [_matrix_to_list(Y)], extra_cols + [value_col]
            )

    return field_wide.mapInArrow(kernel, out_schema)


def smm_apply_files(
    spark: SparkSession,
    input_path: str,
    weights: DataFrame,
    output_path: str,
    n_in: int,
    n_out: int,
    extra_cols: Sequence[str] = ("time", "lev"),
    value_col: str = "values",
    part_naming: str = "unique",
    sink: str = "parquet",
) -> DataFrame | None:
    """Parquet-to-parquet distributed SpMV — the dense-field scale path.

    Spark schedules (file, row-group) splits; each task reads its splits
    natively with pyarrow (no JVM transit of field bytes), runs the
    transposed-gather kernel once over all its rows, and writes one
    output part file. Returns the output as a DataFrame
    (``spark.read.parquet(output_path)`` with the written schema, so
    resolving it runs no job).

    At cluster scale this is the plan you want for a 100-TB field: scan
    and sink are both executor-local and Arrow-native, the weight
    triplets are a broadcast variable, and the only shuffle-free
    coordination is the split list (O(row groups) rows on the driver) —
    the same metadata Spark's own FileSourceScanExec holds.

    ``part_naming``: "unique" (default) makes collision-free part files
    per run — always safe. "task" names parts ``part-<task>.parquet``
    so an idempotent re-run into the SAME directory overwrites in place
    (page-cache pages are reused warm instead of dirtied fresh — the
    steady-state shape of a periodically re-materialized dataset).
    Caller owns directory hygiene in "task" mode: stale parts from a
    run with a different task count are not cleaned up.

    ``sink="discard"`` computes the full result (scan + kernel +
    output-table assembly) but skips the durable parquet write and
    returns ``None`` — the apples-to-apples twin of an in-RAM consumer
    (e.g. the reference's scipy timing, which materializes a numpy
    array but persists nothing).
    """
    if sink not in ("parquet", "discard"):
        raise ValueError(f"sink must be 'parquet' or 'discard', got {sink!r}")
    bc = _csr_broadcast(spark, weights, n_in, n_out)
    extra_cols = list(extra_cols)

    splits = []
    for p in sorted(glob.glob(os.path.join(input_path, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            splits.append((p, rg))
    if not splits:
        raise FileNotFoundError(f"no parquet files under {input_path}")
    in_schema = pq.read_schema(splits[0][0])
    out_schema = pa.schema(
        [in_schema.field(e) for e in extra_cols]
        + [pa.field(value_col, pa.list_(pa.float64()))]
    )
    tasks = min(len(splits), spark.sparkContext.defaultParallelism)
    os.makedirs(output_path, exist_ok=True)
    run_id = uuid.uuid4().hex[:8]

    # contiguous, even split->task assignment computed driver-side and
    # shipped inside the task closure (the split list is O(row groups) —
    # tiny). spark.range(n, numPartitions=n) puts exactly one row in
    # each partition with id == partition index, so distribution costs
    # ZERO shuffles and zero sampling jobs (repartitionByRange samples
    # the input with extra jobs — measured ~0.5 s of pure overhead per
    # apply on an idle local[32]).
    cuts = [len(splits) * i // tasks for i in range(tasks + 1)]
    assign = {i: splits[cuts[i] : cuts[i + 1]] for i in range(tasks)}
    sdf = spark.range(0, tasks, 1, tasks)
    manifest_schema = StructType(
        [
            StructField("part", StringType()),
            StructField("rows", LongType()),
            StructField("read_ms", LongType()),
            StructField("kernel_ms", LongType()),
            StructField("write_ms", LongType()),
        ]
    )

    def task(batches):
        # one task = possibly several splits; fuse them into ONE kernel
        # call so the transpose and gather amortize over the whole batch
        import time as _time

        work, tids = [], []
        for rb in batches:
            for tid in rb.column(0).to_pylist():
                work += assign[tid]
                tids.append(tid)
        if not work:
            return
        t0 = _time.perf_counter()
        tables = []
        for p, rg in work:
            # memory_map: data pages come straight off the (warm) page
            # cache without an extra pool copy — measured ~30% faster
            # reads under 32-way contention on this box
            tables.append(pq.ParquetFile(p, memory_map=True).read_row_group(rg))
        tb = pa.concat_tables(tables)
        X = _list_to_matrix(tb.column(value_col), n_in)
        t1 = _time.perf_counter()
        Y = _spmv_batch(X, bc.value, n_out)
        t2 = _time.perf_counter()
        ot = pa.Table.from_arrays(
            [tb.column(e).combine_chunks() for e in extra_cols] + [_matrix_to_list(Y)],
            schema=out_schema,
        )
        if sink == "discard":
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(["<discarded>"]),
                    pa.array([len(ot)], pa.int64()),
                    pa.array([int((t1 - t0) * 1000)], pa.int64()),
                    pa.array([int((t2 - t1) * 1000)], pa.int64()),
                    pa.array([0], pa.int64()),
                ],
                ["part", "rows", "read_ms", "kernel_ms", "write_ms"],
            )
            return
        if part_naming == "task":
            part = os.path.join(output_path, f"part-{min(tids):04d}.parquet")
        else:
            part = os.path.join(
                output_path, f"part-{run_id}-{os.getpid()}-{uuid.uuid4().hex[:6]}.parquet"
            )
        # lz4 + byte-stream-split on the float payload: ~1.6x fewer
        # bytes for ~15 ms/task of (parallel) CPU. The sink is
        # disk-writeback-bound under sustained load (~600 MB/s device
        # behind a multi-GB/s page cache), so fewer dirty bytes is
        # wall-clock, not just space — and the right default for any
        # production float sink.
        pq.write_table(
            ot,
            part,
            compression="lz4",
            use_byte_stream_split=[value_col],
            row_group_size=len(ot),
            use_dictionary=False,
            write_statistics=False,
        )
        t3 = _time.perf_counter()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([part]),
                pa.array([len(ot)], pa.int64()),
                pa.array([int((t1 - t0) * 1000)], pa.int64()),
                pa.array([int((t2 - t1) * 1000)], pa.int64()),
                pa.array([int((t3 - t2) * 1000)], pa.int64()),
            ],
            ["part", "rows", "read_ms", "kernel_ms", "write_ms"],
        )

    manifest = sdf.mapInArrow(task, manifest_schema)
    global LAST_MANIFEST
    LAST_MANIFEST = manifest.collect()  # run the job (commit point)
    if sink == "discard":
        return None
    # the schema the tasks wrote: reading without it runs a
    # schema-inference job on every apply
    return spark.read.schema(from_arrow_schema(out_schema)).parquet(output_path)


#: per-task rows of the most recent smm_apply_files run, including the
#: read/kernel/write phase timings — the perf feedback loop for tuning
#: the dense-field path (bench/diagnostics read this after a run)
LAST_MANIFEST: list = []


def write_wide_parquet(
    wide_rows,
    path: str,
    n_in: int,
    gen_values,
    extra_names: Sequence[str] = ("time", "lev"),
    files: int = 16,
    rows_per_group: int = 16,
) -> None:
    """Helper: materialize a dense wide field to parquet from a python
    generator ``gen_values(extra_tuple) -> np.ndarray(n_in)`` —
    used by bench/tests to build input fields without paying the JVM
    array-serialization tax. Driver-local (test-scale fixture only)."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [pa.field(e, pa.int64()) for e in extra_names]
        + [pa.field("values", pa.list_(pa.float64()))]
    )
    rows = list(wide_rows)
    per_file = max(1, (len(rows) + files - 1) // files)
    for fi in range(0, len(rows), per_file):
        chunk = rows[fi : fi + per_file]
        w = pq.ParquetWriter(
            os.path.join(path, f"part-{fi // per_file:04d}.parquet"),
            schema,
            compression="none",
        )
        for g0 in range(0, len(chunk), rows_per_group):
            gg = chunk[g0 : g0 + rows_per_group]
            X = np.stack([gen_values(e) for e in gg])
            cols = [pa.array([e[k] for e in gg]) for k in range(len(extra_names))]
            w.write_table(
                pa.Table.from_arrays(cols + [_matrix_to_list(X)], schema=schema),
                row_group_size=len(gg),
            )
        w.close()


def long_to_wide(
    field: DataFrame,
    extra_keys: Sequence[str] = (),
    cell_col: str = "cell_id",
    value_col: str = "value",
) -> DataFrame:
    """(extra..., cell_id, value) long rows -> (extra..., values array)
    wide rows, positionally indexed by cell_id. The field must be DENSE
    (every cell present per extra combo) — the reference's N-D array
    contract (xesmf/smm.py:77-86) carried over."""
    extra = list(extra_keys)
    pairs = F.array_sort(F.collect_list(F.struct(F.col(cell_col), F.col(value_col))))
    return field.groupBy(*extra).agg(
        F.transform(pairs, lambda x: x[value_col]).alias("values")
    )


def wide_to_long(
    wide: DataFrame,
    extra_keys: Sequence[str] = (),
    value_col: str = "values",
) -> DataFrame:
    """(extra..., values array) -> (extra..., cell_id, value)."""
    extra = list(extra_keys)
    return wide.select(
        *extra, F.posexplode(value_col).alias("cell_id", "value")
    ).withColumn("cell_id", F.col("cell_id").cast("long"))
