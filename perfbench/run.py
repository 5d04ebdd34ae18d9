#!/usr/bin/env python3
"""Regrid benchmark: the paper's two phases, end to end and per layer.

The paper splits xESMF into a weight build (spatial-join builders, once
per grid pair) and a weight apply ``y = A.x`` (Arrow SpMV or join +
group-by-sum, once per field). This benchmark drives the public
functions of ``session``, ``grids``, ``weights``, ``regridder``,
``vectorized`` and ``apply`` from outside and times them.

Workloads (closed loop, one client, ``local[nproc]``, one JVM per run):

- ``apply_dense``: the canonical pair (bilinear 400x600 -> 300x400,
  480,000 nnz) applied parquet-to-parquet by ``smm_apply_files`` to a
  10x50-slice float64 field of 0.96 GB, weights reused from a warm cache.
- ``interactive_small``: the small global pair 12x18 -> 45x90; every
  call builds fresh Grid objects, constructs a Regridder from the warm
  cache, runs ``regrid_numpy`` and a DataFrame apply (the relational
  join + group-by-sum) with a collect, cycling through all five methods.

Each workload builds its weight cache from scratch during set-up (the
cache key encodes grid geometry, not code version), so the weight
builders are timed in ``setup_s`` and, per method, in the traced run.
A traced run also sweeps the apply layers its loop does not call, so
every per-layer metric is measured on both workloads.

Two workloads, not more: the benchmark is run 22 times per workload
within a fixed time budget, and each run pays ~7 s of JVM start plus
~20-27 s of cold weight builds and fixtures before its timed window.

Usage::

    python3 perfbench/run.py --workload apply_dense --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Spans of a traced run are written
to ``.perfbench_work/trace-<workload>-<seed>.json``. All files live under
``.perfbench_work`` in the checkout and are wiped at the start of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
T_START = time.perf_counter()

METHODS = ("bilinear", "conservative", "nearest_s2d", "nearest_d2s", "patch")
#: methods whose weight rows sum to 1 on interior destination cells
#: (nearest_d2s accumulates every source onto its nearest destination)
ROW_SUM_ONE = ("bilinear", "conservative", "nearest_s2d", "patch")

#: canonical pair (BASELINE.md): 400x600 -> 300x400 over [-120,120]x[-60,60]
CANON_IN = (-120.0, 120.0, 0.4, -60.0, 60.0, 0.3)
CANON_OUT = (-120.0, 120.0, 0.6, -60.0, 60.0, 0.4)
CANON_BILINEAR_NNZ = 480_000
#: small global pair (Compare_algorithms): 12x18 -> 45x90
SMALL_IN = (20.0, 15.0)
SMALL_OUT = (4.0, 4.0)

#: the dense field: 10 time x 50 lev slices of the canonical source grid
DENSE_SLICES = (10, 50)
#: full-field applies run in set-up before the timed loop
DENSE_WARMUP = 2
#: seeded slices recomputed by the independent numpy SpMV
N_SAMPLE = 3
#: interactive input array: (slices, n_y, n_x) of the small source grid
INTERACTIVE_SLICES = 10
#: slices of the small-pair field the traced sweep applies with
#: smm_apply_files: enough that each task's phases last milliseconds
SWEEP_SMALL_SLICES = 20_000
#: a run is killed (non-zero exit) after this many seconds
DEADLINE_S = 170.0


# --------------------------------------------------------------------------
# analytic field and independent reference SpMV (numpy only)


def wave(lon_deg, lat_deg):
    """``2 + cos^2(lat) cos(2 lon)``, the reference's analytic test field."""
    import numpy as np

    lat, lon = np.radians(lat_deg), np.radians(lon_deg)
    return 2.0 + np.cos(lat) ** 2 * np.cos(2.0 * lon)


def centres_2d(spec):
    """Cell-centre lon/lat (flattened row-major, cell_id order) of a
    ``grid_2d(lon0, lon1, dlon, lat0, lat1, dlat)`` grid."""
    import numpy as np

    lon0, lon1, dlon, lat0, lat1, dlat = spec
    nx, ny = round((lon1 - lon0) / dlon), round((lat1 - lat0) / dlat)
    lon = lon0 + (np.arange(nx) + 0.5) * dlon
    lat = lat0 + (np.arange(ny) + 0.5) * dlat
    return np.tile(lon, ny), np.repeat(lat, nx), (ny, nx)


def centres_global(d_lon, d_lat):
    return centres_2d((-180.0, 180.0, d_lon, -90.0, 90.0, d_lat))


def read_weights(path):
    """(row, col, S) from a Regridder's parquet cache, read with pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["row", "col", "S"])
    return (
        t.column("row").to_numpy(),
        t.column("col").to_numpy(),
        t.column("S").to_numpy(),
    )


def ref_spmv(w, x, n_out):
    """Reference ``y = A.x`` for one slice: one bincount over the triplets."""
    import numpy as np

    row, col, s = w
    return np.bincount(row, weights=s * x[col], minlength=n_out)


# --------------------------------------------------------------------------
# tracing: spans in memory, job/task counts from the status tracker


class Tracer:
    """Spans around calls into the program's layers.

    Disabled (``--trace 0``) it only runs the body. Enabled, every span
    runs its Spark jobs under its own job group and records the jobs,
    tasks and failed tasks the status tracker reports for that group.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None  # id of the workload operation being traced

    def _set_group(self, sid):
        if self.sc is not None:
            if sid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter() - T_START
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter() - T_START
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            rec.update(self._counts(sid))

    def _counts(self, sid):
        if self.sc is None:
            return {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{sid}")
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    # -- derived per-layer numbers ----------------------------------------

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def self_times(self):
        """Span duration minus the part of it its child spans cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def dump(self, path):
        selft = self.self_times()
        out = [dict(s, self_s=selft[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=0, default=str)


def dur(spans):
    return [s["end"] - s["start"] for s in spans]


def med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def tail(xs):
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    return xs[n - 11] if n >= 11 else xs[-1]


# --------------------------------------------------------------------------
# host: process-tree memory, calibration, watchdog


def descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid``, from the ppid field in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_kb(root_pid: int) -> dict[str, list[int]]:
    """Resident memory (kB) of ``root_pid`` and its descendants, grouped
    by command name."""
    by_name: dict[str, list[int]] = {}
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except (OSError, ValueError):
            continue
        if "VmRSS" in fields:
            by_name.setdefault(fields["Name"].strip(), []).append(int(fields["VmRSS"].split()[0]))
    return by_name


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree, sampled."""

    def __init__(self, period=0.25):
        super().__init__(daemon=True)
        self.period, self.peak, self.at_peak = period, 0.0, {}
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            by_name = tree_rss_kb(os.getpid())
            total = sum(map(sum, by_name.values())) / 1024.0
            if total > self.peak:
                self.peak = total
                self.at_peak = {k: [round(x / 1024) for x in v] for k, v in by_name.items()}
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


def calib_numpy_ms() -> float:
    """A fixed numpy loop (sort + matmul on fixed data)."""
    import numpy as np

    a = np.random.default_rng(0).random(400_000)
    m = np.random.default_rng(1).random((256, 256))
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a)
        m @ m
    return (time.perf_counter() - t0) * 1e3


def calib_spark_ms(spark) -> float:
    """A fixed small Spark shuffle job."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(200_000, numPartitions=4).groupBy((F.col("id") % 97).alias("k")).count().collect()
    return (time.perf_counter() - t0) * 1e3


def kill_tree(sig=signal.SIGKILL):
    """Signal every descendant of this process."""
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def start_watchdog():
    def fire():
        print(f"perfbench: deadline of {DEADLINE_S:.0f} s exceeded", file=sys.stderr, flush=True)
        kill_tree()
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()
    return t


# --------------------------------------------------------------------------
# run context


class Run:
    def __init__(self, seed, seconds, trace):
        import numpy as np

        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.tr = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.op_times: list[float] = []
        self.op_traced: list[bool] = []
        self.rel_errs: list[float] = []
        self.phase: dict[str, float] = {}
        self.calib: dict[str, list[float]] = {"numpy": [], "spark": []}
        self.spark = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def check(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)

    def path(self, *parts):
        return os.path.join(WORK, *parts)

    def calibrate(self):
        self.calib["numpy"].append(calib_numpy_ms())
        self.calib["spark"].append(calib_spark_ms(self.spark))

    def measure(self, op, min_ops=3):
        """Closed loop: run ``op(i)`` until ``seconds`` have passed and at
        least ``min_ops`` operations ran. In a traced run every other
        operation runs untraced, so the run measures its own overhead."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < min_ops or time.perf_counter() < t_end:
            traced = self.tr.enabled and i % 2 == 0
            self.tr.op = i if traced else None
            saved, self.tr.enabled = self.tr.enabled, traced
            t0 = time.perf_counter()
            try:
                with self.tr.span("bench.op", index=i):
                    op(i)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                self.check(False, f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            else:
                self.attempted += 1
            finally:
                self.op_times.append(time.perf_counter() - t0)
                self.op_traced.append(traced)
                self.tr.enabled = saved
                self.tr.op = None
            i += 1


# --------------------------------------------------------------------------
# layer calls shared by the workloads


def weight_checks(run: Run, method: str, path: str, n_out: int, interior_rows, nnz: int):
    """nnz from the cache footers, S values and interior row sums."""
    import numpy as np

    row, col, s = read_weights(path)
    run.check(len(s) == nnz, f"{method}: cached nnz {len(s)} != {nnz}")
    run.check(bool(len(s)) and row.min() >= 0 and row.max() < n_out, f"{method}: row index range")
    if method in ("nearest_s2d", "nearest_d2s"):
        run.check(bool(np.all(s == 1.0)), f"{method}: S != 1")
    if method in ("bilinear", "conservative", "patch"):
        sums = np.bincount(row, weights=s, minlength=n_out)[interior_rows]
        err = float(np.max(np.abs(sums - 1.0)))
        run.check(err < 1e-9, f"{method}: interior row sums off by {err:.3g}")


def traced_build(run: Run, make_grids, method, periodic, weights_dir, reuse=False):
    """Construct a Regridder; traced runs also time the lazy builder call
    (plan) and a count of its result (exec) on the same fresh grids."""
    from xesmf_spark.grids import count_degenerate_cells, validate_lat_range
    from xesmf_spark.regridder import Regridder

    tr = run.tr
    g_in, g_out = make_grids()
    if tr.enabled:
        for g in (g_in, g_out):
            with tr.span("grids.validate"):
                validate_lat_range(g)
            with tr.span("grids.degenerate_check"):
                count_degenerate_cells(g)
    name = "regridder.reuse_construct" if reuse else "regridder.construct"
    with tr.span(name, method=method):
        rg = Regridder(
            run.spark, g_in, g_out, method, periodic=periodic,
            reuse_weights=reuse, weights_dir=weights_dir,
        )
    if tr.enabled and not reuse:
        run.spark.catalog.clearCache()
        build = weight_builder(method)
        with tr.span(f"weights.{method}.plan"):
            df = build(rg)
        with tr.span(f"weights.{method}.exec") as a:
            a["nnz"] = df.count()
        run.spark.catalog.clearCache()
    return rg


def weight_builder(method):
    """The public builder the Regridder dispatches ``method`` to."""
    from xesmf_spark.weights import (
        bilinear_weights,
        conservative_weights,
        nearest_weights,
        patch_weights,
    )

    return {
        "bilinear": lambda rg: bilinear_weights(rg.grid_in, rg.grid_out, periodic=rg.periodic),
        "conservative": lambda rg: conservative_weights(rg.grid_in, rg.grid_out),
        "nearest_s2d": lambda rg: nearest_weights(rg.grid_in, rg.grid_out, direction="s2d"),
        "nearest_d2s": lambda rg: nearest_weights(rg.grid_in, rg.grid_out, direction="d2s"),
        "patch": lambda rg: patch_weights(rg.grid_in, rg.grid_out, periodic=rg.periodic),
    }[method]


def write_wide(path, values_of, keys, n_in, files):
    """Dense wide field: one parquet row (``time``, ``lev``, ``values``)
    per slice, ``files`` files of one row group each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cuts = [len(keys) * i // files for i in range(files + 1)]
    for f in range(files):
        ks = keys[cuts[f] : cuts[f + 1]]
        X = np.stack([values_of(k) for k in ks])
        offsets = pa.array(np.arange(0, (len(ks) + 1) * n_in, n_in, dtype=np.int32))
        table = pa.table(
            {
                "time": pa.array([k[0] for k in ks], pa.int64()),
                "lev": pa.array([k[1] for k in ks], pa.int64()),
                "values": pa.ListArray.from_arrays(offsets, pa.array(X.reshape(-1))),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:04d}.parquet"), compression="none", row_group_size=len(ks))


def write_long(path, k, x):
    """One long-format slice ``k``: rows (``slice``, ``cell_id``, ``value``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "slice": pa.array(np.full(x.size, k, dtype=np.int64)),
            "cell_id": pa.array(np.arange(x.size, dtype=np.int64)),
            "value": pa.array(x),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0000.parquet"), compression="none")


def field_checks(run, label, y, x, w, n_out, amp, off, truth_out, interior):
    """One seeded slice: the program's output against the independent
    numpy SpMV, and the analytic relative error on interior cells."""
    import numpy as np

    ref = ref_spmv(w, x, n_out)
    diff = float(np.max(np.abs(y - ref)) / max(1.0, float(np.max(np.abs(ref)))))
    run.check(diff < 1e-9, f"{label}: differs from reference SpMV by {diff:.3g}")
    unit = (y[interior] - off) / amp
    run.rel_errs.append(float(np.max(np.abs(unit - truth_out[interior]) / np.abs(truth_out[interior]))))


# --------------------------------------------------------------------------
# workloads: each returns a Workload; ``sweep`` runs in traced runs only


class Workload:
    def __init__(self, setup, op, verify, sweep):
        self.setup, self.op, self.verify, self.sweep = setup, op, verify, sweep


def apply_dense(run: Run):
    import numpy as np

    from xesmf_spark import vectorized
    from xesmf_spark.grids import grid_2d

    def make():
        return grid_2d(run.spark, *CANON_IN), grid_2d(run.spark, *CANON_OUT)

    lon_i, lat_i, shape_in = centres_2d(CANON_IN)
    lon_o, lat_o, _ = centres_2d(CANON_OUT)
    n_in, n_out = lon_i.size, lon_o.size
    wave_in, wave_out = wave(lon_i, lat_i), wave(lon_o, lat_o)
    # two source cells clear of the domain edge
    interior = (np.abs(lon_o) < 119.0) & (np.abs(lat_o) < 59.0)
    n_t, n_l = DENSE_SLICES
    keys = [(t, l) for t in range(n_t) for l in range(n_l)]
    amp = run.rng.uniform(0.5, 2.0, len(keys))
    off = run.rng.uniform(-1.0, 1.0, len(keys))
    sample = sorted(run.rng.choice(len(keys), N_SAMPLE, replace=False).tolist())
    src, dst = run.path("dense-in"), run.path("dense-out")
    state = {}

    def values(k):
        return amp[k] * wave_in + off[k]

    def check_slice(label, k, y):
        field_checks(run, f"{label} slice {k}", y, values(k), state["w"], n_out,
                     amp[k], off[k], wave_out, interior)

    def apply_files():
        rg = state["rg"]
        with run.tr.span("vectorized.apply_files", rows=len(keys), nnz=rg.nnz, n_in=n_in, n_out=n_out) as a:
            vectorized.smm_apply_files(run.spark, src, rg.weights, dst, n_in, n_out, part_naming="task")
            a["manifest"] = [r.asDict() for r in vectorized.LAST_MANIFEST]
        return sum(r.rows for r in vectorized.LAST_MANIFEST)

    def setup():
        write_wide(src, lambda key: values(key[0] * n_l + key[1]), keys, n_in, run.cpus)
        # fresh build into the empty cache, then the reuse construction
        # from that cache on fresh grids: the regime every apply runs in
        wdir = run.path("weights")
        rg = traced_build(run, make, "bilinear", False, wdir)
        run.check(rg.nnz == CANON_BILINEAR_NNZ, f"bilinear nnz {rg.nnz} != {CANON_BILINEAR_NNZ}")
        state["rg"] = traced_build(run, make, "bilinear", False, wdir, reuse=True)
        run.check(state["rg"].nnz == rg.nnz, "bilinear nnz changed on reuse")
        weight_checks(run, "bilinear", rg.filename, n_out, interior, rg.nnz)
        state["w"] = read_weights(rg.filename)
        # warm-up on the real field: python workers and their scratch
        # buffers, the CSR broadcast, the output files in the page cache
        for _ in range(DENSE_WARMUP):
            apply_files()

    def op(i):
        rows = apply_files()
        run.check(rows == len(keys), f"apply {i}: {rows} output rows != {len(keys)}")

    def verify():
        import pyarrow.parquet as pq

        want = {keys[k]: k for k in sample}
        for f in sorted(os.listdir(dst)):
            path = os.path.join(dst, f)
            t = pq.read_table(path, columns=["time", "lev"])
            hits = [(r, want.pop(key)) for r, key in
                    enumerate(zip(t.column("time").to_pylist(), t.column("lev").to_pylist())) if key in want]
            if hits:
                col = pq.read_table(path, columns=["values"]).column("values")
                for r, k in hits:
                    check_slice("apply_files", k, col[r].values.to_numpy())
        run.check(not want, f"slices missing from the output: {sorted(want)}")

    def sweep():
        """The apply layers the loop does not call, on the same pair: the
        facade's regrid_numpy and the relational join + group-by-sum on
        one long-format slice. The other four builders are not swept:
        cold on this pair they take ~40 s; interactive_small traces them."""
        import pyarrow.dataset as ds

        rg, k = state["rg"], sample[0]
        with run.tr.span("regridder.regrid_numpy"):
            y = rg.regrid_numpy(values(k).reshape((1,) + shape_in))
        check_slice("regrid_numpy", k, y.reshape(-1))
        long_in, long_out = run.path("sweep-long"), run.path("sweep-long-out")
        write_long(long_in, k, values(k))
        field = run.spark.read.parquet(long_in)
        with run.tr.span("regridder.call"):
            out = rg(field, extra_keys=("slice",), extra_combos=field.select("slice").distinct())
        with run.tr.span("apply.exec", rows_in=n_in, rows_out=n_out):
            out.write.mode("overwrite").parquet(long_out)
        t = ds.dataset(long_out, format="parquet").to_table(columns=["cell_id", "value"])
        y = np.full(n_out, np.nan)
        y[t.column("cell_id").to_numpy()] = t.column("value").to_numpy()
        check_slice("relational apply", k, y)

    return Workload(setup, op, verify, sweep)


def interactive_small(run: Run):
    import numpy as np
    from pyspark.sql import functions as F

    from xesmf_spark import vectorized
    from xesmf_spark.grids import grid_global, wave_smooth

    lon_i, lat_i, shape_in = centres_global(*SMALL_IN)
    lon_o, lat_o, _ = centres_global(*SMALL_OUT)
    n_in, n_out = lon_i.size, lon_o.size
    wave_in, wave_out = wave(lon_i, lat_i), wave(lon_o, lat_o)
    # source centres stop at +-82.5 latitude; beyond, bilinear and patch
    # extrapolate or leave cells unmapped
    interior = np.abs(lat_o) < 70.0
    wdir = run.path("weights")
    cache = {}

    def make_for(method):
        periodic = method != "conservative"
        return lambda: (
            grid_global(run.spark, *SMALL_IN, periodic=periodic),
            grid_global(run.spark, *SMALL_OUT),
        )

    def construct(m, reuse):
        return traced_build(run, make_for(m), m, m != "conservative", wdir, reuse=reuse)

    def setup():
        for m in METHODS:
            rg = construct(m, reuse=False)
            weight_checks(run, m, rg.filename, n_out, interior, rg.nnz)
            cache[m] = (rg.nnz, read_weights(rg.filename))
        # warm-up, one call per method: the per-call Spark jobs are
        # still getting faster over the first cycle
        for m in METHODS:
            call(m)

    def call(m):
        amp = run.rng.uniform(0.5, 2.0, INTERACTIVE_SLICES)
        off = run.rng.uniform(-1.0, 1.0, INTERACTIVE_SLICES)
        X = amp[:, None] * wave_in[None, :] + off[:, None]
        rg = construct(m, reuse=True)
        with run.tr.span("regridder.regrid_numpy"):
            Y = rg.regrid_numpy(X.reshape((INTERACTIVE_SLICES,) + shape_in))
        with run.tr.span("regridder.call"):
            field = rg.grid_in.df.select(
                "cell_id", (F.lit(float(amp[0])) * wave_smooth() + F.lit(float(off[0]))).alias("value")
            )
            out = rg(field).select("cell_id", "value")
        with run.tr.span("apply.exec", rows_in=n_in, rows_out=n_out):
            rows = out.collect()
        y_df = np.zeros(n_out)
        for r in rows:
            y_df[r["cell_id"]] = r["value"]
        return rg, amp, off, X, Y.reshape(INTERACTIVE_SLICES, n_out), y_df, len(rows)

    def op(i):
        m = METHODS[i % len(METHODS)]
        nnz, w = cache[m]
        rg, amp, off, X, Y, y_df, n_rows = call(m)
        run.check(rg.nnz == nnz, f"{m}: nnz {rg.nnz} != {nnz} built in set-up")
        run.check(n_rows == n_out, f"{m}: DataFrame apply gave {n_rows} rows")
        for k, y in [(k, Y[k]) for k in range(INTERACTIVE_SLICES)] + [(0, y_df)]:
            ref = ref_spmv(w, X[k], n_out)
            diff = float(np.max(np.abs(y - ref)) / max(1.0, float(np.max(np.abs(ref)))))
            run.check(diff < 1e-9, f"{m} slice {k}: differs from reference SpMV by {diff:.3g}")
        if m in ROW_SUM_ONE:
            unit = (Y[:, interior] - off[:, None]) / amp[:, None]
            run.rel_errs.append(float(np.max(np.abs(unit - wave_out[interior]) / wave_out[interior])))

    def sweep():
        rg = construct("bilinear", reuse=True)
        src, dst = run.path("sweep-wide"), run.path("sweep-wide-out")
        keys = [(0, k) for k in range(SWEEP_SMALL_SLICES)]
        write_wide(src, lambda key: wave_in, keys, n_in, run.cpus)
        with run.tr.span("vectorized.apply_files", rows=len(keys), nnz=rg.nnz, n_in=n_in, n_out=n_out) as a:
            vectorized.smm_apply_files(run.spark, src, rg.weights, dst, n_in, n_out, part_naming="task")
            a["manifest"] = [r.asDict() for r in vectorized.LAST_MANIFEST]

    return Workload(setup, op, lambda: None, sweep)


WORKLOADS = {
    "apply_dense": apply_dense,
    "interactive_small": interactive_small,
}


# --------------------------------------------------------------------------
# metrics


def e2e_metrics(run: Run):
    return {
        "setup_s": {"value": run.phase["setup_s"], "unit": "s"},
        "op_median_s": {"value": med(run.op_times), "unit": "s"},
        "max_rel_err": {"value": max(run.rel_errs, default=1.0), "unit": "ratio"},
    }


def layer_metrics(run: Run, peak_rss_mb: float):
    tr = run.tr
    m: dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    def ms(spans):
        return 1e3 * med(dur(spans))

    put("session.start_s", run.phase["session_s"], "s")
    put("host.calib_numpy_ms", max(run.calib["numpy"]), "ms")
    put("host.calib_spark_ms", max(run.calib["spark"]), "ms")
    # per layer, not end to end: the JVM grows its heap lazily, and
    # identical runs peak anywhere between ~1.9 and ~3.6 GB
    put("host.peak_rss_mb", peak_rss_mb, "MB")
    put("grids.validate_ms", ms(tr.named("grids.validate")), "ms")
    put("grids.degenerate_check_ms", ms(tr.named("grids.degenerate_check")), "ms")

    for meth in METHODS:
        plan, ex = tr.named(f"weights.{meth}.plan"), tr.named(f"weights.{meth}.exec")
        put(f"weights.{meth}.plan_ms", ms(plan), "ms")
        put(f"weights.{meth}.exec_s", med(dur(ex)), "s")
        put(f"weights.{meth}.nnz", ex[-1]["attrs"]["nnz"] if ex else 0, "count")
        put(f"weights.{meth}.jobs", sum(s["jobs"] for s in plan + ex), "count")
        put(f"weights.{meth}.tasks", sum(s["tasks"] for s in plan + ex), "count")
    w_spans = [s for s in tr.spans if s["name"].startswith("weights.")]
    put("weights.failed_tasks", sum(s["failed_tasks"] for s in w_spans), "count")

    # construction time beyond the builder's own execution: digests,
    # validation and the parquet cache write
    write = []
    for b in tr.named("regridder.construct"):
        ex = tr.named(f"weights.{b['attrs']['method']}.exec")
        if ex:
            write.append(dur([b])[0] - dur(ex)[-1])
    put("regridder.cache_write_s", med(write), "s")
    put("regridder.reuse_construct_ms", ms(tr.named("regridder.reuse_construct")), "ms")
    put("regridder.regrid_numpy_ms", ms(tr.named("regridder.regrid_numpy")), "ms")
    put("regridder.call_ms", ms(tr.named("regridder.call")), "ms")
    put("regridder.jobs_per_regrid", med([subtree_total(tr, s, "jobs") for s in tr.named("bench.op")]), "count")
    r_spans = [s for s in tr.spans if s["name"].startswith(("regridder.", "grids."))]
    put("regridder.failed_tasks", sum(s["failed_tasks"] for s in r_spans), "count")

    # vectorized: phases of the slowest task, from the per-task manifest
    va = [s for s in tr.named("vectorized.apply_files") if s["attrs"].get("manifest")]
    scan, kern, sink, skew, gap = [], [], [], [], []
    for s in va:
        man = s["attrs"]["manifest"]
        per_task = [r["read_ms"] + r["kernel_ms"] + r["write_ms"] for r in man]
        slow = man[per_task.index(max(per_task))]
        scan.append(slow["read_ms"])
        kern.append(slow["kernel_ms"])
        sink.append(slow["write_ms"])
        skew.append(max(per_task) / max(1e-9, statistics.median(per_task)))
        gap.append(1e3 * dur([s])[0] - max(per_task))
    put("vectorized.scan_ms", med(scan), "ms")
    put("vectorized.kernel_ms", med(kern), "ms")
    put("vectorized.sink_ms", med(sink), "ms")
    put("vectorized.task_skew", med(skew), "ratio")
    put("vectorized.driver_gap_ms", med(gap), "ms")
    # computed from the shapes, not measured: 2 flops per nnz per slice;
    # bytes = field slices read + results written + the triplets once
    a = va[-1]["attrs"] if va else {"rows": 0, "nnz": 0, "n_in": 0, "n_out": 0}
    kbytes = 8 * a["rows"] * (a["n_in"] + a["n_out"]) + 24 * a["nnz"]
    put("vectorized.kernel_flops", 2 * a["nnz"] * a["rows"], "count")
    put("vectorized.kernel_bytes", kbytes, "count")
    # over the critical path: all bytes / the slowest task's kernel time
    put("vectorized.kernel_GBps", kbytes / 1e6 / med(kern) if med(kern) > 0 else 0.0, "GB/s")
    put("vectorized.failed_tasks", sum(s["failed_tasks"] for s in va), "count")

    ap = tr.named("apply.exec")
    put("apply.exec_s", med(dur(ap)), "s")
    put("apply.jobs", med([s["jobs"] for s in ap]), "count")
    put("apply.tasks", med([s["tasks"] for s in ap]), "count")
    put("apply.rows_in", ap[-1]["attrs"]["rows_in"] if ap else 0, "count")
    put("apply.rows_out", ap[-1]["attrs"]["rows_out"] if ap else 0, "count")
    put("apply.failed_tasks", sum(s["failed_tasks"] for s in ap), "count")

    traced = [t for t, on in zip(run.op_times, run.op_traced) if on]
    plain = [t for t, on in zip(run.op_times, run.op_traced) if not on]
    put("bench.op_samples", len(run.op_times), "count")
    put("bench.op_tail_s", tail(run.op_times), "s")
    put("bench.traced_op_s", med(traced), "s")
    put("bench.trace_overhead_s", med(traced) - med(plain, med(traced)), "s")
    return m


def subtree_total(tr: Tracer, root, key):
    """``key`` summed over a span and all spans below it."""
    kids: dict[int, list[dict]] = {}
    for s in tr.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    total, todo = 0, [root]
    while todo:
        s = todo.pop()
        total += s.get(key, 0)
        todo += kids.get(s["id"], [])
    return total


# --------------------------------------------------------------------------
# main


def configure_env():
    """Size the session to this machine through the variables
    ``xesmf_spark.session`` and Spark already read, and keep every file
    the run writes inside the checkout."""
    ncpu = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    drv_gb = max(2, min(16, int(mem_kb / 1024 / 1024 * 0.4)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{drv_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def stop_spark(spark):
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM did not exit: kill it
            proc.kill()
            proc.wait(timeout=10)
    kill_tree(signal.SIGTERM)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "xesmf_spark", "__init__.py")):
        print(f"perfbench: xesmf_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    configure_env()
    start_watchdog()
    rss = RssSampler()
    if args.trace:
        rss.start()

    import xesmf_spark

    if not os.path.abspath(xesmf_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported xesmf_spark from outside {ROOT}", file=sys.stderr)
        return 2
    from xesmf_spark.session import get_spark

    run = Run(args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    with run.tr.span("session.start"):
        run.spark = get_spark("perfbench")
    run.phase["session_s"] = time.perf_counter() - t0
    run.spark.sparkContext.setLogLevel("ERROR")
    run.tr.sc = run.spark.sparkContext
    try:
        run.calibrate()
        wl = WORKLOADS[args.workload](run)
        t1 = time.perf_counter()
        wl.setup()
        run.phase["setup_s"] = run.phase["session_s"] + time.perf_counter() - t1
        run.measure(wl.op)
        wl.verify()
        if run.tr.enabled:
            wl.sweep()
        run.calibrate()
    finally:
        if args.trace:
            rss.stop()
        stop_spark(run.spark)

    if run.tr.enabled:
        run.tr.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(run, rss.peak)
    else:
        metrics = e2e_metrics(run)
    print(
        f"perfbench: {args.workload} seed={args.seed} setup_s={run.phase['setup_s']:.2f} "
        f"op_s={[round(x, 3) for x in run.op_times]} "
        f"calib_numpy_ms={[round(x, 1) for x in run.calib['numpy']]} "
        f"calib_spark_ms={[round(x, 1) for x in run.calib['spark']]}"
        + (f" rss_mb_at_peak={rss.at_peak}" if args.trace else ""),
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
