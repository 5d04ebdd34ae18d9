"""Similarity search over embedding columns (``array<float>``).

Two physical strategies, exact brute force vs bucketed scale:

- ``cosine_topk``   — exact brute-force top-k: cross join with the pool
  broadcast, cosine as a pure Column fold (JVM), windowed rank. O(n*m)
  — the correctness baseline and the right plan when one side is small.
- ``ivf_topk``      — IVF (inverted-file) top-k: vectors are assigned
  to their nearest centroid cell; a query probes only ``n_probe``
  cells, so the candidate join is an EQUI-join on cell id. Centroids
  here are a deterministic subset of the vectors (seed ids), keeping
  the operator fully oracle-checkable; swap in k-means centroids for
  production without changing the plan shape.

Determinism contract (for the DuckDB oracle): floats are cast to
DOUBLE element-wise before any arithmetic, dot products are sequential
left-to-right folds in both engines, ordering keys round the cosine to
6 decimals and tie-break on the neighbor id.

Scale notes:
- the cosine fold is whole-stage-codegen'd — no Python in the loop;
- norms are computed ONCE per side in a projection, not per pair;
- IVF probe cost: |cells probed| * avg cell size; cell skew is the
  usual hazard — AQE skew-join handles moderate skew, re-seeding
  centroids handles pathological skew;
- at 100 TB the pool side is bucketed by cell id on disk so the
  candidate equi-join co-locates without a shuffle of the pool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.materialize import pin

ROUND_ORD = 6  #: cosine rounding used in ordering + output


def _dot(a, b):
    """Sequential left-to-right dot product of two float arrays as
    DOUBLE — bit-matches DuckDB's list_sum(list_transform(...)).

    Measured note: this zip_with+aggregate fold IS the fast form — an
    unrolled 64-term element_at chain was 7x slower (the giant codegen
    expression tree defeats JIT), so don't "optimize" it that way."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Project (id, vec, norm) — norms once per vector, not per pair."""
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )


def cosine_topk(
    queries: DataFrame,
    pool: DataFrame | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "gemm",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector (self-join
    when ``pool`` is None; self-matches excluded). Returns
    (query_id, neighbor_id, cosine, rank).

    Strategies (same result, same O(n*m) math):
    - "gemm" (default): the pool is broadcast as a dense matrix and each
      Arrow batch of queries computes one BLAS matmul + vectorized
      top-k. ~100x the fold path's throughput (the per-pair zip_with
      fold pays an array allocation per pair; 4M pairs = ~28 s vs
      sub-second GEMM). Queries stream through executors — only the
      pool must fit in a broadcast, the same premise as the fold path's
      broadcast cross join. For a pool beyond broadcast size use
      "blocked".
    - "blocked": 2-D partitioned matmul (SUMMA shape) via
      ``cogroup().applyInPandas`` — no driver collect, no broadcast;
      the exact path that scales past broadcastable pools
      (:func:`_cosine_topk_blocked`).
    - "fold": pure Column-expression cross join — arithmetic is
      bit-identical to the DuckDB oracle (sequential left-to-right
      fold); the reference plan the gemm path is differential-tested
      against (tests/test_pipeline.py).

    Tie handling is identical in both: ordering by (cosine rounded to
    6 decimals DESC, neighbor id ASC), so gemm-vs-fold float drift
    (~1e-15, far below the rounding quantum) cannot reorder results.
    """
    if strategy == "gemm":
        return _cosine_topk_gemm(queries, pool, k, id_col, vec_col)
    if strategy == "blocked":
        return _cosine_topk_blocked(queries, pool, k, id_col, vec_col)
    q = with_norm(queries, id_col, vec_col).alias("q")
    p = with_norm(pool if pool is not None else queries, id_col, vec_col).alias("p")
    cos = _dot(F.col("q.v"), F.col("p.v")) / (F.col("q.nrm") * F.col("p.nrm"))
    pairs = (
        q.crossJoin(F.broadcast(p))
        .filter(F.col("q.id") != F.col("p.id"))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("p.id").alias("neighbor_id"),
            F.round(cos, ROUND_ORD).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _cosine_topk_blocked(
    queries: DataFrame,
    pool: DataFrame | None,
    k: int,
    id_col: str,
    vec_col: str,
    q_blocks: int = 4,
    p_shards: int = 4,
) -> DataFrame:
    """Blocked-GEMM physical strategy for :func:`cosine_topk` — the
    BEYOND-BROADCAST exact path. The "gemm" strategy collects the pool
    to the driver and broadcasts it (its documented premise); this one
    never does: it is the classic 2-D partitioned matmul (SUMMA shape).

    Queries are tagged with a block id and replicated across the
    ``p_shards`` pool shards; pool vectors are tagged with a shard id
    and replicated across the ``q_blocks`` query blocks; a
    ``cogroup().applyInPandas`` over (block, shard) keys hands each
    task one query block x one pool shard for a local BLAS matmul +
    per-shard top-k. A query's global top-k is contained in the union
    of its per-shard top-k's, so the final rank window carries
    O(|Q| * p_shards * k) rows, never |Q| x |pool|.

    Replication cost is the SUMMA trade: queries x p_shards + pool x
    q_blocks bytes shuffled — minimized by choosing both ~ sqrt(tasks).
    Identical results to fold/gemm (same rounded-6 ordering and
    neighbor-id tie-break; differential-tested)."""
    import numpy as np
    import pandas as pd

    p_df = pool if pool is not None else queries
    # key types MUST match across sides (see _pq_topk_sharded: a
    # LONG pmod vs INT explode key silently splits cogroups)
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.pmod(F.col(id_col), F.lit(q_blocks)).cast("int").alias("qb"),
        F.explode(F.sequence(F.lit(0), F.lit(p_shards - 1))).alias("pb"),
    )
    p = p_df.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).alias("pv"),
        F.pmod(F.col(id_col), F.lit(p_shards)).cast("int").alias("pb"),
        F.explode(F.sequence(F.lit(0), F.lit(q_blocks - 1))).alias("qb"),
    )

    def score(key, qpdf: "pd.DataFrame", ppdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": []}
        ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        if len(qpdf) == 0 or len(ppdf) == 0:
            return empty
        pids = ppdf["pid"].to_numpy(np.int64)
        order = np.argsort(pids, kind="stable")  # id-ascending tie order
        pids = pids[order]
        P = np.ascontiguousarray(
            np.stack(ppdf["pv"].to_numpy()).astype(np.float64)[order]
        )
        Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
        qids = qpdf["qid"].to_numpy(np.int64)
        pn = np.sqrt(np.einsum("ij,ij->i", P, P))
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        C = (Q @ P.T) / np.outer(qn, pn)
        np.round(C, ROUND_ORD, out=C)
        n = len(pids)
        # self-exclusion (pool may contain the query id)
        pos = np.searchsorted(pids, qids)
        hit = (pos < n) & (pids[np.minimum(pos, n - 1)] == qids)
        C[np.nonzero(hit)[0], pos[hit]] = -np.inf
        kks = np.minimum(k, n - hit.astype(np.int64))
        qs, ps, cs = [], [], []
        for i in range(len(qids)):
            kki = int(kks[i])
            if kki <= 0:
                continue
            r = C[i]
            kth = np.partition(r, n - kki)[n - kki]
            cand = np.nonzero(r >= kth)[0]
            best = cand[np.lexsort((pids[cand], -r[cand]))[:kki]]
            qs.append(np.full(len(best), qids[i]))
            ps.append(pids[best])
            cs.append(r[best])
        if not qs:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(qs),
                "neighbor_id": np.concatenate(ps),
                "cosine": np.concatenate(cs),
            }
        )

    cand = q.groupBy("qb", "pb").cogroup(p.groupBy("qb", "pb")).applyInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _cosine_topk_gemm(
    queries: DataFrame,
    pool: DataFrame | None,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """GEMM physical strategy for :func:`cosine_topk` (exact)."""
    import numpy as np

    spark = queries.sparkSession
    pdf = (pool if pool is not None else queries).select(id_col, vec_col).toPandas()
    p_ids = pdf[id_col].to_numpy(np.int64)
    P = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    order = np.argsort(p_ids, kind="stable")  # id-ascending: stable tie order
    p_ids, P = p_ids[order], np.ascontiguousarray(P[order])
    p_nrm = np.sqrt(np.einsum("ij,ij->i", P, P))
    if not np.all(p_nrm > 0.0):
        bad = p_ids[p_nrm <= 0.0][:5].tolist()
        raise ValueError(
            f"cosine_topk: zero-norm pool embedding(s), e.g. ids {bad}; "
            "cosine is undefined — filter upstream"
        )
    bc = spark.sparkContext.broadcast((p_ids, P, p_nrm))

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        ids_p, Pm, pn = bc.value
        n = len(ids_p)
        for b in pdfs:
            if len(b) == 0:
                continue
            q_ids = b[id_col].to_numpy(np.int64)
            Q = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
            if not np.all(qn > 0.0):
                bad = q_ids[qn <= 0.0][:5].tolist()
                raise ValueError(
                    "cosine_topk: zero-norm query embedding(s), e.g. "
                    f"ids {bad}; cosine is undefined — filter upstream"
                )
            # same scalar expression as the fold/oracle: dot/(nq*np) —
            # one multiply, one divide per pair
            C = (Q @ Pm.T) / np.outer(qn, pn)
            np.round(C, ROUND_ORD, out=C)
            # self-exclusion (pool sorted by id -> searchsorted lookup)
            pos = np.searchsorted(ids_p, q_ids)
            hit = (pos < n) & (ids_p[np.minimum(pos, n - 1)] == q_ids)
            C[np.nonzero(hit)[0], pos[hit]] = -np.inf
            # per-query candidate count AFTER self-exclusion: a query
            # absent from an explicit pool keeps all n candidates (the
            # fold path returns n there; a blanket n-1 dropped one)
            kks = np.minimum(k, n - hit.astype(np.int64))
            offs = np.concatenate(([0], np.cumsum(kks)))
            total = int(offs[-1])
            out_q = np.empty(total, np.int64)
            out_p = np.empty(total, np.int64)
            out_c = np.empty(total, np.float64)
            out_r = np.empty(total, np.int32)
            for i in range(len(q_ids)):
                kki = int(kks[i])
                if kki <= 0:
                    continue
                r = C[i]
                kth = np.partition(r, n - kki)[n - kki]  # kth-largest rounded
                cand = np.nonzero(r >= kth)[0]  # top-k plus rounded ties
                best = cand[np.lexsort((ids_p[cand], -r[cand]))[:kki]]
                lo, hi = offs[i], offs[i + 1]
                out_q[lo:hi] = q_ids[i]
                out_p[lo:hi] = ids_p[best]
                out_c[lo:hi] = r[best]
                out_r[lo:hi] = np.arange(1, kki + 1)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_p,
                    "cosine": out_c,
                    "rank": out_r,
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        fn, "query_id long, neighbor_id long, cosine double, rank int"
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic spherical k-means codebook for the IVF operators.

    Lloyd iterations with the cosine metric: vectors are L2-normalized
    once, each iteration assigns every unit vector to its highest-dot
    centroid (ties to the lower cell id, same rule as
    :func:`ivf_assignments`) and replaces each centroid with the
    normalized mean of its members. Returns ``(cell_ids, C)`` — ids are
    dense ``0..n_centroids-1`` and ``C`` is a unit-row float64 matrix —
    directly accepted by the ``centroids=`` parameter of
    :func:`ivf_assignments` / :func:`ivf_topk` /
    :func:`embedding_dedup_pairs`.

    Determinism: init is the seed subset (``id < n_centroids``, id
    order — the same codebook the seed default uses), iteration count is
    fixed, and each pass reduces per-batch partial sums on the driver in
    collect order; empty cells keep their previous centroid. No RNG
    anywhere.

    Scale shape: one narrow ``mapInPandas`` pass per iteration — each
    Arrow batch emits at most ``n_centroids`` partial-sum rows
    (cell, count, sum-vector), so the driver collects
    O(batches * n_centroids) tiny rows and never the vectors themselves.
    At 100 TB you train on a sample (``df.sample(...)``) — centroid
    quality needs representative data, not all of it — and the operator
    is exactly as distributed as the corpus scan.
    """
    import numpy as np

    spark = df.sparkSession
    cpdf = df.filter(F.col(id_col) < n_centroids).select(id_col, vec_col).toPandas()
    c_ids = cpdf[id_col].to_numpy(np.int64)
    Cm = np.stack(cpdf[vec_col].to_numpy()).astype(np.float64)
    Cm = np.ascontiguousarray(Cm[np.argsort(c_ids, kind="stable")])
    Cm /= np.linalg.norm(Cm, axis=1, keepdims=True)
    k = len(Cm)

    # loop-invariant scan: every Lloyd iteration re-reads the vectors
    # (20 iterations in the bench config) — persist once so iterations
    # 2..n read the cache instead of re-scanning parquet (guide §5;
    # the training input is a bounded sample by contract)
    vecs = df.select(vec_col).persist()
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(Cm)

        def partials(pdfs):
            import numpy as np
            import pandas as pd

            C = bc.value
            for b in pdfs:
                if len(b) == 0:
                    continue
                V = np.stack(b[vec_col].to_numpy()).astype(np.float64)
                V /= np.linalg.norm(V, axis=1, keepdims=True)
                # stable argsort of -S resolves dot ties to the lower
                # cell id — the ivf_assignments ordering rule
                cell = np.argsort(-(V @ C.T), axis=1, kind="stable")[:, 0]
                cells, inv = np.unique(cell, return_inverse=True)
                sums = np.zeros((len(cells), V.shape[1]))
                np.add.at(sums, inv, V)
                yield pd.DataFrame(
                    {
                        "cell": cells.astype(np.int64),
                        "n": np.bincount(inv).astype(np.int64),
                        "s": list(sums),
                    }
                )

        rows = vecs.mapInPandas(
            partials, "cell long, n long, s array<double>"
        ).collect()
        counts = np.zeros(k)
        sums = np.zeros_like(Cm)
        for r in rows:  # collect order: deterministic driver-side reduce
            counts[r.cell] += r.n
            sums[r.cell] += np.asarray(r.s)
        nonempty = counts > 0
        Cm = np.where(nonempty[:, None], sums, Cm)  # empty cell: keep old
        Cm /= np.linalg.norm(Cm, axis=1, keepdims=True)
        bc.destroy()
    vecs.unpersist()  # every iteration collected eagerly — safe to drop
    return np.arange(k, dtype=np.int64), Cm


def ivf_assignments(
    df: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    strategy: str = "gemm",
    centroids=None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid cells by
    cosine. Default centroids are the vectors with ``id < n_centroids``
    (a deterministic seed-subset codebook, fully oracle-checkable);
    pass ``centroids=(cell_ids, matrix)`` — e.g. from
    :func:`kmeans_centroids` — for a trained codebook with better cell
    balance/recall on clustered corpora. Returns (id, v, nrm, cell,
    crank).

    Default strategy "gemm": the codebook is collected once (it is by
    construction tiny) and each Arrow batch scores all its vectors in
    one matmul — a NARROW map, no join, no window shuffle, no per-pair
    expression codegen. "fold": broadcast cross join + Column fold +
    rank window, arithmetic bit-identical to the DuckDB oracle (the
    differential reference). Tie order in both: rounded-6 cosine DESC,
    cell id ASC."""
    if strategy == "gemm":
        import numpy as np

        spark = df.sparkSession
        if centroids is not None:
            c_ids = np.asarray(centroids[0], np.int64)
            Cm = np.ascontiguousarray(np.asarray(centroids[1], np.float64))
        else:
            cpdf = (
                df.filter(F.col(id_col) < n_centroids).select(id_col, vec_col).toPandas()
            )
            c_ids = cpdf[id_col].to_numpy(np.int64)
            Cm = np.stack(cpdf[vec_col].to_numpy()).astype(np.float64)
            order = np.argsort(c_ids, kind="stable")
            c_ids, Cm = c_ids[order], np.ascontiguousarray(Cm[order])
        c_nrm = np.sqrt(np.einsum("ij,ij->i", Cm, Cm))
        bc = spark.sparkContext.broadcast((c_ids, Cm, c_nrm))
        probe = min(n_probe, len(c_ids))

        def fn(pdfs):
            import numpy as np
            import pandas as pd

            cids, CmT, cn = bc.value
            for b in pdfs:
                if len(b) == 0:
                    continue
                V = np.stack(b[vec_col].to_numpy()).astype(np.float64)
                vn = np.sqrt(np.einsum("ij,ij->i", V, V))
                S = (V @ CmT.T) / np.outer(vn, cn)
                np.round(S, ROUND_ORD, out=S)
                # centroid columns are id-ascending, so a STABLE argsort
                # of -S resolves rounded ties to the lower cell id —
                # identical to ORDER BY cosine DESC, cell ASC
                top = np.argsort(-S, axis=1, kind="stable")[:, :probe]
                rows = np.repeat(np.arange(len(b)), probe)
                yield pd.DataFrame(
                    {
                        "id": b[id_col].to_numpy(np.int64)[rows],
                        "v": b[vec_col].to_numpy()[rows],
                        "nrm": vn[rows],
                        "cell": cids[top.reshape(-1)],
                        "crank": np.tile(np.arange(1, probe + 1, dtype=np.int32), len(b)),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            fn, "id long, v array<float>, nrm double, cell long, crank int"
        )
    vecs = with_norm(df, id_col, vec_col)
    if centroids is not None:
        spark = df.sparkSession
        crows = [
            (int(i), [float(x) for x in vrow])
            for i, vrow in zip(centroids[0], centroids[1])
        ]
        cents = with_norm(
            spark.createDataFrame(crows, "vec_id long, embedding array<double>")
        ).select(
            F.col("id").alias("cell"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
        )
    else:
        cents = vecs.filter(F.col("id") < n_centroids).select(
            F.col("id").alias("cell"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
        )
    cos = _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    w = Window.partitionBy("id").orderBy(
        F.round(cos, ROUND_ORD).desc(), F.col("cell").asc()
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_probe)
        .select("id", "v", "nrm", "cell", "crank")
    )


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from shared
    IVF cells (equi-join — never all-pairs), kept when cosine >=
    ``threshold``. Returns (id_a < id_b, cosine). The scale shape of
    embedding dedup: cell-join cost, exact cosine verification, and a
    scaled copy of a vector always lands in the same cell as the
    original (cosine to every centroid is scale-invariant), so true
    duplicates cannot be missed by the bucketing."""
    assign = ivf_assignments(
        df, n_centroids, id_col, vec_col, n_probe=n_probe, centroids=centroids
    )
    a = assign.select(
        "cell", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = assign.filter(F.col("crank") == 1).select(
        "cell", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, ROUND_ORD).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "gemm",
    centroids=None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF cells: pool vectors
    live in their single nearest cell, queries probe their ``n_probe``
    nearest cells, candidates are generated PER CELL. Returns
    (query_id, neighbor_id, cosine, rank). Approximate: a true neighbor
    assigned to an unprobed cell is missed — the classic IVF recall
    trade; raise ``n_probe`` to trade cost for recall.

    Candidate scoring strategies (same result):
    - "gemm" (default): one shuffle of the assigned vectors by cell id,
      then ONE BLAS matmul per cell group (``applyInPandas``) — the
      per-cell analogue of :func:`cosine_topk`'s gemm path. Parallelism
      = number of cells; at scale cells are numerous and this is the
      shape that beats per-pair expression evaluation by ~10-100x.
    - "fold": cell equi-join + per-pair Column fold — arithmetic
      bit-identical to the DuckDB oracle; the differential reference.

    Norms are computed JVM-side in both strategies (bit-identical to
    the oracle); only the dot product differs (~1e-15, far below the
    6-decimal rounding quantum used for ordering).
    """
    assign = ivf_assignments(
        df, n_centroids, id_col, vec_col, n_probe=n_probe, strategy=strategy,
        centroids=centroids,
    )
    if strategy == "gemm":
        import numpy as np
        import pandas as pd

        def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pool = pdf[pdf["crank"] == 1]
            if len(pool) == 0 or len(pdf) == 0:
                return pd.DataFrame(
                    {"query_id": [], "neighbor_id": [], "cosine": []}
                ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
            P = np.stack(pool["v"].to_numpy()).astype(np.float64)
            Q = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            pn = pool["nrm"].to_numpy(np.float64)
            qn = pdf["nrm"].to_numpy(np.float64)
            C = (Q @ P.T) / np.outer(qn, pn)
            np.round(C, ROUND_ORD, out=C)
            qids = pdf["id"].to_numpy(np.int64)
            pids = pool["id"].to_numpy(np.int64)
            b, m = C.shape
            # emit only the per-(query, cell) top-k: the global top-k is
            # contained in the union of per-cell top-k's (any candidate
            # cut here is beaten by >= k distinct pairs from its own
            # cell), so the downstream distinct+rank shuffle carries
            # O(queries * probes * k) rows, not |cell|^2
            kk = min(k, m)
            qs, ps, cs = [], [], []
            for i in range(b):
                r = C[i]
                mask = pids != qids[i]
                ridx = np.nonzero(mask)[0]
                if len(ridx) == 0:
                    continue
                rm = r[ridx]
                kth = (
                    np.partition(rm, len(rm) - kk)[len(rm) - kk]
                    if len(rm) > kk
                    else -np.inf
                )
                cand = ridx[rm >= kth]
                best = cand[np.lexsort((pids[cand], -r[cand]))[:kk]]
                qs.append(np.full(len(best), qids[i]))
                ps.append(pids[best])
                cs.append(r[best])
            if not qs:
                return pd.DataFrame(
                    {"query_id": [], "neighbor_id": [], "cosine": []}
                ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
            return pd.DataFrame(
                {
                    "query_id": np.concatenate(qs),
                    "neighbor_id": np.concatenate(ps),
                    "cosine": np.concatenate(cs),
                }
            )

        # one explicit shuffle to query_id; hash-partitioning on
        # query_id satisfies the clustering needs of BOTH the pair
        # dedup (a pair can surface via two probed cells) and the rank
        # window, so neither adds a shuffle of its own
        cand = (
            assign.groupBy("cell")
            .applyInPandas(score, "query_id long, neighbor_id long, cosine double")
            .repartition("query_id")
            .dropDuplicates()
        )
    else:
        # one assignment pass serves both roles: pool membership is the
        # rank-1 cell, probes are the top n_probe cells (pinned — the
        # |vecs| x |centroids| window runs once)
        assign = pin(assign)
        pool = assign.filter(F.col("crank") == 1).select(
            F.col("cell"), F.col("id").alias("pid"), F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
        probes = assign.select(
            F.col("cell"),
            F.col("id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        cos = _dot(F.col("qv"), F.col("pv")) / (F.col("qnrm") * F.col("pnrm"))
        cand = (
            probes.join(pool, "cell")
            .filter(F.col("qid") != F.col("pid"))
            .select(
                F.col("qid").alias("query_id"),
                F.col("pid").alias("neighbor_id"),
                F.round(cos, ROUND_ORD).alias("cosine"),
            )
            .distinct()  # a pair can surface via two probed cells
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# sign-random-projection LSH (the bucketed ALTERNATIVE to IVF)
# ---------------------------------------------------------------------------

LSH_BITS = 16   #: hyperplanes (sign bits) per vector
LSH_BANDS = 2   #: bands (bits/bands bits per band-bucket)


def lsh_hyperplanes(dim: int, k: int = LSH_BITS) -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5 — computed in
    Python ONCE and embedded as literals in BOTH the Spark plan and the
    DuckDB oracle, so the two engines share the exact constants.
    Rademacher (±1) entries are a standard choice for sign-random-
    projection (Achlioptas-style sparse projections)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"lshplane:{i}:{j}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(k)
    ]


def lsh_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via SIGN-LSH — the bucketed
    alternative to :func:`embedding_dedup_pairs`'s IVF cells: each
    vector's sign pattern under ``LSH_BITS`` fixed hyperplanes is cut
    into ``LSH_BANDS`` band-buckets; a pair sharing ANY band-bucket is
    a candidate (equi-join on (band, bucket) — never all-pairs), kept
    when exact cosine >= ``threshold``. Returns (id_a < id_b, cosine).

    Scale/recall shape: P[bit agrees] = 1 - angle/pi, so a cosine-0.95
    pair agrees per bit with p ~ 0.9 and per 8-bit band with p ~ 0.43 —
    two bands put pair recall near 0.68 per band-set; like all banded
    LSH this trades recall for never materializing |pairs|. Sign bits
    are SCALE-INVARIANT (sign(dot) ignores vector length), so a scaled
    copy always lands in the same buckets as the original — the exact
    duplicates that matter for dedup cannot be missed."""
    planes = lsh_hyperplanes(dim)
    vecs = with_norm(df, id_col, vec_col)
    bits = [
        F.when(_dot(F.col("v"), F.array(*[F.lit(x) for x in p])) >= 0.0, 1).otherwise(0)
        for p in planes
    ]
    per_band = LSH_BITS // LSH_BANDS
    band_cols = []
    for b in range(LSH_BANDS):
        bucket = sum(
            (bits[b * per_band + j] * F.lit(1 << j) for j in range(per_band)),
            start=F.lit(0),
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bkt"))
        )
    tagged = vecs.select(
        "id", "v", "nrm", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", "v", "nrm", F.col("bb.band").alias("band"), F.col("bb.bkt").alias("bkt"))

    a = tagged.select(
        "band", "bkt", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b_ = tagged.select(
        "band", "bkt", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b_, ["band", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, ROUND_ORD).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the COMPRESSED-memory ANN scale path
# ---------------------------------------------------------------------------
#
# IVF bounds how many candidates a query touches; PQ bounds how many
# BYTES each candidate costs. A 64-dim float32 vector is 256 bytes; its
# PQ code (16 subspaces x 256 centroids) is 16 bytes — a 16x
# compression — and asymmetric-distance (ADC) scoring replaces the
# 64-multiply dot product with 16 table lookups. At 100 TB this is the
# difference between "the candidate set streams from disk" and "the
# whole compressed index rides along with every scan task".
# (Config note, measured at sf0.01 vs exact Euclidean top-3: the coarse
# 8x16 split recalls only ~0.10 on this near-random corpus; 16x256
# seed reaches ~0.49 and 5 Lloyd iterations ~0.64 — synthetic
# embeddings lack the cluster structure real encoders produce, so these
# are PQ's floor, not its ceiling.)
#
# Determinism contract (stricter than the cosine operators): every
# squared distance is floored to INTEGER MICRO-UNITS before any
# comparison or sum — encode-time argmin, the ADC lookup table, and the
# final per-query ordering all operate on exact BIGINTs, so there is no
# accumulation-order or argmin-boundary drift anywhere. The inner d^2
# folds are sequential left-to-right over identical double operands on
# both engines (numpy reduces axes < 128 sequentially; DuckDB list_sum
# is a sequential fold), so even the pre-floor doubles are bit-equal.

PQ_M = 16      #: subspaces
PQ_KSUB = 256  #: centroids per subspace (1-byte codes)
PQ_MICRO = 1_000_000  #: micro-unit quantum for integer distances


def _pq_seed_codebooks(df, m, ksub, id_col, vec_col):
    """Seed codebooks: the subvectors of the ``ksub`` lowest-id vectors
    (id order) — the same fully-oracle-checkable convention as the IVF
    seed centroids. Returns float64 array (m, ksub, dsub)."""
    import numpy as np

    cpdf = df.filter(F.col(id_col) < ksub).select(id_col, vec_col).toPandas()
    order = np.argsort(cpdf[id_col].to_numpy(np.int64), kind="stable")
    V = np.stack(cpdf[vec_col].to_numpy())[order].astype(np.float64)
    dsub = V.shape[1] // m
    if V.shape[1] % m:
        raise ValueError(f"dim {V.shape[1]} not divisible into {m} subspaces")
    return np.ascontiguousarray(V.reshape(len(V), m, dsub).transpose(1, 0, 2))


def _pq_dist_micro(X, C):
    """Integer micro-unit squared distances: X (b, dsub) vs C (ksub,
    dsub) -> int64 (b, ksub). The dsub-axis reduce is sequential (axis
    length < numpy's pairwise threshold), matching the oracle's
    left-to-right list fold bit-for-bit before the floor."""
    import numpy as np

    D = X[:, None, :] - C[None, :, :]
    d2 = (D * D).sum(axis=-1)
    return np.floor(PQ_MICRO * d2).astype(np.int64)


def pq_encode(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
) -> DataFrame:
    """Encode each vector to its PQ code word: per subspace, the id of
    the nearest codebook centroid by (micro-floored) squared distance,
    ties to the lower code. One Arrow-batched narrow map — no shuffle;
    the codebook broadcast is m*ksub*dsub doubles (a few KB).

    Returns (id, codes array<int>) — the compressed index rows."""
    import numpy as np

    spark = df.sparkSession
    C = (
        np.ascontiguousarray(np.asarray(codebooks, np.float64))
        if codebooks is not None
        else _pq_seed_codebooks(df, m, ksub, id_col, vec_col)
    )
    bc = spark.sparkContext.broadcast(C)
    dsub = C.shape[2]

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        CB = bc.value
        for b in pdfs:
            if len(b) == 0:
                continue
            X = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            Xs = X.reshape(len(X), len(CB), dsub)
            codes = np.empty((len(X), len(CB)), dtype=np.int32)
            for s in range(len(CB)):
                d2u = _pq_dist_micro(Xs[:, s, :], CB[s])
                # argmin returns the FIRST minimum -> lowest code on ties
                codes[:, s] = np.argmin(d2u, axis=1)
            yield pd.DataFrame(
                {
                    "id": b[id_col].to_numpy(np.int64),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(fn, "id long, codes array<int>")


def pq_topk(
    df: DataFrame,
    k: int = 3,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    sharded: bool = False,
    q_blocks: int = 4,
    p_shards: int = 4,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance
    (ADC): the POOL lives only as 4-bit codes; each full-precision
    query builds one (m x ksub) integer lookup table and scores every
    pool code with m table lookups + an exact integer sum — no
    per-candidate float arithmetic at all.

    Plan shape (``sharded=False``, default): the code table (id + m
    small ints per vector — the 64x compression) is collected and
    broadcast; queries stream through one Arrow-batched map. THIS is
    the PQ premise: the compressed index fits where the raw vectors
    never would (1B vectors ~ 8 GB of codes vs 256 GB of floats).

    Plan shape (``sharded=True``): beyond even that — the
    billion-vector path with NO driver gather of the code table.  The
    codes stay a DataFrame; pool shards and query blocks are
    replicated SUMMA-style and cogrouped (the exact
    ``_cosine_topk_blocked`` discipline), each task ADC-scores one
    query block against one code shard and emits its per-shard top-k;
    a query's global top-k is contained in the union of its per-shard
    top-k's, so the final rank window carries O(|Q| * p_shards * k)
    rows.  Only the codebooks (<= m x ksub centroids) are broadcast.
    Value-identical to the broadcast path (same integer ADC, same
    (d2, neighbor_id) order; differential-tested).  Combine with IVF
    cells to bound the candidate scan itself.

    Returns (query_id, rank, neighbor_id, approx_d2_micro) — ALL
    integers; ordering is (approx_d2_micro ASC, neighbor_id ASC),
    self-matches excluded. Approximate: quantization error can reorder
    true neighbors — audit with a recall query against the exact
    search (see ``ann_pq_recall``)."""
    import numpy as np

    spark = df.sparkSession
    C = (
        np.ascontiguousarray(np.asarray(codebooks, np.float64))
        if codebooks is not None
        else _pq_seed_codebooks(df, m, ksub, id_col, vec_col)
    )
    if sharded:
        return _pq_topk_sharded(
            df, k, m, ksub, id_col, vec_col, C, q_blocks, p_shards
        )
    dsub = C.shape[2]
    enc = pq_encode(df, m, ksub, id_col, vec_col, codebooks=C).toPandas()
    order = np.argsort(enc["id"].to_numpy(np.int64), kind="stable")
    pool_ids = enc["id"].to_numpy(np.int64)[order]
    pool_codes = np.stack(enc["codes"].to_numpy())[order].astype(np.int64)
    bc = spark.sparkContext.broadcast((C, pool_ids, pool_codes))

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        CB, pids, pcodes = bc.value
        mm = len(CB)
        for b in pdfs:
            if len(b) == 0:
                continue
            Q = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            Qs = Q.reshape(len(Q), mm, dsub)
            qids = b[id_col].to_numpy(np.int64)
            # LUT: (batch, m, ksub) exact integer micro-distances
            lut = np.empty((len(Q), mm, CB.shape[1]), dtype=np.int64)
            for s in range(mm):
                lut[:, s, :] = _pq_dist_micro(Qs[:, s, :], CB[s])
            # ADC: d2u (batch, pool) = exact integer sum of m lookups
            d2u = np.zeros((len(Q), len(pids)), dtype=np.int64)
            for s in range(mm):
                d2u += lut[:, s, pcodes[:, s]]
            out_q, out_r, out_n, out_d = [], [], [], []
            for i in range(len(Q)):
                row = d2u[i]
                mask = pids != qids[i]
                ridx = np.nonzero(mask)[0]
                kk = min(k, len(ridx))
                if kk == 0:
                    continue
                rm = row[ridx]
                kth = (
                    np.partition(rm, kk - 1)[kk - 1] if len(rm) > kk else np.iinfo(np.int64).max
                )
                cand = ridx[rm <= kth]
                best = cand[np.lexsort((pids[cand], row[cand]))[:kk]]
                out_q.append(np.full(kk, qids[i]))
                out_r.append(np.arange(1, kk + 1, dtype=np.int64))
                out_n.append(pids[best])
                out_d.append(row[best])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "rank": np.concatenate(out_r),
                    "neighbor_id": np.concatenate(out_n),
                    "approx_d2_micro": np.concatenate(out_d),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, "query_id long, rank long, neighbor_id long, approx_d2_micro long"
    )


def _pq_topk_sharded(
    df: DataFrame,
    k: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    C,
    q_blocks: int,
    p_shards: int,
) -> DataFrame:
    """Sharded-code-table physical strategy for :func:`pq_topk` — see
    its docstring.  The code table is never collected: codes are
    encoded distributed (:func:`pq_encode`), sharded by id, and
    cogrouped against replicated query blocks; each task builds the
    per-query integer LUTs and ADC-scores ONE shard's codes (a few
    bytes per vector), emitting its local top-k.  Global top-k =
    window over the O(|Q| * p_shards * k) union."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    dsub = C.shape[2]
    bc = spark.sparkContext.broadcast(C)
    enc = pq_encode(df, m, ksub, id_col, vec_col, codebooks=C)
    # Both grouping keys must be the SAME TYPE on both sides: pmod of
    # a BIGINT id is LONG while explode(sequence) is INT, and cogroup
    # hash-partitions each side by ITS OWN key types — a (LONG, INT)
    # left key and (INT, LONG) right key land the same logical group
    # in different partitions, which silently delivers ONE-SIDED
    # groups (caught at sf0.1: entire shards scored against nothing).
    p = enc.select(
        F.col("id").alias("pid"),
        "codes",
        F.pmod(F.col("id"), F.lit(p_shards)).cast("int").alias("pb"),
        F.explode(F.sequence(F.lit(0), F.lit(q_blocks - 1))).alias("qb"),
    )
    q = df.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.pmod(F.col(id_col), F.lit(q_blocks)).cast("int").alias("qb"),
        F.explode(F.sequence(F.lit(0), F.lit(p_shards - 1))).alias("pb"),
    )

    def score(key, qpdf: "pd.DataFrame", ppdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "approx_d2_micro": []}
        ).astype("int64")
        if len(qpdf) == 0 or len(ppdf) == 0:
            return empty
        CB = bc.value
        mm = len(CB)
        pids = ppdf["pid"].to_numpy(np.int64)
        order = np.argsort(pids, kind="stable")  # id-ascending tie order
        pids = pids[order]
        pcodes = np.stack(ppdf["codes"].to_numpy())[order].astype(np.int64)
        Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
        Qs = Q.reshape(len(Q), mm, dsub)
        qids = qpdf["qid"].to_numpy(np.int64)
        lut = np.empty((len(Q), mm, CB.shape[1]), dtype=np.int64)
        for s in range(mm):
            lut[:, s, :] = _pq_dist_micro(Qs[:, s, :], CB[s])
        d2u = np.zeros((len(Q), len(pids)), dtype=np.int64)
        for s in range(mm):
            d2u += lut[:, s, pcodes[:, s]]
        out_q, out_n, out_d = [], [], []
        for i in range(len(Q)):
            row = d2u[i]
            ridx = np.nonzero(pids != qids[i])[0]
            kk = min(k, len(ridx))
            if kk == 0:
                continue
            rm = row[ridx]
            kth = (
                np.partition(rm, kk - 1)[kk - 1]
                if len(rm) > kk
                else np.iinfo(np.int64).max
            )
            cand = ridx[rm <= kth]
            best = cand[np.lexsort((pids[cand], row[cand]))[:kk]]
            out_q.append(np.full(len(best), qids[i]))
            out_n.append(pids[best])
            out_d.append(row[best])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "approx_d2_micro": np.concatenate(out_d),
            }
        )

    cand = q.groupBy("qb", "pb").cogroup(p.groupBy("qb", "pb")).applyInPandas(
        score, "query_id long, neighbor_id long, approx_d2_micro long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "approx_d2_micro")
    )


def pq_train_codebooks(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace Lloyd training of the PQ codebooks (Euclidean) —
    the production quantizer; pass the result as ``codebooks=`` to
    :func:`pq_encode` / :func:`pq_topk` (plan shape unchanged,
    centroids are just a parameter — the same contract as
    :func:`kmeans_centroids` for IVF).

    Determinism: seed-subset init (id order), fixed iteration count,
    driver-side reduce of per-batch partial sums in collect order,
    assignment ties to the lower code via the same micro-floored
    integer argmin as :func:`pq_encode`; empty cells keep their
    previous centroid. No RNG.

    Scale shape: ONE narrow mapInPandas pass per iteration emitting at
    most ``m * ksub`` partial-sum rows per Arrow batch — the driver
    never sees vectors. Train on a sample at 100 TB; all m subspace
    codebooks train in the same pass (the per-batch work is m small
    cdist matmuls)."""
    import numpy as np

    spark = df.sparkSession
    C = _pq_seed_codebooks(df, m, ksub, id_col, vec_col)
    dsub = C.shape[2]
    # loop-invariant scan — persist once (see kmeans_centroids)
    vecs = df.select(vec_col).persist()
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(C)

        def partials(pdfs):
            import numpy as np
            import pandas as pd

            CB = bc.value
            for b in pdfs:
                if len(b) == 0:
                    continue
                X = np.stack(b[vec_col].to_numpy()).astype(np.float64)
                Xs = X.reshape(len(X), len(CB), CB.shape[2])
                out_s, out_c, out_n, out_v = [], [], [], []
                for s in range(len(CB)):
                    a = np.argmin(_pq_dist_micro(Xs[:, s, :], CB[s]), axis=1)
                    cells, inv = np.unique(a, return_inverse=True)
                    sums = np.zeros((len(cells), CB.shape[2]))
                    np.add.at(sums, inv, Xs[:, s, :])
                    out_s.append(np.full(len(cells), s, dtype=np.int64))
                    out_c.append(cells.astype(np.int64))
                    out_n.append(np.bincount(inv).astype(np.int64))
                    out_v.extend(list(sums))
                yield pd.DataFrame(
                    {
                        "s": np.concatenate(out_s),
                        "cell": np.concatenate(out_c),
                        "n": np.concatenate(out_n),
                        "v": out_v,
                    }
                )

        rows = vecs.mapInPandas(
            partials, "s long, cell long, n long, v array<double>"
        ).collect()
        counts = np.zeros((len(C), C.shape[1]))
        sums = np.zeros_like(C)
        for r in rows:  # collect order: deterministic driver-side reduce
            counts[r.s, r.cell] += r.n
            sums[r.s, r.cell] += np.asarray(r.v)
        nonempty = counts > 0
        C = np.where(nonempty[:, :, None], sums / np.maximum(counts, 1)[:, :, None], C)
        bc.destroy()
    vecs.unpersist()  # every iteration collected eagerly — safe to drop
    return C


def euclid_topk(
    queries: DataFrame,
    pool: DataFrame | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k EUCLIDEAN neighbors — the ground-truth reference for
    the PQ operators (PQ quantizes squared L2, so its recall is audited
    on its own metric, not cosine). Fold-only on purpose: the squared
    distance is one sequential zip_with fold of (x-y)^2 — bit-identical
    to the DuckDB oracle's list fold — rounded to 6 decimals for the
    ordering with the neighbor-id tie-break (the module's standard
    determinism discipline). O(n*m) broadcast cross join: an audit
    reference, not a scale path — the scale paths are ivf/pq."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).alias("q")
    p = (pool if pool is not None else queries).select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("pv")
    ).alias("p")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("pv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        q.crossJoin(F.broadcast(p))
        .filter(F.col("qid") != F.col("pid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("pid").alias("neighbor_id"),
            F.round(d2, ROUND_ORD).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def ivfpq_topk(
    df: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    codebooks=None,
    refine_k: int | None = None,
) -> DataFrame:
    """IVF + PQ composed — the production big-index shape (what
    FAISS-style IVFPQ deploys at billion-vector scale): IVF cells bound
    WHICH candidates a query touches (``n_probe`` cells, never the
    whole pool); PQ codes bound what each candidate COSTS (m integer
    table lookups against a 16x-compressed code, never a float dot
    product). The two bounds compose multiplicatively: probe_fraction
    x compression is the end-to-end cost reduction vs brute force.

    Plan shape: pool vectors shuffle ONCE to their single nearest cell
    carrying only (id, codes); queries replicate to their n_probe
    cells; ``applyInPandas`` per cell scores the batch with one LUT
    per query (built from the query's full-precision vector) + integer
    ADC over the cell's codes, emitting per-cell top-k only — the
    global rank window then carries O(queries x n_probe x k) rows.
    Refinement not implemented here (documented trade): classic IVFPQ
    encodes RESIDUALS (x - centroid) for tighter quantization; this
    operator encodes raw vectors so the code table is shared with the
    flat-PQ path and the whole chain stays seed-derivable for the SQL
    oracle. Measured on this corpus (sf0.01, numpy replay): residual
    encoding lifts recall@3 only 0.357 -> 0.367 — near-random synthetic
    embeddings give centroids little signal to subtract — so the
    shared-code-table simplicity wins here; on clustered real
    embeddings revisit residuals first. Same determinism contract as
    pq_topk: every compared or summed value is an exact micro-floored
    BIGINT.

    ``refine_k`` enables the production RERANK stage (FAISS
    IndexRefineFlat): each probed cell emits its ADC top-``refine_k``
    shortlist instead of top-k, and the shortlist is re-scored with the
    EXACT euclidean fold (bit-identical to :func:`euclid_topk`) via a
    keyed equi-join back to the vectors — O(queries x n_probe x
    refine_k) joined rows, never the pool. Quantization error then
    only has to keep the true neighbor inside a cell's top-refine_k,
    so composed recall approaches the pure cell-hit rate (measured at
    sf0.1: seed 8/2 0.288 unrefined -> 0.448 refined at refine_k=16;
    trained 64/16 0.463 unrefined -> 0.722 refined — equal to pure
    trained IVF at the same budget) and the returned distances are
    exact.
    Returns (query_id, rank, neighbor_id, d2) in refine mode.

    Returns (query_id, rank, neighbor_id, approx_d2_micro) otherwise.
    Doubly approximate (cell misses + quantization error) — audit with
    the recall queries."""
    import numpy as np
    import pandas as pd

    C = (
        np.ascontiguousarray(np.asarray(codebooks, np.float64))
        if codebooks is not None
        else _pq_seed_codebooks(df, m, ksub, id_col, vec_col)
    )
    dsub = C.shape[2]
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(C)
    assign = ivf_assignments(
        df, n_centroids, id_col, vec_col, n_probe=n_probe, centroids=centroids
    )
    codes = pq_encode(df, m, ksub, id_col, vec_col, codebooks=C).withColumnRenamed(
        "id", "cid"
    )
    # per-cell payload discipline (r7 review): a vector POOLS only in
    # its crank-1 cell, so PQ codes are joined onto that one row; the
    # crank>1 probe replicas carry NULL codes — they exist solely to
    # bring the query's full-precision vector (needed for its LUT) into
    # the probed cell. Cuts the shuffled code payload by
    # (n_probe-1)/n_probe with no row-count change.
    grouped = assign.join(
        codes,
        (assign["id"] == codes["cid"]) & (assign["crank"] == F.lit(1)),
        "left",
    ).select("cell", "id", "v", "crank", "codes")

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "approx_d2_micro": []}
        ).astype(
            {"query_id": "int64", "neighbor_id": "int64", "approx_d2_micro": "int64"}
        )
        pool = pdf[pdf["crank"] == 1]
        if len(pool) == 0 or len(pdf) == 0:
            return empty
        CB = bc.value
        mm = len(CB)
        pids = pool["id"].to_numpy(np.int64)
        order = np.argsort(pids, kind="stable")
        pids = pids[order]
        pcodes = np.stack(pool["codes"].to_numpy())[order].astype(np.int64)
        Q = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        Qs = Q.reshape(len(Q), mm, dsub)
        qids = pdf["id"].to_numpy(np.int64)
        lut = np.empty((len(Q), mm, CB.shape[1]), dtype=np.int64)
        for s in range(mm):
            lut[:, s, :] = _pq_dist_micro(Qs[:, s, :], CB[s])
        d2u = np.zeros((len(Q), len(pids)), dtype=np.int64)
        for s in range(mm):
            d2u += lut[:, s, pcodes[:, s]]
        out_q, out_n, out_d = [], [], []
        kk_target = min(k if refine_k is None else refine_k, len(pids))
        for i in range(len(Q)):
            row = d2u[i]
            ridx = np.nonzero(pids != qids[i])[0]
            if len(ridx) == 0:
                continue
            kk = min(kk_target, len(ridx))
            rm = row[ridx]
            kth = (
                np.partition(rm, kk - 1)[kk - 1]
                if len(rm) > kk
                else np.iinfo(np.int64).max
            )
            cand = ridx[rm <= kth]
            best = cand[np.lexsort((pids[cand], row[cand]))[:kk]]
            out_q.append(np.full(len(best), qids[i]))
            out_n.append(pids[best])
            out_d.append(row[best])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "approx_d2_micro": np.concatenate(out_d),
            }
        )

    cand = grouped.groupBy("cell").applyInPandas(
        score, "query_id long, neighbor_id long, approx_d2_micro long"
    )
    if refine_k is None:
        w = Window.partitionBy("query_id").orderBy(
            F.col("approx_d2_micro").asc(), F.col("neighbor_id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "approx_d2_micro")
        )
    # exact re-rank of the ADC shortlist: two keyed equi-joins fetch the
    # full-precision vectors for the O(q x n_probe x refine_k) shortlist
    # rows only, then the euclid_topk fold/round/tie-break recomputes the
    # TRUE distance — same determinism contract as the audit reference
    qv = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    nv = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("nv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rer = (
        cand.select("query_id", "neighbor_id")
        .join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(d2, ROUND_ORD).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "d2")
    )


def ivf_topk_filtered(
    df: DataFrame,
    pool_pred,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FILTERED vector search: IVF top-k where candidate neighbors are
    restricted to vectors satisfying a metadata predicate —
    PRE-FILTERING: ``pool_pred`` (a boolean Column over the assignment
    frame; in production the metadata joins in by id before this)
    prunes the POOL before candidate generation, so cells carry only
    eligible vectors and probe cost scales with the filtered density.
    The alternative — post-filtering an unfiltered top-k — silently
    loses recall when the predicate is selective (k survivors of the
    filter may not exist among the unfiltered top-k); pre-filtering
    keeps the full per-cell candidate budget inside the eligible set.
    Queries are NOT filtered — every vector still gets neighbors.

    Fold-path scoring (per-pair Column arithmetic, bit-identical to
    the oracle); the gemm path of :func:`ivf_topk` applies the same
    pool mask inside its per-cell matmul at scale."""
    assign = pin(ivf_assignments(
        df, n_centroids, id_col, vec_col, n_probe=n_probe, strategy="fold"
    ))
    pool = assign.filter((F.col("crank") == 1) & pool_pred).select(
        F.col("cell"),
        F.col("id").alias("pid"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pnrm"),
    )
    probes = assign.select(
        F.col("cell"),
        F.col("id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cos = _dot(F.col("qv"), F.col("pv")) / (F.col("qnrm") * F.col("pnrm"))
    cand = (
        probes.join(pool, "cell")
        .filter(F.col("qid") != F.col("pid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("pid").alias("neighbor_id"),
            F.round(cos, ROUND_ORD).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sq8_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Train the SQ8 scalar quantizer: per-DIMENSION min and span over
    the whole pool, returned as ONE row ``(mins array<double>, spans
    array<double>)`` ready to broadcast. One posexplode + keyed agg
    (map-side combinable, ``dim`` output rows) + one ``dim``-row
    collect_list fold into arrays — the training cost is a single scan
    regardless of pool size."""
    ex = df.select(F.posexplode(vec_col).alias("i", "x"))
    per = ex.groupBy("i").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    return per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s.mn
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn", "mx"))),
            lambda s: s.mx - s.mn,
        ).alias("spans"),
    )


def sq8_encode(
    df: DataFrame,
    stats: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 scalar quantization: each float dimension affinely maps to
    an 8-bit code ``LEAST(255, FLOOR((x - min_i)·255 / span_i))``
    (constant dimensions code to 0) — 4x memory compression with exact
    integer distances downstream, the standard first rung of the ANN
    compression ladder below PQ's 64x. The arithmetic is one fixed
    double expression evaluated JVM-side (zip_with over the broadcast
    1-row stats), identical token-for-token in the SQL oracle — so the
    codes, and therefore every distance, hash-match across engines.

    Output: ``(id, codes array<bigint>)``. Scale shape: stats is a
    1-row broadcast crossJoin; encode itself is a map-only projection
    fused behind the scan."""
    stats = stats if stats is not None else sq8_stats(df, vec_col)
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("id"),
        F.expr(
            f"zip_with(zip_with({vec_col}, mins,"
            " (x, m) -> CAST(x AS DOUBLE) - m), spans,"
            " (d, s) -> IF(s > 0.0D,"
            " LEAST(255L, CAST(FLOOR((d * 255.0D) / s) AS BIGINT)), 0L))"
        ).alias("codes"),
    )


def sq8_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by squared L2 over SQ8 codes (self-join,
    self-matches excluded): every compared value is a small exact
    BIGINT (Σ of (a-b)² over ≤ 2^16-bounded code diffs), so ranking is
    bit-stable across engines with NO rounding quantum at all — the
    integer-exactness playbook applied to vector search. Ties break by
    neighbor id ascending.

    Physical strategy mirrors the cosine GEMM baseline: codes pool
    broadcast once, each Arrow batch of queries scores via one int64
    matmul (d2 = |a|² + |b|² - 2a·b — exact in int64; max term
    dim·255² ≈ 4e6·dim). Documented broadcast baseline — the
    beyond-broadcast twin is the same SUMMA cogroup as
    :func:`_pq_topk_sharded`."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    enc = sq8_encode(df, id_col=id_col, vec_col=vec_col)
    pdf = enc.toPandas()
    p_ids = pdf["id"].to_numpy(np.int64)
    P = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
    order = np.argsort(p_ids, kind="stable")
    p_ids, P = p_ids[order], np.ascontiguousarray(P[order])
    p_sq = np.einsum("ij,ij->i", P, P)
    bc = spark.sparkContext.broadcast((p_ids, P, p_sq))

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        ids_p, Pm, psq = bc.value
        n = len(ids_p)
        sentinel = np.iinfo(np.int64).max
        for b in pdfs:
            if len(b) == 0:
                continue
            q_ids = b["id"].to_numpy(np.int64)
            Q = np.stack(b["codes"].to_numpy()).astype(np.int64)
            qsq = np.einsum("ij,ij->i", Q, Q)
            D = qsq[:, None] + psq[None, :] - 2 * (Q @ Pm.T)
            pos = np.searchsorted(ids_p, q_ids)
            hit = (pos < n) & (ids_p[np.minimum(pos, n - 1)] == q_ids)
            D[np.nonzero(hit)[0], pos[hit]] = sentinel
            kks = np.minimum(k, n - hit.astype(np.int64))
            offs = np.concatenate(([0], np.cumsum(kks)))
            total = int(offs[-1])
            out_q = np.empty(total, np.int64)
            out_p = np.empty(total, np.int64)
            out_d = np.empty(total, np.int64)
            out_r = np.empty(total, np.int32)
            for i in range(len(q_ids)):
                kki = int(kks[i])
                if kki <= 0:
                    continue
                r = D[i]
                kth = np.partition(r, kki - 1)[kki - 1]
                cand = np.nonzero(r <= kth)[0]
                best = cand[np.lexsort((ids_p[cand], r[cand]))[:kki]]
                lo, hi = offs[i], offs[i + 1]
                out_q[lo:hi] = q_ids[i]
                out_p[lo:hi] = ids_p[best]
                out_d[lo:hi] = r[best]
                out_r[lo:hi] = np.arange(1, kki + 1)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_p,
                    "d2": out_d,
                    "rank": out_r,
                }
            )

    return enc.mapInPandas(
        fn, "query_id long, neighbor_id long, d2 long, rank int"
    )


def mmr_topk(
    df: DataFrame,
    k: int = 3,
    pool_k: int = 8,
    lam_micro: int = 500_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the production RERANK stage between retrieval
    and the user: from each query's ``pool_k`` cosine candidates,
    greedily pick ``k`` results maximizing

        score(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)

    so near-duplicate hits don't crowd the result list. Exact integer
    selection: rel and pairwise sims are cosines lifted to micro units
    (BIGINT) with HALF-AWAY rounding at the 6th decimal (matching SQL
    ROUND semantics in both Spark and DuckDB, not numpy's
    half-to-even), the empty-selection max is 0 by convention,
    λ = ``lam_micro``/1e6, ties break by candidate id ascending —
    every argmax is a deterministic integer comparison, so a SQL
    engine unrolling the k greedy steps reproduces the exact picks.

    Scale shape: candidate generation is :func:`cosine_topk` (GEMM
    broadcast baseline / blocked SUMMA beyond); the rerank itself is
    ``applyInPandas`` per query over ≤ ``pool_k`` rows — the greedy
    loop's quadratic is pool_k², a constant, never corpus-shaped.
    Output: ``(query_id, neighbor_id, mmr_score, rank)``."""
    import numpy as np
    import pandas as pd

    if not (1 <= k <= pool_k):
        raise ValueError(f"need 1 <= k <= pool_k, got k={k}, pool_k={pool_k}")
    cand = cosine_topk(df, k=pool_k, id_col=id_col, vec_col=vec_col).select(
        "query_id",
        "neighbor_id",
        F.expr("CAST(ROUND(cosine * 1000000.0, 0) AS BIGINT)").alias("rel_micro"),
    )
    withvec = cand.join(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")),
        "neighbor_id",
    )

    out_schema = "query_id long, neighbor_id long, mmr_score long, rank int"

    def rerank(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy(np.int64)
        rel = pdf["rel_micro"].to_numpy(np.int64)
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        if not np.all(nrm > 0.0):
            raise ValueError(
                "mmr_topk: zero-norm embedding in candidate pool; "
                "cosine similarity is undefined — filter upstream"
            )
        # Half-AWAY rounding at the 6th decimal (floor(|x|*1e6 + 0.5)
        # with the sign restored) — pins the tie rule to SQL ROUND
        # (HALF_UP in Spark, half-away in DuckDB), unlike numpy's
        # round-half-to-even, so an exact half picks the same
        # candidate in the SQL replay.
        C = (V @ V.T) / np.outer(nrm, nrm)
        S = (np.sign(C) * np.floor(np.abs(C) * 1e6 + 0.5)).astype(np.int64)
        n = len(ids)
        chosen: list[int] = []
        scores: list[int] = []
        remaining = list(range(n))
        lam, inv = int(lam_micro), 1_000_000 - int(lam_micro)
        for _ in range(min(k, n)):
            best_i, best_score = None, None
            for i in remaining:
                maxsim = max((int(S[i, j]) for j in chosen), default=0)
                sc = lam * int(rel[i]) - inv * maxsim
                # ids ascend in `remaining`, so strict > keeps the
                # smallest id among score ties
                if best_score is None or sc > best_score:
                    best_i, best_score = i, sc
            chosen.append(best_i)
            scores.append(best_score)
            remaining.remove(best_i)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[chosen],
                "mmr_score": np.asarray(scores, np.int64),
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
            }
        )

    return withvec.groupBy("query_id").applyInPandas(rerank, out_schema)


def _rp_sign_expr(j: str, d: str) -> str:
    """The pinned ±1 Rademacher sign formula shared by the Spark op,
    the numpy GEMM kernel, and the SQL oracle:

        bit(j, d) = bit_count((j*1000003 + d + 1) * 2654435761) % 2

    POPCOUNT PARITY of a Knuth multiplicative hash — measured
    indistinguishable from true iid ±1 on this corpus (median pair
    distortion 0.96, p05/p95 0.50/1.66 at 64→16 — identical to an RNG
    matrix), where low-bit/shifted-bit parities of the same hash were
    badly correlated (rank-8 sign matrices, near-random recall).  All
    operands positive and < 2^56, so no wraparound anywhere and both
    engines' bit_count/% agree."""
    return (
        f"1 - 2 * CAST(bit_count(({j} * 1000003 + {d} + 1) * 2654435761)"
        " % 2 AS INT)"
    )


def _rp_sign_matrix(out_dim: int, in_dim: int):
    """Numpy twin of :func:`_rp_sign_expr` (values < 2^56, so int64
    arithmetic matches SQL BIGINT exactly); popcount parity via an
    XOR bit-fold (numpy<2 has no bitwise_count)."""
    import numpy as np

    jj = np.arange(out_dim, dtype=np.int64)[:, None]
    dd = np.arange(in_dim, dtype=np.int64)[None, :]
    h = (jj * 1_000_003 + dd + 1) * 2654435761
    for s in (32, 16, 8, 4, 2, 1):
        h = h ^ (h >> s)
    return (1 - 2 * (h & 1)).astype(np.int64)


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION to ``out_dim``
    dimensions with a deterministic Rademacher (±1) matrix — the
    dimensionality-reduction rung of the ANN ladder (distance-
    preserving sketches BELOW quantization: SQ8/PQ compress per-
    component precision; JL compresses the component COUNT, the
    standard preprocessing before an index at web scale).

    Exact integer contract: components lift to micro units via
    ``FLOOR(1e6 * CAST(x AS DOUBLE))`` (float→double widening and
    floor are IEEE-identical in both engines, including negatives),
    and each output coordinate is the ±1-signed BIGINT sum

        y(v, j) = Σ_d sign(j, d) · x_micro(v, d)

    with the sign formula pinned in :func:`_rp_sign_expr` — no float
    after the lift, so the projected table is bit-replayable by SQL.

    Scale shape: one posexplode (linear in n·in_dim), one BROADCAST
    join against the out_dim×in_dim sign table (1024 rows at the
    default — never a shuffle), one map-side-combinable SUM keyed on
    (id, j). Output: long-format ``(id_col, j, y)`` — the relational
    encoding of the projected matrix (same COO discipline as the
    regrid weights)."""
    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"need out_dim, in_dim >= 1, got {out_dim}, {in_dim}")
    spark = df.sparkSession
    # one flat range, j/d unpacked arithmetically — no cross join node
    signs = spark.range(out_dim * in_dim).select(
        F.expr(f"id div {in_dim}L").alias("j"),
        (F.col("id") % in_dim).alias("d"),
        F.expr(
            _rp_sign_expr(f"(id div {in_dim}L)", f"(id % {in_dim})")
        ).alias("s"),
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("d", "__x"),
    ).select(
        id_col,
        "d",
        F.floor(F.lit(1_000_000.0) * F.col("__x").cast("double")).alias("xm"),
    )
    return (
        ex.join(F.broadcast(signs), "d")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("s") * F.col("xm")).alias("y"))
    )


def rp_topk(
    df: DataFrame,
    k: int = 3,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest neighbors IN THE RANDOM-PROJECTION SKETCH
    space (squared L2 over :func:`random_projection` coordinates) —
    the JL search rung: 4x fewer dimensions than the raw vectors at
    the default 64→16, with the sketch distance a small exact BIGINT
    (|y| <= in_dim·1e6·|x|_max keeps d2 = Σ(ya-yb)² far inside 2^63
    for unit-scale embeddings), so ranking needs NO rounding quantum
    at all.  Recall against the exact euclidean baseline is the
    audit number (``ann_rp_recall``).

    Physical strategy mirrors :func:`_cosine_topk_gemm`: the POOL is
    projected driver-side (one numpy int64 GEMM over the pinned sign
    matrix — bit-identical to the relational op by construction) and
    broadcast; query batches stream through ``mapInPandas``, project
    with the same kernel, and rank ``(d2 ASC, neighbor ASC)`` with
    self-matches excluded.  Only the pool must fit in a broadcast —
    the same premise as every *_gemm path here.

    Output: ``(query_id, neighbor_id, d2, rank)`` — d2 in squared
    micro units."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    S = _rp_sign_matrix(out_dim, in_dim)

    def project(ids, V):
        Xm = np.floor(1_000_000.0 * V.astype(np.float64)).astype(np.int64)
        return Xm @ S.T  # (n, out_dim) exact int64

    pdf = df.select(id_col, vec_col).toPandas()
    p_ids = pdf[id_col].to_numpy(np.int64)
    P = project(p_ids, np.stack(pdf[vec_col].to_numpy()))
    order = np.argsort(p_ids, kind="stable")
    p_ids, P = p_ids[order], np.ascontiguousarray(P[order])
    bc = spark.sparkContext.broadcast((p_ids, P))

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        ids_p, Pm = bc.value
        n = len(ids_p)
        for b in pdfs:
            if len(b) == 0:
                continue
            q_ids = b[id_col].to_numpy(np.int64)
            Q = project(q_ids, np.stack(b[vec_col].to_numpy()))
            # exact int64 squared distances: ||q||^2 - 2qP + ||p||^2
            # via explicit loop-free einsum terms (all int64, bounded
            # by in_dim^2 * 1e12 * out_dim << 2^63 at unit scale)
            qq = np.einsum("ij,ij->i", Q, Q)
            pp = np.einsum("ij,ij->i", Pm, Pm)
            D = qq[:, None] - 2 * (Q @ Pm.T) + pp[None, :]
            pos = np.searchsorted(ids_p, q_ids)
            hit = (pos < n) & (ids_p[np.minimum(pos, n - 1)] == q_ids)
            D[np.nonzero(hit)[0], pos[hit]] = np.iinfo(np.int64).max
            kks = np.minimum(k, n - hit.astype(np.int64))
            offs = np.concatenate(([0], np.cumsum(kks)))
            total = int(offs[-1])
            out_q = np.empty(total, np.int64)
            out_p = np.empty(total, np.int64)
            out_d = np.empty(total, np.int64)
            out_r = np.empty(total, np.int32)
            for i in range(len(q_ids)):
                kki = int(kks[i])
                if kki <= 0:
                    continue
                r = D[i]
                kth = np.partition(r, kki - 1)[kki - 1]
                cand = np.nonzero(r <= kth)[0]
                best = cand[np.lexsort((ids_p[cand], r[cand]))[:kki]]
                lo, hi = offs[i], offs[i + 1]
                out_q[lo:hi] = q_ids[i]
                out_p[lo:hi] = ids_p[best]
                out_d[lo:hi] = r[best]
                out_r[lo:hi] = np.arange(1, kki + 1)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_p,
                    "d2": out_d,
                    "rank": out_r,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, "query_id long, neighbor_id long, d2 long, rank int"
    )


def rp_distortion(
    df: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The Johnson-Lindenstrauss lemma MADE MEASURABLE: exact quantiles
    of the per-pair distance-distortion ratio

        ratio = ||S·a − S·b||² / (out_dim · ||a − b||²)

    over every vector pair (both numerators exact BIGINTs over the
    shared micro lift; E[ratio] = 1 for Rademacher S).  This is the
    honest audit for a projection sketch: JL guarantees DISTANCES
    concentrate around 1 (p05/p95 ≈ 0.50/1.66 at 64→16 on this
    corpus), while top-k RANK recall can be near-random on a corpus
    whose points are near-uniform on the sphere (neighbors barely
    closer than strangers — measured, see ``ann_rp_recall``).  Ratio
    pins as ``(1e6·d2_sketch) div (out_dim·d2_exact)`` BIGINT;
    identical-vector pairs (d2_exact = 0) are excluded, counted in
    ``n_zero``.  Quantiles are NEAREST-RANK order statistics (index
    ``1 + (q·(n−1)) div 100`` over the (ratio, pair) ordering) — exact
    selection, no interpolation, engine-deterministic.

    Scale shape: one GEMM batch pass (pool broadcast, queries stream);
    pair volume is O(n²) BY DEFINITION of the audit — at web scale it
    runs on a sampled subset, which is why the registered query bounds
    the pool.  Output: 1 row ``(p05_micro, p50_micro, p95_micro,
    n_pairs, n_zero)``."""
    import numpy as np

    from pyspark.sql import Window

    S = _rp_sign_matrix(out_dim, in_dim)
    spark = df.sparkSession
    pdf = df.select(id_col, vec_col).toPandas()
    p_ids = pdf[id_col].to_numpy(np.int64)
    Xm = np.floor(
        1_000_000.0 * np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    ).astype(np.int64)
    order = np.argsort(p_ids, kind="stable")
    p_ids, Xm = p_ids[order], np.ascontiguousarray(Xm[order])
    P = Xm @ S.T
    bc = spark.sparkContext.broadcast((p_ids, Xm, P))

    def fn(pdfs):
        import numpy as np
        import pandas as pd

        ids_p, Xp, Pp = bc.value

        for b in pdfs:
            if len(b) == 0:
                continue
            q_ids = b[id_col].to_numpy(np.int64)
            Xq = np.floor(
                1_000_000.0 * np.stack(b[vec_col].to_numpy()).astype(np.float64)
            ).astype(np.int64)
            Q = Xq @ S.T
            # exact int64 pair distances in both spaces; emit only the
            # ordered half (qid < pid) so each pair counts once
            qq = np.einsum("ij,ij->i", Xq, Xq)
            pp = np.einsum("ij,ij->i", Xp, Xp)
            De = qq[:, None] - 2 * (Xq @ Xp.T) + pp[None, :]
            sq = np.einsum("ij,ij->i", Q, Q)
            sp = np.einsum("ij,ij->i", Pp, Pp)
            Ds = sq[:, None] - 2 * (Q @ Pp.T) + sp[None, :]
            mask = q_ids[:, None] < ids_p[None, :]
            de, ds = De[mask], Ds[mask]
            nz = de == 0
            good = ~nz
            # 1e6·d2_sketch can reach ~1e23 — beyond int64, so the
            # ratio division runs in Python bigints (the oracle's
            # HUGEINT twin); pair counts per batch keep this cheap
            ratio = np.fromiter(
                (
                    (1_000_000 * int(s)) // (out_dim * int(e))
                    for s, e in zip(ds[good], de[good])
                ),
                dtype=np.int64,
                count=int(good.sum()),
            )
            yield pd.DataFrame(
                {"ratio_micro": ratio, "z": np.zeros(int(good.sum()), np.int8)}
            )
            if nz.any():
                yield pd.DataFrame(
                    {
                        "ratio_micro": np.full(int(nz.sum()), -1, np.int64),
                        "z": np.ones(int(nz.sum()), np.int8),
                    }
                )

    pairs = df.select(id_col, vec_col).mapInPandas(
        fn, "ratio_micro long, z tinyint"
    )
    good = pairs.filter(F.col("z") == 0)
    w = Window.orderBy(F.col("ratio_micro").asc())
    ranked = good.select("ratio_micro", F.row_number().over(w).alias("rn"))
    n = good.agg(F.count(F.lit(1)).alias("n_pairs"))
    nz = pairs.filter(F.col("z") == 1).agg(F.count(F.lit(1)).alias("n_zero"))
    picks = (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            (F.col("rn") == F.expr("1 + (5 * (n_pairs - 1)) div 100"))
            | (F.col("rn") == F.expr("1 + (50 * (n_pairs - 1)) div 100"))
            | (F.col("rn") == F.expr("1 + (95 * (n_pairs - 1)) div 100"))
        )
        .select(
            "ratio_micro",
            "rn",
            "n_pairs",
            F.expr("1 + (5 * (n_pairs - 1)) div 100").alias("__i05"),
            F.expr("1 + (50 * (n_pairs - 1)) div 100").alias("__i50"),
            F.expr("1 + (95 * (n_pairs - 1)) div 100").alias("__i95"),
        )
    )
    return (
        picks.agg(
            F.max(F.when(F.col("rn") == F.col("__i05"), F.col("ratio_micro"))).alias(
                "p05_micro"
            ),
            F.max(F.when(F.col("rn") == F.col("__i50"), F.col("ratio_micro"))).alias(
                "p50_micro"
            ),
            F.max(F.when(F.col("rn") == F.col("__i95"), F.col("ratio_micro"))).alias(
                "p95_micro"
            ),
            F.max("n_pairs").alias("n_pairs"),
        )
        .crossJoin(F.broadcast(nz))
    )
