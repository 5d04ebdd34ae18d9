"""Tests for the LLM-data-pipeline text operators."""

import pytest
from pyspark.sql import functions as F

from xesmf_spark import pipeline as PL


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d.persist().count()
    return d


def test_exact_dedup_finds_normalized_copies(spark, docs):
    """Exact copies and case/whitespace variants must land in the same
    content group; distinct texts must not."""
    base = docs.select("doc_id", "text")
    dup = docs.limit(5).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("   ")).alias("text"),
    )
    groups = PL.exact_dedup(base.unionByName(dup))
    n_docs = base.count()
    assert groups.agg(F.sum("n_docs")).collect()[0][0] == n_docs + 5
    assert groups.filter(F.col("n_docs") >= 2).count() >= 5


def test_minhash_dedup_finds_truncation_neardups(spark, docs):
    """Dropping the last 3 tokens keeps Jaccard high; the LSH+verify
    pipeline must surface those pairs with exact Jaccard >= 0.5."""
    t = PL.tokens(F.col("text"))
    trunc = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(t, 1, F.greatest(F.size(t) - 3, F.lit(1)))).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(trunc)
    pairs = PL.minhash_dedup_pairs(both, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    planted = [(i, i + 1000) for i in range(docs.count())]
    hits = [p for p in planted if p in got]
    # banded LSH is probabilistic per pair, but at jaccard ~0.9 recall
    # must be near-total; verification makes every reported pair exact
    assert len(hits) >= 0.8 * len(planted)
    assert all(v >= 0.5 for v in got.values())


def test_simhash_close_for_neardups(spark, docs):
    """SimHash of a doc and its truncation differ in few bits; random
    doc pairs differ in many."""
    t = PL.tokens(F.col("text"))
    trunc = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(t, 1, F.greatest(F.size(t) - 3, F.lit(1)))).alias("text"),
    )
    sh = {r.doc_id: r.simhash for r in PL.simhash(
        docs.select("doc_id", "text").unionByName(trunc)
    ).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    near = [ham(sh[i], sh[i + 1000]) for i in range(10)]
    far = [ham(sh[i], sh[j]) for i in range(5) for j in range(5) if i < j]
    # the synthetic corpus shares a tiny vocabulary, so even unrelated
    # docs have overlapping token SETS — compare relatively
    assert max(near) <= 8  # of 32 honest bits (was <=6 of an effective 30)
    assert sum(far) / len(far) > 2 * sum(near) / len(near)


def test_dedup_groups_transitive(spark):
    """A~B and B~C (without A~C as a pair) must collapse into ONE
    component keeping the smallest id; isolated docs keep themselves."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 20)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20, 30, 99)], ["doc_id"])
    got = {r.doc_id: r.keep_id for r in PL.dedup_groups(pairs, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 30: 20, 99: 99}


def test_dedup_groups_long_chain_converges(spark):
    """A path graph is the worst case for min-label propagation (round
    count = diameter); a 12-node chain must still fully converge."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    got = {r.doc_id: r.keep_id for r in PL.dedup_groups(pairs).collect()}
    assert got == {i: 0 for i in range(13)}


def test_simhash_all_bits_vary(spark):
    """No fingerprint bit may be structurally constant (the old mod-P
    hash pinned bits 30-31 to 0). Single-token docs make the fingerprint
    equal the token's hash bits, so over a few hundred tokens every one
    of the 32 positions must take both values."""
    docs1 = spark.range(300).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("tok"), F.col("id")).alias("text")
    )
    fps = [r.simhash for r in PL.simhash(docs1).collect()]
    ones = 0
    zeros = 0
    for fp in fps:
        ones |= fp
        zeros |= ~fp
    mask = (1 << 32) - 1
    assert ones & mask == mask, f"stuck-at-0 bits: {bin(~ones & mask)}"
    assert zeros & mask == mask, f"stuck-at-1 bits: {bin(~zeros & mask)}"


def test_simhash_pairs_exact_at_radius(spark, docs):
    """The banded candidate join must be EXACT at the Hamming radius
    (pigeonhole: n_bands = radius+1), so its output must equal the
    brute-force all-pairs popcount-of-XOR filter — no missed pair, no
    false positive, correct distances."""
    both = docs.select("doc_id", "text").unionByName(
        docs.limit(8).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in PL.simhash_pairs(both, bits=60, radius=3, n_bands=4).collect()
    }
    sh = {r.doc_id: r.simhash for r in PL.simhash(both, bits=60).collect()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sh[a] ^ sh[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    # the planted case/whitespace variants normalize identically ->
    # Hamming 0 pairs must be present
    assert sum(1 for v in got.values() if v == 0) >= 8


def test_simhash_pairs_bucket_valve(spark):
    """A degenerate corpus (many identical docs -> one fingerprint ->
    every band bucket holds all of them) must be dropped entirely by
    the skew valve when the bucket cap is exceeded — no pairs emitted,
    no quadratic join."""
    many = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    assert PL.simhash_pairs(many, max_bucket=10).count() == 0
    # and with the valve off the quadratic result comes back
    assert PL.simhash_pairs(many, max_bucket=None).count() == 50 * 49 // 2


def test_simhash_pairs_rejects_bad_banding(spark, docs):
    with pytest.raises(ValueError):
        PL.simhash_pairs(docs, bits=32, radius=3, n_bands=3)  # < radius+1
    with pytest.raises(ValueError):
        PL.simhash_pairs(docs, bits=32, n_bands=5)  # not divisible


def test_unigram_logprob_matches_python_lm(spark):
    """The micro-nat-floored score must equal a Python replay of the
    same unigram LM exactly (integer space — no tolerance), and a doc
    of corpus-rare tokens must score below a doc of corpus-common
    ones."""
    import math

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the mat"),
        (2, "zyx qwv unique singleton tokens here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in PL.unigram_logprob_score(df).collect()}
    toks = {i: t.lower().split() for i, t in rows}
    from collections import Counter

    cnt = Counter(t for ts in toks.values() for t in ts)
    total = sum(cnt.values())
    for i, ts in toks.items():
        want = sum(math.floor(1_000_000 * math.log(cnt[t] / total)) for t in ts)
        assert got[i].sum_lp_micro == want
        assert got[i].n_tokens == len(ts)
    assert got[2].avg_logprob < got[0].avg_logprob
    assert got[2].avg_logprob < got[1].avg_logprob


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc sharing a 13-gram with the eval set must be
    flagged (verbatim copy -> frac 1.0); disjoint docs must not appear;
    short eval docs match via the whole-text convention."""
    words = " ".join(f"w{i}" for i in range(20))
    eval_df = spark.createDataFrame(
        [(100, words), (101, "short eval item")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, words),  # verbatim copy -> every gram contaminated
            (2, " ".join(f"x{i}" for i in range(20))),  # disjoint
            (3, "prefix words then short eval item"),  # no shared 13-gram
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in PL.decontaminate(train, eval_df, n=13).collect()}
    assert set(got) == {1}
    assert got[1].contaminated_frac == 1.0
    # the short eval doc's whole text IS its gram: a verbatim short copy
    # in train must match
    train2 = spark.createDataFrame([(7, "short eval item")], ["doc_id", "text"])
    got2 = PL.decontaminate(train2, eval_df, n=13).collect()
    assert [(r.doc_id, r.contaminated_frac) for r in got2] == [(7, 1.0)]


def test_text_stats_ranges(spark, docs):
    s = PL.text_stats(docs)
    bad = s.filter(
        (F.col("n_tokens") <= 0)
        | (F.col("quality") < 0)
        | (F.col("quality") > 1)
        | (F.col("stopword_ratio") < 0)
        | (F.col("stopword_ratio") > 1)
    )
    assert bad.count() == 0
    assert s.filter(F.col("lang_pred") == "en").count() > 0


def test_fingerprint_stable_under_whitespace(spark, docs):
    """Fingerprint is computed on normalized text — case/whitespace
    variants must collide, distinct docs must not (bottom-k sketch)."""
    a = PL.doc_fingerprint(docs).withColumnRenamed("fingerprint", "fa")
    noisy = docs.select("doc_id", F.concat(F.upper("text"), F.lit("  ")).alias("text"))
    b = PL.doc_fingerprint(noisy).withColumnRenamed("fingerprint", "fb")
    j = a.join(b, "doc_id")
    assert j.filter(F.col("fa") != F.col("fb")).count() == 0
    # bottom-k is a similarity sketch, not a unique id: docs sharing
    # their k smallest shingle hashes collide (tiny shared vocab here)
    assert a.select("fa").distinct().count() >= 0.9 * docs.count()


def test_pq_topk_matches_numpy_replay(spark):
    """The full PQ chain (seed codebooks -> integer-floored encode ->
    ADC top-k) must equal an independent numpy replay of the same
    integer arithmetic EXACTLY — codes, neighbors, ranks, and the
    micro-unit distances."""
    import numpy as np

    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    m, ksub = SIM.PQ_M, SIM.PQ_KSUB
    dsub = X.shape[1] // m
    C = X[ids < ksub].reshape(ksub, m, dsub).transpose(1, 0, 2)
    Xs = X.reshape(len(X), m, dsub)
    codes = np.empty((len(X), m), dtype=np.int64)
    lut = np.empty((len(X), m, ksub), dtype=np.int64)
    for s in range(m):
        D = Xs[:, s, None, :] - C[s][None, :, :]
        d2u = np.floor(1_000_000 * (D * D).sum(-1)).astype(np.int64)
        codes[:, s] = np.argmin(d2u, axis=1)
        lut[:, s, :] = d2u
    d2 = np.zeros((len(X), len(X)), dtype=np.int64)
    for s in range(m):
        d2 += lut[:, s, codes[:, s]]
    want = set()
    for i in range(len(X)):
        row = d2[i]
        others = np.nonzero(ids != ids[i])[0]
        best = others[np.lexsort((ids[others], row[others]))[:3]]
        for r, j in enumerate(best, 1):
            want.add((int(ids[i]), r, int(ids[j]), int(row[j])))
    got = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3).collect()
    }
    assert got == want
    # and the encoder's codes agree with the replay
    enc = {r.id: list(r.codes) for r in SIM.pq_encode(emb).collect()}
    assert enc == {int(i): list(map(int, c)) for i, c in zip(ids, codes)}


def test_pq_topk_sharded_matches_broadcast(spark):
    """pq_topk(sharded=True) — codes never collected, SUMMA cogroup —
    is value-identical to the broadcast plan, including with trained
    codebooks and asymmetric shard/block counts."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3).collect()
    }
    got = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3, sharded=True).collect()
    }
    assert got == want
    got_asym = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(
            emb, k=3, sharded=True, q_blocks=3, p_shards=5
        ).collect()
    }
    assert got_asym == want
    cb = SIM.pq_train_codebooks(emb, n_iters=2)
    want_t = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3, codebooks=cb).collect()
    }
    got_t = {
        (r.query_id, r.rank, r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3, codebooks=cb, sharded=True).collect()
    }
    assert got_t == want_t


def test_pq_topk_sharded_group_integrity_at_scale(spark):
    """Regression: cogroup keys must have IDENTICAL types on both
    sides — a LONG pmod key on one side vs an INT explode key on the
    other hash-partitions the same logical group to different
    partitions, silently delivering one-sided (empty-scored) groups.
    Reproduced at the 2000-vector scale (sf0.1) pre-fix; this mirrors
    that scale synthetically so the pytest gate catches it."""
    import numpy as np

    from pyspark.sql import functions as F

    from xesmf_spark import similarity as SIM

    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.sin(F.col("id") * (i + 1).cast("double") * 0.37) * 2.0
            ).cast("float"),
        ).alias("embedding"),
    )
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_d2_micro)
        for r in SIM.pq_topk(emb, k=3, sharded=True).collect()
    }
    assert got == want
    assert len(got) == 2000 * 3


def test_pq_training_reduces_distortion(spark):
    """Lloyd iterations must not increase total quantization error
    (sum over vectors/subspaces of the chosen centroid's micro
    distance) vs the seed codebook, and the trained codebook must plug
    into the same topk path."""
    import numpy as np

    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()

    def distortion(codebooks):
        pdf = emb.toPandas()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        C = (
            np.asarray(codebooks, np.float64)
            if codebooks is not None
            else SIM._pq_seed_codebooks(emb, SIM.PQ_M, SIM.PQ_KSUB, "vec_id", "embedding")
        )
        Xs = X.reshape(len(X), len(C), C.shape[2])
        tot = 0
        for s in range(len(C)):
            tot += int(SIM._pq_dist_micro(Xs[:, s, :], C[s]).min(axis=1).sum())
        return tot

    cb = SIM.pq_train_codebooks(emb, n_iters=3)
    assert distortion(cb) <= distortion(None)
    assert SIM.pq_topk(emb, k=3, codebooks=cb).count() > 0


def test_ivfpq_candidates_respect_cells_and_adc(spark):
    """Every IVFPQ result pair must (a) lie in a cell the query
    probed (neighbor's home cell ∈ query's probe set), (b) carry
    EXACTLY the flat-PQ ADC distance for that pair, and (c) be ranked
    (distance, neighbor) within the query."""
    import numpy as np

    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    res = SIM.ivfpq_topk(emb, k=3, n_centroids=8, n_probe=2).collect()
    assert len(res) > 0
    assign = SIM.ivf_assignments(emb, 8, n_probe=2).select("id", "cell", "crank")
    home = {r.id: r.cell for r in assign.filter(F.col("crank") == 1).collect()}
    probes = {}
    for r in assign.collect():
        probes.setdefault(r.id, set()).add(r.cell)
    # independent flat ADC distances (numpy replay, exact integers)
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    C = SIM._pq_seed_codebooks(emb, SIM.PQ_M, SIM.PQ_KSUB, "vec_id", "embedding")
    Xs = X.reshape(len(X), len(C), C.shape[2])
    codes = np.empty((len(X), len(C)), dtype=np.int64)
    lut = np.empty((len(X), len(C), C.shape[1]), dtype=np.int64)
    for s in range(len(C)):
        d2u = SIM._pq_dist_micro(Xs[:, s, :], C[s])
        codes[:, s] = d2u.argmin(1)
        lut[:, s, :] = d2u
    idx = {int(v): i for i, v in enumerate(ids)}
    by_q = {}
    for r in res:
        assert home[r.neighbor_id] in probes[r.query_id]
        d = int(
            sum(
                lut[idx[r.query_id], s, codes[idx[r.neighbor_id], s]]
                for s in range(len(C))
            )
        )
        assert r.approx_d2_micro == d
        by_q.setdefault(r.query_id, []).append((r.rank, r.approx_d2_micro, r.neighbor_id))
    for rows in by_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert rows == sorted(rows, key=lambda t: (t[1], t[2]))


def test_pq_encode_rejects_bad_split(spark):
    import pytest as _pytest

    from xesmf_spark import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(i)] * 10) for i in range(20)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        SIM.pq_encode(emb, m=8).collect()  # 10 dims not divisible by 8


def test_cosine_topk_gemm_matches_fold(spark):
    """The GEMM physical strategy must return EXACTLY the fold path's
    rows — same neighbors, same rounded cosines, same tie resolution
    (ordering is by rounded-6 cosine + neighbor id in both)."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    fold = SIM.cosine_topk(emb, k=3, strategy="fold").collect()
    gemm = SIM.cosine_topk(emb, k=3, strategy="gemm").collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)
    assert sorted(map(key, fold)) == sorted(map(key, gemm))
    assert len(fold) > 0


def test_cosine_topk_gemm_disjoint_pool_matches_fold(spark):
    """With an explicit pool DISJOINT from the queries and k >= pool
    size, gemm must return all n pool neighbors like fold (a blanket
    n-1 candidate count dropped one)."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    queries = emb.filter(F.col("vec_id") < 20)
    pool = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103))
    fold = SIM.cosine_topk(queries, k=5, pool=pool, strategy="fold").collect()
    gemm = SIM.cosine_topk(queries, k=5, pool=pool, strategy="gemm").collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)
    assert sorted(map(key, fold)) == sorted(map(key, gemm))
    assert len(gemm) == 20 * 3  # every query gets ALL 3 pool neighbors


def test_knn_join_bucketed_wide_bins_match_broadcast(spark):
    """Voxels wider than half the sphere leave two per axis, so every
    needle's cube is clipped to the pool's voxel box on each side; the
    clipped ranges must not double-rank the same neighbor."""
    from tests.test_regrid import ONE_VOXEL, voxel_side
    from xesmf_spark.grids import grid_2d, grid_global
    from xesmf_spark.weights.nearest import knn_join

    g_pool = grid_global(spark, 30.0, 18.0)
    g_need = grid_2d(spark, -180, 180, 45.0, -80, 80, 40.0)
    with voxel_side(ONE_VOXEL):
        bb = knn_join(g_need, g_pool, k=3).collect()
    with voxel_side(1.5):
        bk = knn_join(g_need, g_pool, k=3).collect()
    key = lambda r: (r.left_id, r.rank, r.right_id, r.dist2)
    assert sorted(map(key, bb)) == sorted(map(key, bk))
    assert len(bb) > 0
    assert len({(r.left_id, r.right_id) for r in bk}) == len(bk)


def test_ivf_topk_gemm_matches_fold(spark):
    """Per-cell GEMM scoring + gemm codebook assignment must reproduce
    the fold path exactly (same cells, same candidates, same ranks)."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    fold = SIM.ivf_topk(emb, strategy="fold").collect()
    gemm = SIM.ivf_topk(emb, strategy="gemm").collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine)
    assert sorted(map(key, fold)) == sorted(map(key, gemm))
    assert len(fold) > 0


def test_ivf_topk_fold_releases_its_assignments(spark):
    """The fold path's persisted assignment table is registered, so
    release_persisted() leaves the session cache empty."""
    import random

    from xesmf_spark import release_persisted
    from xesmf_spark import similarity as SIM

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    spark.catalog.clearCache()
    assert SIM.ivf_topk(emb, strategy="fold").count() > 0
    release_persisted()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kmeans_centroids_improve_ivf_recall(spark):
    """Trained (spherical k-means) centroids must match-or-beat the
    seed-subset codebook's top-k recall on the planted-duplicate corpus
    — the production swap-in promised by similarity.py's module doc —
    and be deterministic unit vectors (no RNG in the trainer)."""
    import numpy as np

    from xesmf_spark import similarity as SIM
    from xesmf_spark.queries import _emb_with_dups

    emb = _emb_with_dups(spark, "/root/testdata/sf0.001")
    emb.persist().count()
    key = lambda rows: {(r.query_id, r.neighbor_id) for r in rows}
    exact = key(SIM.cosine_topk(emb, k=3).collect())

    km = SIM.kmeans_centroids(emb, n_centroids=16, n_iters=5)
    km2 = SIM.kmeans_centroids(emb, n_centroids=16, n_iters=5)
    assert np.array_equal(km[1], km2[1])  # deterministic
    assert np.allclose(np.linalg.norm(km[1], axis=1), 1.0)

    seed = key(SIM.ivf_topk(emb, k=3, n_centroids=16, n_probe=2).collect())
    trained = key(
        SIM.ivf_topk(emb, k=3, n_centroids=16, n_probe=2, centroids=km).collect()
    )
    r_seed = len(seed & exact) / len(exact)
    r_km = len(trained & exact) / len(exact)
    # measured at sf0.001: 0.41 seed vs 0.50 trained — a real gap, not a tie
    assert r_km >= r_seed
    emb.unpersist()


def test_ivf_assignments_fold_accepts_trained_centroids(spark):
    """The fold strategy must score a passed-in codebook identically to
    the gemm strategy (same cells, same probe ranks)."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    emb.persist().count()
    km = SIM.kmeans_centroids(emb, n_centroids=8, n_iters=2)
    g = SIM.ivf_assignments(emb, 8, n_probe=2, strategy="gemm", centroids=km)
    f = SIM.ivf_assignments(emb, 8, n_probe=2, strategy="fold", centroids=km)
    gk = sorted((r.id, r.crank, r.cell) for r in g.collect())
    fk = sorted((r.id, r.crank, r.cell) for r in f.collect())
    assert gk == fk
    emb.unpersist()


def test_cosine_topk_blocked_matches_fold(spark):
    """The beyond-broadcast blocked-GEMM strategy (cogroup 2-D matmul,
    no driver collect) must reproduce fold exactly — self-join AND
    explicit-pool forms."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id, r.cosine) for r in rows)
    fold = key(SIM.cosine_topk(emb, k=3, strategy="fold").collect())
    blk = key(SIM.cosine_topk(emb, k=3, strategy="blocked").collect())
    assert fold == blk and len(blk) > 0
    queries = emb.filter(F.col("vec_id") < 50)
    pool = emb.filter(F.col("vec_id") >= 100)
    fold_p = key(SIM.cosine_topk(queries, k=4, pool=pool, strategy="fold").collect())
    blk_p = key(SIM.cosine_topk(queries, k=4, pool=pool, strategy="blocked").collect())
    assert fold_p == blk_p and len(blk_p) > 0
    emb.unpersist()


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """Skew valve: a corpus where thousands of documents share one
    signature (the boilerplate/empty-doc case every real corpus has)
    must NOT generate the quadratic candidate set — oversized buckets
    are dropped before the self-join, so the run completes with zero
    candidates from them. (Identical docs are exact_dedup's job.)"""
    n = 5000
    ident = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("lorem ipsum boilerplate footer text repeated everywhere").alias("text"),
    )
    # two genuine near-dup docs must still come through (their buckets
    # are tiny and unaffected by the cap). The pair was chosen by
    # replaying the minhash arithmetic offline: token-set J=0.93 AND the
    # signatures share LSH bands 1 and 2 under the fixed hash constants
    # (banded LSH has ~5% per-pair recall misses even at J=0.9 — a
    # fixture pair must be verified a candidate, not assumed).
    base = (
        "the quick brown fox jumps over the lazy dog while the bright "
        "morning sun rises over the quiet green valley and the river "
        "flows gently past the old stone bridge"
    )
    near = base.rsplit(" ", 1)[0] + " again"
    extra = spark.createDataFrame(
        [(900001, base), (900002, near)], "doc_id long, text string"
    )
    # self-validating fixture: the pair must be an LSH candidate at all
    # (uncapped, 2-doc corpus — bucket membership depends only on the
    # signatures, so candidate-hood here implies candidate-hood below)
    cand = {
        (r.id_a, r.id_b)
        for r in PL.lsh_candidate_pairs(
            PL.minhash_signatures(extra), max_bucket=None
        ).collect()
    }
    assert (900001, 900002) in cand, "fixture pair no longer collides in any band"
    pairs = PL.minhash_dedup_pairs(ident.unionByName(extra), threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (900001, 900002) in got
    # no pair from the degenerate bucket survived (5000^2/2 pairs would
    # have been generated without the cap)
    assert all(a >= 900000 for a, b in got)


def test_lsh_bucket_cap_noop_on_small_buckets(spark, docs):
    """With every bucket under the cap, capped and uncapped candidate
    generation must be identical (the valve is invisible off-skew)."""
    base = docs.limit(60).select("doc_id", "text")
    capped = {
        (r.id_a, r.id_b)
        for r in PL.minhash_dedup_pairs(base, threshold=0.3).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in PL.minhash_dedup_pairs(base, threshold=0.3, max_bucket=None).collect()
    }
    assert capped == uncapped


def test_ngram_jaccard_shingle_df_cap(spark):
    """Stop-shingle hygiene: a shingle present in every doc of a block
    must be excluded from the intersection join when its DF exceeds
    max_df — scores drop accordingly (denominator stays full), and the
    join never multiplies the stop-shingle's DF^2 rows."""
    import itertools

    # 30 docs in one block, all sharing the prefix "common header line"
    # (2 shingles with DF=30), each with distinct tails
    rows = [
        (i, f"common header line unique tail {i} alpha beta gamma", "en", "web")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    # with the shared prefix excluded, the pairs vanish at the JOIN (no
    # intersection rows at all) — zero rows even with the threshold
    # filter disabled, proving the cap acts before scoring
    assert PL.ngram_jaccard_pairs(docs, threshold=-1.0, max_df=5).count() == 0
    assert PL.ngram_jaccard_pairs(docs, threshold=0.0, max_df=5).count() == 0
    # uncapped, every pair shares the 2 prefix shingles
    uncapped = PL.ngram_jaccard_pairs(docs, threshold=0.0, max_df=None)
    assert uncapped.count() == len(list(itertools.combinations(range(30), 2)))


def test_langid_ngram_discriminates_languages(spark):
    """The trigram-profile classifier must identify clear samples of
    each embedded language and say 'unknown' for non-text."""
    samples = [
        (1, "the quick brown fox is running to the house and the dog is "
            "waiting in the garden of the old man with the red coat"),
        (2, "der schnelle braune fuchs springt ueber den faulen hund und "
            "die kinder spielen in dem garten mit einem kleinen ball"),
        (3, "le renard brun rapide saute par dessus le chien paresseux et "
            "les enfants jouent dans le jardin avec une balle rouge"),
        (4, "el zorro marron rapido salta sobre el perro perezoso y los "
            "ninos juegan en el jardin con una pelota roja que es buena"),
        (5, "qqq zzz xxx www kkk jjj qqq zzz xxx www kkk jjj"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in PL.langid_ngram(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}, got


def test_lsh_dedup_catches_scaled_copies(spark):
    """Sign-LSH is scale-invariant: a scaled copy shares every sign bit
    with its original, so all planted scaled duplicates must be found
    with cosine ~1.0 — matching the IVF-cell dedup's pair set exactly
    on this fixture."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * 1.02).cast("float")).alias("embedding"),
        "label",
    )
    both = emb.unionByName(dup)
    got = {(r.id_a, r.id_b) for r in SIM.lsh_dedup_pairs(both, threshold=0.95).collect()}
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb.filter(F.col("vec_id") % 4 == 0).collect()
    }
    assert planted <= got, f"missing {planted - got}"
    ivf = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_dedup_pairs(both, threshold=0.95).collect()
    }
    # both bucketings verify with the same exact cosine, so any
    # difference is pure candidate-recall; the planted pairs are in both
    assert planted <= ivf


def test_assign_split_stable_and_partitioned(spark):
    """Splits must be (a) a partition of the corpus with roughly the
    requested proportions, (b) identical under repartition/reorder, and
    (c) zero-shuffle (pure projection)."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(2000).selectExpr("id AS doc_id")
    out = PL.assign_split(docs)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    # stability under reshuffle: same doc -> same split
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in PL.assign_split(docs.repartition(7).sort(F.desc("doc_id"))).collect()
    }
    assert a == b
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_deterministic_sample_is_subset_and_nested(spark):
    """sample(f1) ⊆ sample(f2) for f1 < f2 (threshold nesting), and the
    same rows come back on every call."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(2000).selectExpr("id AS doc_id")
    s10 = {r["doc_id"] for r in PL.deterministic_sample(docs, 0.1).collect()}
    s30 = {r["doc_id"] for r in PL.deterministic_sample(docs, 0.3).collect()}
    assert s10 and s10 < s30
    assert abs(len(s30) / 2000 - 0.3) < 0.05
    assert s10 == {r["doc_id"] for r in PL.deterministic_sample(docs, 0.1).collect()}


def test_assign_split_validates(spark):
    import xesmf_spark.pipeline as PL

    docs = spark.range(10).selectExpr("id AS doc_id")
    with pytest.raises(ValueError):
        PL.assign_split(docs, weights=(0.5, 0.2), names=("a", "b", "c"))
    with pytest.raises(ValueError):
        PL.deterministic_sample(docs, 1.5)


def test_deterministic_sample_boundary_fractions(spark):
    """fraction=1.0 must keep EVERY row (r5 ADVICE: the 9-char hex
    bound '100000000' compared lexicographically against 8-char digests
    kept only '0…' prefixes, ~1/16 of rows) and fraction=0.0 none."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(500).selectExpr("id AS doc_id")
    assert PL.deterministic_sample(docs, 1.0).count() == 500
    assert PL.deterministic_sample(docs, 0.0).count() == 0


def test_assign_split_trailing_zero_weight(spark):
    """Cumulative weight hitting 1.0 before the last name: earlier
    splits must still partition the corpus; zero-weight tails get
    nothing (same 9-char-bound edge as sample(1.0))."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(1000).selectExpr("id AS doc_id")
    out = PL.assign_split(docs, weights=(0.5, 0.5, 0.0), names=("a", "b", "c"))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("c", 0) == 0
    assert sum(counts.values()) == 1000
    assert abs(counts["a"] / 1000 - 0.5) < 0.06 and abs(counts["b"] / 1000 - 0.5) < 0.06


def test_chunk_tokens_windows(spark):
    """Window coverage: k*stride starts, chunk-length slices, short
    tail kept, single-window short docs, overlap contract."""
    import xesmf_spark.pipeline as PL

    toks = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = PL.chunk_tokens(docs, chunk=16, overlap=4)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    # doc 1: 30 tokens, stride 12 -> starts 0, 12, 24
    assert got[(1, 0)] == (16, " ".join(toks[0:16]))
    assert got[(1, 1)] == (16, " ".join(toks[12:28]))
    assert got[(1, 2)] == (6, " ".join(toks[24:30]))   # short tail kept
    assert got[(2, 0)] == (2, "a b")
    assert got[(3, 0)] == (1, "solo")
    assert len(got) == 5
    # consecutive windows overlap by exactly `overlap` tokens
    assert got[(1, 0)][1].split()[-4:] == got[(1, 1)][1].split()[:4]


def test_chunk_tokens_validates(spark):
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        PL.chunk_tokens(docs, chunk=4, overlap=4)
    with pytest.raises(ValueError):
        PL.chunk_tokens(docs, chunk=0, overlap=0)


def test_scrub_pii_redacts_and_counts(spark):
    """Emails, IPs, and phones are replaced with sentinels, counts are
    measured on the original text, and clean text passes untouched."""
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame(
        [
            (1, "reach me at bob.smith+x@corp.example.org or 192.168.1.77 ok"),
            (2, "call 555-123-4567 and 555-999-0000 today"),
            (3, "no pii here at all"),
            (4, "a@b.io 10.0.0.1 555-000-1111"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in PL.scrub_pii(docs).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1 and out[1]["n_phones"] == 0
    assert out[1]["text"] == "reach me at <EMAIL> or <IP> ok"
    assert out[2]["n_phones"] == 2 and "<PHONE>" in out[2]["text"]
    assert out[3]["text"] == "no pii here at all"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    assert out[4]["text"] == "<EMAIL> <IP> <PHONE>"


def test_repetition_stats_values(spark):
    """Hand-computed ratios: 'a a a b' -> 4 tokens, 2 distinct, top
    token 3/4, top bigram 'a a' 2/3; single-token doc -> NULL bigram."""
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "solo")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in PL.repetition_stats(docs).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["distinct_ratio"] == 0.5
    assert out[1]["top_token_frac"] == 0.75
    assert out[1]["top_bigram_frac"] == round(2 / 3, 6)
    assert out[2]["n_tokens"] == 1 and out[2]["top_bigram_frac"] is None


def test_stratified_sample_nesting_and_bounds(spark):
    """Per-stratum thresholds: fraction 1.0 keeps the stratum whole,
    0.0 drops it, fractions nest within a stratum, and the kept set is
    reshuffle-stable."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(3000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' ELSE 'zh' END AS lang"
    )
    kept_all = PL.stratified_sample(docs, {"en": 1.0, "fr": 0.0}, default=0.3)
    by_lang = {
        r["lang"]: r["n"]
        for r in kept_all.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["en"] == 1000
    assert "fr" not in by_lang
    assert abs(by_lang["zh"] / 1000 - 0.3) < 0.06
    small = {
        r["doc_id"]
        for r in PL.stratified_sample(docs, {"en": 0.2}, default=0.0).collect()
    }
    big = {
        r["doc_id"]
        for r in PL.stratified_sample(docs, {"en": 0.6}, default=0.0).collect()
    }
    assert small and small < big
    with pytest.raises(ValueError):
        PL.stratified_sample(docs, {"en": 1.2})


def test_editdist_dedup_pairs(spark):
    """Exact copies -> distance 0; a small edit within the relative
    bound is caught; head edits escape the prefix block (documented
    recall bound); unrelated texts never pair."""
    import xesmf_spark.pipeline as PL

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.upper() + "  "),              # normalizes identical -> dist 0
        (3, base[:-6] + "cat"),                # small tail edit
        (4, "x" + base),                       # head edit: different prefix block
        (5, "completely different content that shares no prefix at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in PL.editdist_dedup_pairs(docs).collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got and 0 < got[(1, 3)] <= 6
    assert all(4 not in p and 5 not in p for p in got)
    with pytest.raises(ValueError):
        PL.editdist_dedup_pairs(docs, prefix=0)


def test_editdist_empty_docs_pair(spark):
    """Two whitespace-only documents normalize to empty strings — exact
    duplicates, rel_dist 0.0 (the unguarded NULL division silently
    dropped them, r6 advice)."""
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame(
        [(1, "   "), (2, "\t \n"), (3, "real content here")],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["rel_dist"] for r in PL.editdist_dedup_pairs(docs).collect()}
    assert rows == {(1, 2): 0.0}


def test_editdist_block_valve(spark):
    """A planted boilerplate-prefix block larger than max_block is
    dropped BEFORE the self-join (no pairs emitted from it), while
    normal-size blocks still pair — the same skew-valve contract as
    MAX_LSH_BUCKET."""
    import xesmf_spark.pipeline as PL

    banner = "copyright acme corporation all rights reserved document "
    rows = [(i, banner + f"unique body {i}") for i in range(10)]
    rows += [
        (100, "short document alpha beta one"),
        (101, "short document alpha beta two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = PL.editdist_dedup_pairs(docs, max_block=5, log_drops=True).collect()
    ids = {i for r in capped for i in (r["id_a"], r["id_b"])}
    assert ids == {100, 101}  # boilerplate block (10 docs > cap 5) dropped

    uncapped = PL.editdist_dedup_pairs(docs, max_block=None, max_rel_dist=0.5).collect()
    assert any(r["id_a"] < 100 for r in uncapped)  # without the valve they pair


def test_quality_tiers_approx_matches_ntile(spark):
    """Differential: the approx_percentile+CASE scale path assigns the
    same tier as NTILE(4) for every row whose value is strictly away
    from the cutoff elements (at a cutoff the two conventions may
    legitimately split a tie); with distinct values and N divisible by
    4 the boundary set is exactly the three cutoff elements."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import xesmf_spark.pipeline as PL

    # 80 distinct, deterministically shuffled values
    rows = [(i, ((i * 37) % 80) / 80.0 + i * 1e-6) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, q double")

    approx = PL.quality_tiers_approx(df, q_col="q")
    w = Window.orderBy(F.col("q").asc(), F.col("doc_id").asc())
    exact = df.select("doc_id", F.ntile(4).over(w).alias("ntile_tier"))

    j = approx.join(exact, "doc_id")
    cuts = sorted(r["q"] for r in df.collect())
    boundary = {cuts[19], cuts[39], cuts[59], cuts[20], cuts[40], cuts[60]}
    mism = j.filter(
        (F.col("tier") != F.col("ntile_tier")) & ~F.col("q").isin(*boundary)
    ).collect()
    assert mism == []
    # partition property: every row got exactly one tier in 1..4
    tiers = {r["tier"] for r in approx.collect()}
    assert tiers <= {1, 2, 3, 4} and approx.count() == 80


def test_quality_tiers_approx_validates(spark):
    import pytest

    import xesmf_spark.pipeline as PL

    df = spark.createDataFrame([(1, 0.5)], "doc_id long, q double")
    with pytest.raises(ValueError):
        PL.quality_tiers_approx(df, q_col="q", n_tiers=1)


def test_unigram_logprob_degenerate_docs(spark):
    """Single-doc corpus: every token of the only doc has P=count/total,
    and an empty text tokenizes to the one '' token with P=1 -> score
    exactly 0 (the ln(1) fixed point, no NULL/NaN leak)."""
    one = spark.createDataFrame([(0, "")], ["doc_id", "text"])
    row = PL.unigram_logprob_score(one).collect()[0]
    assert (row.n_tokens, row.sum_lp_micro, row.avg_logprob) == (1, 0, 0.0)

    rep = spark.createDataFrame([(1, "a a a a")], ["doc_id", "text"])
    row = PL.unigram_logprob_score(rep).collect()[0]
    assert row.n_tokens == 4 and row.sum_lp_micro == 0  # P(a) = 1

def test_decontaminate_no_eval_overlap_empty(spark):
    """Disjoint eval set -> zero contaminated rows (no spurious joins
    through the short-doc whole-text convention)."""
    train = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))], ["doc_id", "text"]
    )
    eval_df = spark.createDataFrame(
        [(9, " ".join(f"z{i}" for i in range(30)))], ["doc_id", "text"]
    )
    assert PL.decontaminate(train, eval_df, n=13).count() == 0


def test_pack_contexts_conservation_and_spans(spark):
    """Concat-and-chop invariants: (1) per-shard token conservation —
    the per-context slices partition each doc's tokens exactly; (2) a
    doc spans ceil boundaries correctly (single-token docs never span);
    (3) contexts are dense 0..max within a shard; (4) deterministic
    across re-runs. One shard forces a known layout."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(1 + (i * 7) % 23))) for i in range(40)],
        "doc_id long, text string",
    )
    out = PL.pack_contexts(docs, capacity=16, n_shards=1).collect()
    n_by_doc = {}
    for r in out:
        assert r.shard == 0
        assert 1 <= r.tokens_in_ctx <= 16
        n_by_doc.setdefault(r.doc_id, []).append((r.ctx, r.tokens_in_ctx))
    # conservation: slices sum to the doc's own token count
    doc_n = {r.doc_id: r.n_tokens for r in out}
    for d, parts in n_by_doc.items():
        assert sum(p for _, p in parts) == doc_n[d]
        ctxs = sorted(c for c, _ in parts)
        assert ctxs == list(range(ctxs[0], ctxs[-1] + 1))  # contiguous span
    # global: every context except possibly the last is exactly full
    total = sum(doc_n.values())
    per_ctx = {}
    for r in out:
        per_ctx[r.ctx] = per_ctx.get(r.ctx, 0) + r.tokens_in_ctx
    assert sorted(per_ctx) == list(range(len(per_ctx)))
    for c, tok in per_ctx.items():
        assert tok == 16 or c == max(per_ctx)
    assert sum(per_ctx.values()) == total
    # determinism
    again = PL.pack_contexts(docs, capacity=16, n_shards=1).collect()
    key = lambda r: (r.shard, r.ctx, r.doc_id, r.n_tokens, r.tokens_in_ctx)
    assert sorted(map(key, again)) == sorted(map(key, out))


def test_pack_contexts_sharding_and_validation(spark):
    """Multi-shard: every doc lands in exactly one shard, offsets are
    per-shard (each shard restarts at context 0), NULL text is dropped,
    and bad parameters are rejected loudly."""
    rows = [(i, "a b c") for i in range(30)] + [(99, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = PL.pack_contexts(docs, capacity=4, n_shards=4).collect()
    assert {r.doc_id for r in out} == set(range(30))  # NULL dropped
    shards = {r.shard for r in out}
    assert shards <= set(range(4)) and len(shards) > 1
    for s in shards:
        assert min(r.ctx for r in out if r.shard == s) == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        PL.pack_contexts(docs, capacity=0)
    with _pytest.raises(ValueError):
        PL.pack_contexts(docs, capacity=4, n_shards=0)


def test_pack_contexts_duplicate_ids_conserve(spark):
    """Duplicate doc_ids tie on the sort key; the ROWS frame (not the
    default RANGE, which would give tied rows one shared offset and
    overlap their contexts) still packs a valid layout: per-context
    totals fill to capacity and the total token count is conserved."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (1, "d e f g"), (2, "h i")],
        "doc_id long, text string",
    )
    out = PL.pack_contexts(docs, capacity=4, n_shards=1).collect()
    total = sum(r.tokens_in_ctx for r in out)
    assert total == 9  # 3 + 4 + 2 — nothing lost or double-assigned
    per_ctx = {}
    for r in out:
        per_ctx[r.ctx] = per_ctx.get(r.ctx, 0) + r.tokens_in_ctx
    assert sorted(per_ctx) == list(range(len(per_ctx)))
    for c, tok in per_ctx.items():
        assert tok == 4 or c == max(per_ctx)


def test_weighted_sample_law(spark):
    """Keep-probability law: score 1e6 (all-distinct tokens) is ALWAYS
    kept (u < 1e6 holds for every md5 draw), score ~0 (one token
    repeated) is essentially never kept, and the draw is deterministic
    across invocations. NULL text is dropped."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(50)]
        + [(100 + i, "x " * 200) for i in range(50)]
        + [(999, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.qm_micro for r in PL.weighted_sample(docs).collect()}
    assert set(range(50)) <= set(out)          # qm = 1e6 -> certain keep
    assert all(out[i] == 1_000_000 for i in range(50))
    low_kept = [d for d in out if d >= 100 and d != 999]
    assert len(low_kept) <= 2                  # qm ~ 5000 -> ~0.5% keep rate
    assert 999 not in out
    again = {r.doc_id: r.qm_micro for r in PL.weighted_sample(docs).collect()}
    assert again == out


def test_select_token_budget_prefix(spark):
    """Budget respected per shard; cum totals are a strict prefix (no
    doc admitted after the first overflow); validation rejects
    nonsense parameters."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 13 + j) % (3 + i % 7)}" for j in range(12)))
         for i in range(60)],
        "doc_id long, text string",
    )
    out = PL.select_token_budget(docs, budget_tokens=120, n_shards=2).collect()
    assert out, "budget should admit at least one doc"
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r)
    for s, rows in per_shard.items():
        assert max(r.cum_tokens for r in rows) <= 60  # 120 DIV 2
        cums = sorted(r.cum_tokens for r in rows)
        ns = {r.cum_tokens: r.n_tokens for r in rows}
        # strict prefix: consecutive cums differ by exactly the doc size
        for a, b in zip(cums, cums[1:]):
            assert b - a == ns[b]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        PL.select_token_budget(docs, budget_tokens=0)
    with _pytest.raises(ValueError):
        PL.select_token_budget(docs, budget_tokens=10, n_shards=0)


def test_ivfpq_refine_reranks_with_exact_distance(spark):
    """The refine stage's contract: (a) refined results are a subset of
    the probed cells (same candidate generation as unrefined), (b) every
    returned d2 equals the exact euclid_topk fold for that pair, (c)
    refined recall vs the exact baseline is >= unrefined recall (the
    rerank can only fix ADC ranking mistakes inside the shortlist, never
    introduce new candidate misses), and (d) with refine_k >= cell size
    the result is EXACTLY the exact top-k restricted to probed cells."""
    from xesmf_spark import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.persist().count()
    n = emb.count()
    exact = {
        (r.query_id, r.neighbor_id): r.d2
        for r in SIM.euclid_topk(emb, k=n).collect()
    }
    exact_top3 = {
        (r.query_id, r.neighbor_id)
        for r in SIM.euclid_topk(emb, k=3).collect()
    }
    unref = {(r.query_id, r.neighbor_id)
             for r in SIM.ivfpq_topk(emb, k=3, n_centroids=8, n_probe=2).collect()}
    refined = SIM.ivfpq_topk(emb, k=3, n_centroids=8, n_probe=2, refine_k=16).collect()
    assign = SIM.ivf_assignments(emb, 8, n_probe=2).select("id", "cell", "crank")
    home = {r.id: r.cell for r in assign.filter(F.col("crank") == 1).collect()}
    probes = {}
    for r in assign.collect():
        probes.setdefault(r.id, set()).add(r.cell)
    for r in refined:
        assert home[r.neighbor_id] in probes[r.query_id]
        assert r.d2 == exact[(r.query_id, r.neighbor_id)]
    rec_ref = len(exact_top3 & {(r.query_id, r.neighbor_id) for r in refined})
    rec_unref = len(exact_top3 & unref)
    assert rec_ref >= rec_unref
    # (d) refine_k larger than any cell => pure exact search within cells
    full = SIM.ivfpq_topk(
        emb, k=3, n_centroids=8, n_probe=2, refine_k=10**6
    ).collect()
    exact_rows = sorted(
        ((q, nd, d2) for (q, nd), d2 in exact.items()),
        key=lambda t: (t[0], t[2], t[1]),
    )
    want = {}
    for q, nd, d2 in exact_rows:
        if home[nd] in probes[q]:
            want.setdefault(q, [])
            if len(want[q]) < 3:
                want[q].append((nd, d2))
    got = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.d2))
    assert got == {q: v for q, v in want.items() if v}


def test_dedup_spans_semantics_and_hash_twin(spark):
    """Repeated-span scrubbing: keeper doc untouched, exact copy fully
    scrubbed (md5('')), a doc embedding the shared 13-token run loses
    exactly that span, disjoint docs untouched; short-doc whole-text
    convention; hash_grams (xxhash64 shuffle key) == string-key path."""
    import hashlib

    from xesmf_spark.pipeline import dedup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "x y z a b c d e f g h i j k l m q"),
            (3, "totally different words without overlap here at all"),
            (4, "a b c d e f g h i j k l m n o p"),
            (5, "short doc"),
            (6, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_spans(docs, n=13).collect()}
    empty = hashlib.md5(b"").hexdigest()
    # keeper (min doc id) keeps everything
    assert out[1].n_removed == 0 and out[1].cleaned_key != empty
    # exact copy of 1: every gram repeated -> fully scrubbed
    assert out[4].n_removed == 16 and out[4].cleaned_key == empty
    # doc 2 embeds the run a..m at token offset 3: one island of 13
    assert (out[2].n_islands, out[2].n_removed) == (1, 13)
    assert (
        out[2].cleaned_key
        == hashlib.md5(b"x y z q").hexdigest()
    )
    # no repeated grams -> untouched
    assert out[3].n_removed == 0
    # short-doc whole-text convention: doc 6 scrubbed, doc 5 keeper
    assert out[5].n_removed == 0
    assert out[6].n_removed == 2 and out[6].cleaned_key == empty
    # overlapping spans merge into islands (n_removed never > n_tokens)
    assert all(r.n_removed <= r.n_tokens for r in out.values())

    hashed = {r.doc_id: r for r in dedup_spans(docs, n=13, hash_grams=True).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in hashed.items()
    }


def test_heavy_hitters_mg_guarantees(spark):
    """Misra-Gries contract on an adversarial stream (capacity far
    below distinct count, heavy keys arriving SORTED LAST so trims have
    already spent budget): est <= exact, exact - est <= delta_total,
    and every key with exact > delta_total is present. Also: the
    summary never exceeds capacity non-null rows, and with capacity >=
    distincts the sketch is exact with zero delta."""
    from xesmf_spark.pipeline import heavy_hitters

    # 2000 singleton keys then two heavy keys (400 + 300 arrivals),
    # deliberately ordered worst-case and squeezed into few partitions
    rows = (
        [(f"u{i}",) for i in range(2000)]
        + [("HEAVY_A",)] * 400
        + [("HEAVY_B",)] * 300
    )
    df = spark.createDataFrame(rows, "token string").coalesce(2)
    sk = {r.token: r.est for r in heavy_hitters(df, "token", capacity=64).collect()}
    delta = sk.pop(None)
    exact = {"HEAVY_A": 400, "HEAVY_B": 300, **{f"u{i}": 1 for i in range(2000)}}
    assert len(sk) <= 2 * 64  # <= capacity survivors per partition
    for t, est in sk.items():
        assert est <= exact[t]
        assert exact[t] - est <= delta
    # the whole stream is 2700 tokens: delta <= N/(capacity+1) per
    # partition-sum worst case
    assert 0 < delta <= 2700
    for t, c in exact.items():
        if c > delta:
            assert t in sk, f"{t} (count {c} > delta {delta}) missing"
            assert c - sk[t] <= delta

    # exact regime: capacity >= distincts -> no trims, perfect counts
    small = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "token string"
    ).coalesce(1)
    sk2 = {
        r.token: r.est for r in heavy_hitters(small, "token", capacity=16).collect()
    }
    assert sk2 == {"a": 5, "b": 3, "c": 1, None: 0}


def test_decontaminate_fuzzy_finds_rewrites(spark):
    """The bipartite MinHash path must flag (a) a verbatim copy at
    jaccard 1.0, (b) a truncated rewrite (shared shingles well above
    threshold but below 1.0) — the class the exact 13-gram check is
    blind to when every 13-gram is broken — and must NOT pair disjoint
    docs or eval docs with each other."""
    base = " ".join(f"w{i}" for i in range(60))
    truncated = " ".join(f"w{i}" for i in range(50))  # drop last 10 tokens
    eval_df = spark.createDataFrame([(900, base)], ["doc_id", "text"])
    train = spark.createDataFrame(
        [
            (1, base),  # verbatim
            (2, truncated),  # near-dup rewrite
            (3, " ".join(f"x{i}" for i in range(60))),  # disjoint
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.eval_id): r.jaccard
        for r in PL.decontaminate_fuzzy(train, eval_df, threshold=0.5).collect()
    }
    assert set(got) == {(1, 900), (2, 900)}
    assert got[(1, 900)] == 1.0
    assert 0.5 <= got[(2, 900)] < 1.0
    # threshold excludes weak overlap: raise it above the rewrite's jac
    strict = PL.decontaminate_fuzzy(train, eval_df, threshold=0.99).collect()
    assert {(r.doc_id, r.eval_id) for r in strict} == {(1, 900)}


def test_prefix_filter_pairs_no_false_negatives(spark):
    """Brute-force ground truth on a controlled corpus: every pair with
    shingle-Jaccard >= t must be returned with the exact integer
    jaccard, and nothing below t."""
    from itertools import combinations

    from xesmf_spark.pipeline import prefix_filter_pairs

    base = "a b c d e f g h i j k l"
    docs = [
        (1, base),
        (2, base),                       # exact copy -> 1.0
        (3, base + " x y z"),            # high overlap
        (4, "a b c completely different tail words here"),  # low
        (5, "q r s t u v w entirely other text"),           # disjoint-ish
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    T = 600_000
    got = {
        (r.id_a, r.id_b): r.jaccard_micro
        for r in prefix_filter_pairs(d, threshold_micro=T).collect()
    }

    def sh_set(t, n=3):
        toks = t.lower().split()
        if len(toks) < n:
            return {t.lower()}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    want = {}
    for (i, ti), (j, tj) in combinations(docs, 2):
        a, b = sh_set(ti), sh_set(tj)
        inter = len(a & b)
        jm = (1_000_000 * inter) // (len(a) + len(b) - inter) if inter else 0
        if jm >= T:
            want[(i, j)] = jm
    assert got == want
    assert got[(1, 2)] == 1_000_000  # the planted exact copy


def test_prefix_length_identity():
    """The integer ceil identity used by engine and oracle matches
    math.ceil for every size/threshold combination in range."""
    import math

    for t in (500_000, 600_000, 750_000, 900_000):
        for n in range(1, 300):
            assert (t * n + 999_999) // 1_000_000 == math.ceil(t * n / 1_000_000)


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """In a component {1, 2, 3}, doc 3 (all-distinct tokens) beats the
    lower-id repetitive docs; the singleton 9 survives as itself."""
    from xesmf_spark.pipeline import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "a a a a b"),          # quality 2/5
            (2, "a a b b c"),          # quality 3/5
            (3, "a b c d e"),          # quality 1.0 -> the keeper
            (9, "solo text here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {
        r.doc_id: (r.group_id, r.group_size, r.qm_micro)
        for r in dedup_keep_best(docs, pairs).collect()
    }
    assert set(got) == {3, 9}
    assert got[3] == (1, 3, 1_000_000)  # component label = min id, size 3
    assert got[9] == (9, 1, 1_000_000)


def test_assign_split_fractions_and_repartition_stability(spark):
    """Deterministic split: fractions land near the weights, every row
    gets exactly one split, and the assignment is IDENTICAL after a
    repartition/shuffle (the md5-threshold stability contract)."""
    from xesmf_spark.pipeline import assign_split

    df = spark.range(4000).select(F.col("id").alias("doc_id"))
    out = assign_split(df, "doc_id", (0.8, 0.1, 0.1), ("train", "val", "test"))
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02
    assert abs(counts["test"] / 4000 - 0.1) < 0.02
    a = {r.doc_id: r.split for r in out.collect()}
    b = {
        r.doc_id: r.split
        for r in assign_split(
            df.repartition(17), "doc_id", (0.8, 0.1, 0.1), ("train", "val", "test")
        ).collect()
    }
    assert a == b


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _cdc_brute(text, window=3, divisor=8):
    """Pure-Python twin of cdc_chunks for one document: returns
    [(chunk_idx, n_tokens, chunk_hash_hex)]."""
    import hashlib
    import re

    t = re.sub(r"\s+", " ", text).strip().lower().split(" ")
    n = len(t)
    bpos = [
        i
        for i in range(window - 1, n - 1)
        if (_md5_60(" ".join(t[i - window + 1 : i + 1])) % 1_000_000_007) % divisor == 0
    ]
    starts = [0] + [i + 1 for i in bpos]
    ends = [i + 1 for i in bpos] + [n]
    return [
        (j, e - s, hashlib.md5(" ".join(t[s:e]).encode()).hexdigest())
        for j, (s, e) in enumerate(zip(starts, ends))
    ]


def test_cdc_chunks_matches_brute_force(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog and more words follow here now"),
        (2, "  Mixed   CASE and   whitespace\ttext  "),
        (3, "one two"),
        (4, "single"),
        (5, ""),
    ]
    out = PL.cdc_chunks(spark.createDataFrame(docs, "doc_id long, text string"))
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_hash"])
        for r in out.collect()
    }
    want = {}
    for did, text in docs:
        for j, nt, h in _cdc_brute(text):
            want[(did, j)] = (nt, h)
    assert got == want


def test_cdc_chunks_boundaries_are_content_stable(spark):
    """The CDC property fixed-size chunking lacks: a PREFIX edit leaves
    every chunk strictly after the edited window identical (same
    content hash), so near-dup docs share chunks. Build a doc, prepend
    two tokens, and check every original chunk whose span starts
    window tokens past the edit reappears verbatim."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    edited = "zz yy " + base
    a = {h for _, _, h in _cdc_brute(base)}
    b = {h for _, _, h in _cdc_brute(edited)}
    shared = a & b
    assert shared, "edit destroyed every chunk — boundaries are not content-defined"
    out = PL.cdc_chunks(
        spark.createDataFrame(
            [(1, base), (2, edited)], "doc_id long, text string"
        )
    )
    spark_shared = (
        out.groupBy("chunk_hash")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert spark_shared >= len(shared)
    # and n_copies reflects the sharing
    assert out.filter(F.col("n_copies") >= 2).count() > 0


def test_cdc_chunks_ncopies_groupby_equals_window(spark):
    """cdc_chunks computes n_copies as groupBy(chunk_hash).count() +
    join-back (map-side combinable, AQE-splittable) instead of a
    count-over-Window.partitionBy(chunk_hash) (hot-key single
    reducer). The two shapes must be value-identical row for row —
    this pins the skew-safe rewrite to the window semantics."""
    from pyspark.sql import Window

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    docs = [(i, base) for i in range(5)] + [
        (10, "zz yy " + base),
        (11, "completely different words appear only here once each"),
        (12, "one two"),
    ]
    out = PL.cdc_chunks(spark.createDataFrame(docs, "doc_id long, text string"))
    via_window = out.drop("n_copies").withColumn(
        "n_copies", F.count(F.lit(1)).over(Window.partitionBy("chunk_hash"))
    )
    key = lambda r: (r["doc_id"], r["chunk_idx"])
    got = {key(r): (r["chunk_hash"], r["n_copies"]) for r in out.collect()}
    want = {key(r): (r["chunk_hash"], r["n_copies"]) for r in via_window.collect()}
    assert got == want
    assert max(v[1] for v in got.values()) >= 5  # hot key actually exercised


def test_bigram_logprob_matches_brute_force(spark):
    import math
    from collections import Counter

    docs = [
        (1, "a b a b c"),
        (2, "a b c d"),
        (3, "d d d"),
        (4, "solo"),
        (5, "b a"),
    ]
    toks = {d: t.split(" ") for d, t in docs}
    uni = Counter(w for t in toks.values() for w in t)
    total = sum(uni.values())
    bigs = {d: list(zip(t, t[1:])) for d, t in toks.items()}
    c2 = Counter(bg for bl in bigs.values() for bg in bl)
    c1 = Counter(bg[0] for bl in bigs.values() for bg in bl)
    want = {}
    for d, bl in bigs.items():
        if not bl:
            continue
        lps = [
            math.floor(
                1_000_000
                * math.log(
                    0.9 * (c2[bg] / c1[bg[0]]) + 0.1 * (uni[bg[1]] / total)
                )
            )
            for bg in bl
        ]
        want[d] = (len(lps), sum(lps))
    out = PL.bigram_logprob_score(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_lp_micro"]) for r in out.collect()
    }
    assert got == want
    assert 4 not in got  # <2 tokens -> absent by contract


def test_line_repetition_stats_hand_computed(spark):
    """line_repetition_stats on a hand-built fixture: dup fractions in
    exact integer millis, whitespace-only lines dropped, zero-line
    docs absent, char numerator charges every occurrence beyond the
    first."""
    docs = [
        (1, "nav bar\nbody text here\nnav bar\nfooter"),  # 1 dup of 7 chars
        (2, "a\n  \nb\n\nc"),  # blanks dropped -> 3 distinct
        (3, "x\nx\nx"),  # 2 excess copies of 1 char
        (4, "   \n\n"),  # zero non-empty lines -> absent
        (5, "only one line"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in PL.line_repetition_stats(df).collect()}
    assert 4 not in out
    r1 = out[1]
    assert (r1.n_lines, r1.n_line_chars) == (4, 34)  # 7+14+7+6
    assert r1.dup_line_frac_milli == 1000 * 1 // 4
    assert r1.dup_line_char_frac_milli == 1000 * 7 // 34
    assert out[2].dup_line_frac_milli == 0 and out[2].n_lines == 3
    r3 = out[3]
    assert (r3.n_lines, r3.dup_line_frac_milli) == (3, 1000 * 2 // 3)
    assert r3.dup_line_char_frac_milli == 1000 * 2 // 3
    assert out[5].n_lines == 1 and out[5].dup_line_frac_milli == 0


def test_kneser_ney_matches_brute_force(spark):
    """kneser_ney_logprob_score against a local float replay: term1 =
    (c2-0.75)/c1, term2 = ((0.75*n1f)/c1)*(n1b/T) with continuation
    counts from the bigram TYPE table, identical association, per-pair
    micro-nat floors; <2-token docs absent; every scored bigram is
    observed so c2-0.75 > 0 always."""
    import math
    from collections import Counter

    docs = [
        (1, "a b a b c"),
        (2, "a b c d"),
        (3, "d d d"),
        (4, "solo"),
        (5, "b a"),
    ]
    toks = {d: t.split(" ") for d, t in docs}
    bigs = {d: list(zip(t, t[1:])) for d, t in toks.items()}
    c2 = Counter(bg for bl in bigs.values() for bg in bl)
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    tt = len(c2)
    want = {}
    for d, bl in bigs.items():
        if not bl:
            continue
        lps = [
            math.floor(
                1_000_000
                * math.log(
                    (c2[bg] - 0.75) / c1[bg[0]]
                    + ((0.75 * n1f[bg[0]]) / c1[bg[0]]) * (n1b[bg[1]] / tt)
                )
            )
            for bg in bl
        ]
        want[d] = (len(lps), sum(lps))
    out = PL.kneser_ney_logprob_score(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_lp_micro"]) for r in out.collect()
    }
    assert got == want
    assert 4 not in got


def test_recency_weighted_sample_decay_and_clock_skew(spark):
    """recency_weighted_sample: weight = floor(1e6*exp(-age/tau));
    age 0 weight is 1e6 (md5-uniform < 1e6 always -> kept); negative
    ages (clock skew) weight > 1e6 and are ALWAYS kept; a huge age
    weights ~0 and is dropped regardless of hash."""
    import math

    rows = [(i, f"doc {i} text", [0, 0, -30, 365, 100000][i]) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, age_days long")
    out = {r.doc_id: r.qm_micro for r in
           PL.recency_weighted_sample(df, "age_days", tau_days=365).collect()}
    assert 2 in out and out[2] > 1_000_000  # future-dated: always kept
    assert 4 not in out  # ancient: weight 0, dropped
    for d, age in ((0, 0), (1, 0), (2, -30), (3, 365)):
        if d in out:
            assert out[d] == math.floor(1e6 * math.exp(-age / 365.0))
    # age 0 -> weight exactly 1e6 -> always kept (uniform < 1e6)
    assert 0 in out and 1 in out and out[0] == 1_000_000
    with __import__("pytest").raises(ValueError, match="tau_days"):
        PL.recency_weighted_sample(df, "age_days", tau_days=0)


def test_domain_caps_normalization_and_cap(spark):
    """normalized_domain handles scheme case, userinfo, ports,
    trailing dots, www, and path/query/fragment tails; domain_caps
    keeps exactly the top-cap per domain by (priority DESC, id ASC)
    and the salted two-stage result equals the one-stage row_number
    at every n_salts (including the degenerate n_salts=1)."""
    rows = [
        (1, "HTTPS://WWW.Example.COM:8080/a/b?q=1", 50),
        (2, "http://user:pw@example.com/path", 90),
        (3, "https://example.com.#frag", 70),
        (4, "example.com?bare=1", 60),  # schemeless
        (5, "https://sub.example.com/x", 80),  # different domain
        (6, "https://www.other.org", 10),
        (7, "https://example.com", 70),  # ties with 3 -> id breaks
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, n_chars long")
    for n_salts in (1, 3, 8):
        out = {
            r.doc_id: (r.domain, r.domain_rank)
            for r in PL.domain_caps(df, "url", cap=2, n_salts=n_salts).collect()
        }
        # example.com docs by (n_chars DESC, id ASC):
        # 2(90), 3(70,id3), 7(70,id7), 4(60), 1(50) -> top-2 = {2, 3}
        assert out == {
            2: ("example.com", 1),
            3: ("example.com", 2),
            5: ("sub.example.com", 1),
            6: ("other.org", 1),
        }, (n_salts, out)


def test_trigram_logprob_matches_brute_force(spark):
    """trigram_logprob_score against a local float replay: the mixture
    0.7*c3/c12 + 0.2*c2/c1 + 0.1*cu/total with the SAME left
    association, floored to micro-nats per triple; docs with <3 tokens
    absent by contract."""
    import math
    from collections import Counter

    docs = [
        (1, "a b c a b c d"),
        (2, "a b c d e"),
        (3, "d d d d"),
        (4, "two only"),
        (5, "b a c"),
        (6, "a b c"),
    ]
    toks = {d: t.split(" ") for d, t in docs}
    uni = Counter(w for t in toks.values() for w in t)
    total = sum(uni.values())
    bigs = [bg for t in toks.values() for bg in zip(t, t[1:])]
    c2 = Counter(bigs)
    c1 = Counter(bg[0] for bg in bigs)
    tris = {d: list(zip(t, t[1:], t[2:])) for d, t in toks.items()}
    c3 = Counter(tg for tl in tris.values() for tg in tl)
    c12 = Counter(tg[:2] for tl in tris.values() for tg in tl)
    want = {}
    for d, tl in tris.items():
        if not tl:
            continue
        lps = [
            math.floor(
                1_000_000
                * math.log(
                    0.7 * (c3[tg] / c12[tg[:2]])
                    + 0.2 * (c2[tg[1:]] / c1[tg[1]])
                    + 0.1 * (uni[tg[2]] / total)
                )
            )
            for tg in tl
        ]
        want[d] = (len(lps), sum(lps))
    out = PL.trigram_logprob_score(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["sum_lp_micro"]) for r in out.collect()
    }
    assert got == want
    assert 4 not in got  # <3 tokens -> absent by contract
    # boilerplate (repeated "a b c") must outscore the unique-path doc
    avg = {r["doc_id"]: r["avg_logprob"] for r in out.collect()}
    assert avg[6] > avg[2]


def test_pmi_collocations_matches_brute_force(spark):
    import math
    from collections import Counter

    docs = [(i, "strong tea and strong coffee and weak tea now") for i in range(3)] + [
        (10, "hot strong tea please"),
        (11, "iced coffee and hot tea"),
    ]
    toks = [t.split(" ") for _, t in docs]
    uni = Counter(w for t in toks for w in t)
    n1 = sum(uni.values())
    bigs = [bg for t in toks for bg in zip(t, t[1:])]
    n2 = len(bigs)
    c2 = Counter(bigs)
    want = {}
    for (w1, w2), c in c2.items():
        if c >= 3:
            ratio = ((float(c) * n1) * n1) / ((float(n2) * uni[w1]) * uni[w2])
            want[(w1, w2)] = (c, math.floor(1_000_000 * math.log(ratio)))
    assert want  # the fixture must actually exercise the floor
    out = PL.pmi_collocations(
        spark.createDataFrame(docs, "doc_id long, text string"), min_count=3
    )
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi_micro"]) for r in out.collect()
    }
    assert got == want
    # "strong tea" is a genuine collocation; its PMI must beat the
    # chance-level "and strong" pair
    assert got[("strong", "tea")][1] > got[("and", "strong")][1]


def test_cdc_chunks_short_docs_single_chunk(spark):
    """A doc with <= window tokens has no boundary candidates (the
    window-end index range is empty) and must come back as exactly
    one chunk covering the whole doc."""
    docs = [(1, "a b c"), (2, "a b"), (3, "a")]
    out = PL.cdc_chunks(
        spark.createDataFrame(docs, "doc_id long, text string"), window=3
    ).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert {d: len(rs) for d, rs in per_doc.items()} == {1: 1, 2: 1, 3: 1}
    assert per_doc[1][0]["n_tokens"] == 3


def test_pmi_collocations_min_count_can_empty(spark):
    docs = [(1, "x y z")]
    out = PL.pmi_collocations(
        spark.createDataFrame(docs, "doc_id long, text string"), min_count=2
    )
    assert out.count() == 0


def test_dedup_spans_multilevel_long_quote(spark):
    """Multi-level seeding (13/26/52): a planted 100-token verbatim
    quote shared by two docs produces EXACTLY ONE merged island in the
    non-keeper at every single level AND in the union; keeper-hole
    fragmentation (the case levels exist for) closes under the union."""
    import hashlib

    from xesmf_spark.pipeline import dedup_spans

    quote = " ".join(f"q{i}" for i in range(100))
    tail_a = "alpha beta gamma delta epsilon"
    tail_b = "zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{quote} {tail_a}"),
            (2, f"{quote} {tail_b}"),
            (3, "completely unrelated filler text with no quote inside"),
        ],
        "doc_id long, text string",
    )
    for lv in ((13,), (26,), (52,), (13, 26, 52)):
        out = {r.doc_id: r for r in dedup_spans(docs, levels=lv).collect()}
        assert (out[2].n_islands, out[2].n_removed) == (1, 100), lv
        assert out[2].cleaned_key == hashlib.md5(tail_b.encode()).hexdigest(), lv
        assert out[1].n_removed == 0, lv  # keeper holds the quote
        assert out[3].n_removed == 0, lv

    # UNIFORM-threshold union is provably a no-op (docstring theorem:
    # non-keeper at 26 implies non-keeper of every 13-subgram, and the
    # 26-gram doc set is a subset of each subgram's) — assert it
    uni = {tuple(r) for r in dedup_spans(docs, levels=(13, 26, 52)).collect()}
    l13 = {tuple(r) for r in dedup_spans(docs, levels=(13,)).collect()}
    assert uni == l13

    # GRADUATED SUPPORT — the semantics levels exist for: a shared
    # 13-token idiom in only 2 docs survives a (13, min_docs=8) level,
    # while the 100-token verbatim quote (also support 2) is cut whole
    # by the (52, min_docs=2) level
    # 14 tokens: long enough to carry shared 13-grams between carriers
    idiom = "as a matter of plain and ordinary fact of everyday life around these parts"
    grad = spark.createDataFrame(
        [
            (1, f"{quote} {tail_a}"),
            (2, f"{quote} {tail_b}"),
            (3, f"opening words {idiom} first unique continuation text"),
            (4, f"other opening {idiom} second unique continuation text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_spans(grad, levels=((13, 8), (26, 4), (52, 2))).collect()
    }
    # quote: cut whole in the non-keeper, one island
    assert (out[2].n_islands, out[2].n_removed) == (1, 100)
    assert out[2].cleaned_key == hashlib.md5(tail_b.encode()).hexdigest()
    # idiom at support 2 < 8: untouched in both carriers
    assert out[3].n_removed == 0 and out[4].n_removed == 0
    # flat min_docs=2 at level 13 WOULD cut the idiom (the contrast)
    flat = {r.doc_id: r for r in dedup_spans(grad, levels=((13, 2),)).collect()}
    assert flat[4].n_removed > 0

    # single-level default path is byte-compatible with the n= arg
    a = {tuple(r) for r in dedup_spans(grad, n=13).collect()}
    b = {tuple(r) for r in dedup_spans(grad, levels=(13,)).collect()}
    assert a == b
    with pytest.raises(ValueError, match="min_docs"):
        dedup_spans(grad, levels=((13, 1),)).collect()


def test_mixture_sample_hamilton_and_tempering(spark):
    """α=0.5 tempered mixing: quotas are exact Hamilton apportionment
    of sqrt-tempered masses (differential vs a dict reference), small
    sources get MORE than their proportional share, selection is
    deterministic, and a starved source yields what it has without
    silent redistribution."""
    import math

    from xesmf_spark.pipeline import mixture_sample

    # masses: big=90000 chars over 60 docs, small=10000 over 40 docs
    rows = [(i, "x" * 1500, "big") for i in range(60)] + [
        (1000 + i, "y" * 250, "small") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    total = 50
    out = mixture_sample(df, total=total)
    got = [(r.doc_id, r.source) for r in out.collect()]
    assert len(got) == total == len(set(got))
    by_src = {}
    for _, s in got:
        by_src[s] = by_src.get(s, 0) + 1

    # reference Hamilton on sqrt-tempered masses
    m = {"big": 60 * 1500, "small": 40 * 250}
    w = {s: math.floor(math.sqrt(float(v)) * 1_000_000) for s, v in m.items()}
    W = sum(w.values())
    q = {s: (total * wi) // W for s, wi in w.items()}
    rem = {s: (total * wi) % W for s, wi in w.items()}
    for s in sorted(rem, key=lambda k: (-rem[k], k))[: total - sum(q.values())]:
        q[s] += 1
    assert by_src == q
    # tempering: small's share exceeds its proportional mass share
    assert by_src["small"] / total > m["small"] / sum(m.values())
    # determinism: a second run selects the identical doc set
    assert set(got) == {
        (r.doc_id, r.source) for r in mixture_sample(df, total=total).collect()
    }

    # starvation: demand more than a source holds -> implicit cap, no
    # redistribution (output short by exactly the deficit)
    tiny = spark.createDataFrame(
        [(1, "big", 1_000_000), (2, "big", 1_000_000), (3, "rare", 1_000_000)],
        "doc_id long, source string, n_chars long",
    )
    sel = mixture_sample(tiny, total=10)
    per = {}
    for r in sel.collect():
        per[r.source] = per.get(r.source, 0) + 1
    assert per["big"] == 2 and per["rare"] == 1  # both capped at availability
    import pytest as _pytest

    with _pytest.raises(ValueError, match="total"):
        mixture_sample(df, total=0)


def test_sq8_encode_and_topk_match_numpy_replay(spark):
    """SQ8: codes equal the affine floor replay per dimension
    (including a constant dimension -> code 0) and the GEMM top-k
    equals a brute-force int squared-L2 ranking with (d2, id) ties."""
    import numpy as np

    from xesmf_spark.similarity import sq8_encode, sq8_topk

    rng = np.random.RandomState(13)
    n, dim = 40, 6
    X = rng.randn(n, dim).astype(np.float32)
    X[:, 2] = 1.5  # constant dimension: span 0 -> code 0
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )

    Xd = X.astype(np.float64)
    mn = Xd.min(axis=0)
    span = Xd.max(axis=0) - mn
    codes = np.zeros((n, dim), dtype=np.int64)
    nz = span > 0
    codes[:, nz] = np.minimum(
        255, np.floor(((Xd[:, nz] - mn[nz]) * 255.0) / span[nz])
    ).astype(np.int64)

    got_codes = {r["id"]: list(r["codes"]) for r in sq8_encode(df).collect()}
    for i in range(n):
        assert got_codes[i] == codes[i].tolist()
    assert all(gc[2] == 0 for gc in got_codes.values())

    # brute-force ranking on the replay codes
    want = {}
    for i in range(n):
        d2 = ((codes[i] - codes) ** 2).sum(axis=1)
        order = sorted((int(d2[j]), j) for j in range(n) if j != i)[:3]
        want[i] = [(j, d, r + 1) for r, (d, j) in enumerate(order)]
    got = {}
    for r in sq8_topk(df, k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["d2"], r["rank"])
        )
    for i in range(n):
        assert sorted(got[i], key=lambda t: t[2]) == want[i]


def test_char_entropy_matches_math_and_separates_junk(spark):
    """char_entropy: micro-nat values equal a direct python replay of
    the floored-term decomposition; uniform-random-ish text scores
    higher than repeated-char padding; empty docs are absent."""
    import math
    from collections import Counter

    from xesmf_spark.pipeline import char_entropy

    rows = [
        (0, "aaaaaaaaaaaaaaaa"),              # 1 symbol -> H = 0
        (1, "abcdabcdabcdabcd"),              # 4 symbols uniform -> ln 4
        (2, "the quick brown fox jumps"),     # English-ish
        (3, ""),                              # empty -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert 3 not in got

    def replay(text):
        c = Counter(text)
        n = len(text)
        s = sum(math.floor(1_000_000.0 * (v * math.log(v))) for v in c.values())
        return (
            n,
            len(c),
            math.floor(1_000_000.0 * math.log(n)) - s // n,
        )

    for did, text in rows[:3]:
        n, d, e = replay(text)
        r = got[did]
        assert (r["n_chars"], r["n_distinct_chars"], r["entropy_micro"]) == (n, d, e)
    assert got[0]["entropy_micro"] == 0
    # ln 4 = 1.386294... -> 1386294 micro-nats (within truncation dust)
    assert abs(got[1]["entropy_micro"] - 1_386_294) <= 2
    assert got[2]["entropy_micro"] > got[1]["entropy_micro"] > got[0]["entropy_micro"]


def test_containment_asymmetric_quote_detection(spark):
    """containment_pairs: a short doc quoted inside a long one scores
    ~1e6 in the short->long direction and much lower in the reverse;
    the integer micro score matches a direct set replay."""
    from xesmf_spark.pipeline import containment_pairs, SHINGLE

    quote = "the sly copper fox vaulted the mossy gate at dawn"
    long_doc = (
        "archival preamble text comes first here " + quote +
        " and then a very different trailing passage continues onward "
        "with further unrelated narrative material of some length"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "completely unrelated content body")],
        "doc_id long, text string",
    )
    out = {
        (r["src_id"], r["dst_id"]): r
        for r in containment_pairs(df, min_containment_micro=0, max_df=None).collect()
    }

    def sh(text, n=SHINGLE):
        t = text.lower().split()
        return {" ".join(t[i : i + n]) for i in range(max(len(t) - n, 0) + 1)}

    inter = len(sh(quote) & sh(long_doc))
    assert out[(1, 2)]["containment_micro"] == 1_000_000 * inter // len(sh(quote))
    assert out[(1, 2)]["containment_micro"] == 1_000_000  # fully contained
    assert out[(2, 1)]["containment_micro"] == 1_000_000 * inter // len(sh(long_doc))
    assert out[(2, 1)]["containment_micro"] < 500_000
    assert (1, 3) not in out and (3, 1) not in out  # no shared shingles
    # threshold keeps only the contained direction
    kept = containment_pairs(df, min_containment_micro=900_000, max_df=None).collect()
    assert {(r["src_id"], r["dst_id"]) for r in kept} == {(1, 2)}


def test_mmr_topk_diversifies_and_matches_greedy_replay(spark):
    """mmr_topk: rank-1 equals pure relevance; later picks equal a
    local greedy replay; a near-duplicate of the top hit is demoted in
    favor of a diverse candidate even when its relevance is higher."""
    import numpy as np

    from xesmf_spark.similarity import mmr_topk

    # query 0 at the origin direction; candidates: two near-identical
    # high-relevance vectors and one moderately relevant diverse vector
    base = np.array([1.0, 0.0, 0.0, 0.0])
    near1 = np.array([0.99, 0.14, 0.0, 0.0])
    near2 = np.array([0.99, 0.141, 0.0, 0.0])  # ~= near1
    diverse = np.array([0.6, 0.0, 0.8, 0.0])
    vecs = {0: base, 1: near1, 2: near2, 3: diverse}
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["rank"]: (r["neighbor_id"], r["mmr_score"])
        for r in mmr_topk(df, k=3, pool_k=3).filter("query_id = 0").collect()
    }

    def cos_micro(a, b):
        a32, b32 = a.astype(np.float32).astype(np.float64), b.astype(
            np.float32
        ).astype(np.float64)
        c = np.round(a32 @ b32 / np.sqrt((a32 @ a32) * (b32 @ b32)), 6)
        return int(np.rint(c * 1e6))

    rel = {i: cos_micro(base, vecs[i]) for i in (1, 2, 3)}
    # step 1: pure relevance argmax (tie -> smaller id)
    first = min(sorted(rel), key=lambda i: (-rel[i], i))
    assert out[1][0] == first and out[1][1] == 500_000 * rel[first]
    # step 2: the near-twin of the winner is penalized below diverse
    s = {(i, j): cos_micro(vecs[i], vecs[j]) for i in (1, 2, 3) for j in (1, 2, 3)}
    rem = [i for i in (1, 2, 3) if i != first]
    sc2 = {i: 500_000 * rel[i] - 500_000 * s[(i, first)] for i in rem}
    second = min(sorted(sc2), key=lambda i: (-sc2[i], i))
    assert second == 3  # the diverse vector wins despite lower relevance
    assert out[2][0] == second and out[2][1] == sc2[second]
    # step 3: the remaining near-twin, with max-sim over both selected
    third = [i for i in rem if i != second][0]
    sc3 = 500_000 * rel[third] - 500_000 * max(s[(third, first)], s[(third, second)])
    assert out[3][0] == third and out[3][1] == sc3


def test_grouped_split_no_leakage_and_fallback(spark):
    """grouped_split: every member of a dedup group lands in the SAME
    split; docs absent from the verdicts fall back to their own id
    (== assign_split's routing for singletons)."""
    from xesmf_spark.pipeline import assign_split, grouped_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # components: {0..9} -> keep 0, {10..14} -> keep 10, rest absent
    groups = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 15)],
        "doc_id long, keep_id long",
    )
    out = grouped_split(docs, groups).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert len({by_id[i] for i in range(10)}) == 1
    assert len({by_id[i] for i in range(10, 15)}) == 1
    # singletons route exactly like assign_split on their own id
    solo = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs.filter("doc_id >= 15")).collect()
    }
    for i in range(15, 40):
        assert by_id[i] == solo[i]
    # group members route by the REPRESENTATIVE's hash
    rep = {r["doc_id"]: r["split"] for r in assign_split(docs).collect()}
    assert by_id[3] == rep[0] and by_id[12] == rep[10]


def test_mmr_topk_zero_norm_embedding_gates_loudly(spark):
    """A zero-norm embedding in the candidate pool makes cosine
    undefined (NaN -> undefined int64 cast before the r12 fix); the
    rerank must raise instead of emitting garbage picks."""
    import pytest as _pytest

    from xesmf_spark.similarity import mmr_topk

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero-norm
        ],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(Exception, match="zero-norm"):
        mmr_topk(df, k=2, pool_k=2).collect()

    # the gate also fires directly in the GEMM candidate generator,
    # on both the pool side (driver) and the query side (executor)
    from xesmf_spark.similarity import cosine_topk

    with _pytest.raises(ValueError, match="zero-norm pool"):
        cosine_topk(df, k=2).collect()
    clean_pool = df.filter("vec_id != 2")
    with _pytest.raises(Exception, match="zero-norm query"):
        cosine_topk(df, pool=clean_pool, k=2).collect()


def test_record_linkage_pairs_field_comparators(spark):
    """record_linkage_pairs: blocked pairs only; lev term grades by
    (maxlen-dist)*w div maxlen; exact term is null-safe; empty-string
    pair scores full lev weight; threshold filters."""
    from xesmf_spark.pipeline import record_linkage_pairs

    rows = [
        (1, "blk1", "alpha", 7),
        (2, "blk1", "alphq", 7),   # lev 1 of 5 + bucket match
        (3, "blk1", "zzzzz", 9),   # lev 5 of 5, no bucket match
        (4, "blk2", "alpha", 7),   # other block — never paired with 1
        (5, "blk1", "", None),
        (6, "blk1", "", None),     # empty pair: full lev w + null-safe exact
    ]
    df = spark.createDataFrame(rows, "id long, blk string, name string, ab int")
    out = {
        (r["id_a"], r["id_b"]): r["score_micro"]
        for r in record_linkage_pairs(
            df,
            id_col="id",
            block_cols=["blk"],
            fields=[("name", "lev", 700_000), ("ab", "exact", 300_000)],
            min_score_micro=500_000,
        ).collect()
    }
    assert out[(1, 2)] == ((5 - 1) * 700_000) // 5 + 300_000
    assert out[(5, 6)] == 700_000 + 300_000  # empty==empty, NULL<=>NULL
    assert (1, 3) not in out and (1, 4) not in out
    import pytest

    with pytest.raises(ValueError, match="comparator"):
        record_linkage_pairs(
            df, "id", ["blk"], [("name", "soundex", 1)]
        )


def test_random_projection_gemm_matches_relational_and_sql_formula(spark):
    """The three renderings of the pinned Rademacher projection must
    agree bit-for-bit: the relational op (posexplode + broadcast sign
    join), the numpy GEMM kernel inside rp_topk/rp_distortion, and
    the SQL sign formula evaluated via Spark SQL."""
    import numpy as np

    from xesmf_spark.similarity import (
        _rp_sign_expr,
        _rp_sign_matrix,
        random_projection,
    )

    out_dim, in_dim = 5, 12
    # sign matrix == Spark SQL evaluation of the pinned expression
    S = _rp_sign_matrix(out_dim, in_dim)
    rows = spark.sql(
        "SELECT j, d, " + _rp_sign_expr("j", "d") + " AS s FROM "
        f"(SELECT id div {in_dim}L AS j, id % {in_dim} AS d "
        f" FROM range({out_dim * in_dim}))"
    ).collect()
    for r in rows:
        assert S[r["j"], r["d"]] == r["s"], (r["j"], r["d"])
    # signs are balanced-ish (a degenerate all-equal matrix would make
    # the projection rank-1; the r13 low-bit formula failed this way)
    assert 0.3 < (S == 1).mean() < 0.7
    assert np.linalg.matrix_rank(S.astype(float)) == out_dim

    # relational op == direct numpy GEMM on the same lift
    rng_vals = [
        (i, [((i * 31 + d * 7) % 17 - 8) / 8.0 for d in range(in_dim)])
        for i in range(9)
    ]
    df = spark.createDataFrame(rng_vals, "vec_id long, embedding array<float>")
    got = {
        (r["vec_id"], r["j"]): r["y"]
        for r in random_projection(
            df, out_dim=out_dim, in_dim=in_dim
        ).collect()
    }
    V = np.array(
        [np.array(v, dtype=np.float32) for _, v in rng_vals], dtype=np.float64
    )
    Y = np.floor(1_000_000.0 * V).astype(np.int64) @ S.T
    exp = {(i, j): int(Y[i, j]) for i in range(9) for j in range(out_dim)}
    assert got == exp


def test_rp_topk_and_distortion_consistency(spark):
    """rp_topk ranks by the exact projected BIGINT distances (verified
    against a local replay); rp_distortion quantiles sit around 1e6
    and p05 <= p50 <= p95 with all pairs accounted for."""
    import numpy as np

    from xesmf_spark.similarity import _rp_sign_matrix, rp_distortion, rp_topk

    in_dim, out_dim, n = 16, 8, 30
    vals = [
        (i, [((i * 13 + d * 5) % 23 - 11) / 11.0 for d in range(in_dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(vals, "vec_id long, embedding array<float>")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["d2"])
        for r in rp_topk(df, k=2, out_dim=out_dim, in_dim=in_dim).collect()
    }
    S = _rp_sign_matrix(out_dim, in_dim)
    V = np.array([np.array(v, np.float32) for _, v in vals], np.float64)
    Y = np.floor(1e6 * V).astype(np.int64) @ S.T
    D = ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(-1)
    for q in range(n):
        order = sorted(
            ((int(D[q, p]), p) for p in range(n) if p != q)
        )[:2]
        for rk, (d2, p) in enumerate(order, start=1):
            assert got[(q, rk)] == (p, d2)
    row = rp_distortion(df, out_dim=out_dim, in_dim=in_dim).collect()[0]
    assert row["p05_micro"] <= row["p50_micro"] <= row["p95_micro"]
    assert row["n_pairs"] + row["n_zero"] == n * (n - 1) // 2
    assert 200_000 < row["p50_micro"] < 5_000_000  # ratio ~ O(1)


def test_feature_hash_signed_buckets_and_replay(spark):
    """feature_hash: per-bucket signed sums equal a local md5 replay;
    repeated tokens accumulate; zero-sum buckets are dropped."""
    import hashlib

    from xesmf_spark.pipeline import P, feature_hash

    docs = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "Alpha  ALPHA"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in feature_hash(docs, n_features=8).collect()
    }

    def h(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:15], 16)

    def bucket(term):
        return (h(term) % P) % 8

    def sign(term):
        return 1 - 2 * (h(term) % 2)

    exp = {}
    for did, toks in [(1, ["alpha", "alpha", "beta"]), (2, ["alpha", "alpha"])]:
        acc = {}
        for t in toks:
            acc[bucket(t)] = acc.get(bucket(t), 0) + sign(t)
        for b, w in acc.items():
            if w != 0:
                exp[(did, b)] = w
    assert got == exp
    # normalization: doc 2's cased/extra-space text hashes like doc 1's
    assert got[(2, bucket("alpha"))] == 2 * sign("alpha")


def test_nb_quality_heldout_accuracy_and_unseen_tokens(spark):
    """NB classifier contract (r12/r13 verdict task): trained on the
    planted NB_TRAIN_DOCS corpus it must classify a HELD-OUT set drawn
    from the same two vocabularies with 100% accuracy, score docs of
    unseen-only tokens with the prior+unseen constants (not NULL), and
    emit exact BIGINT micro-nat scores."""
    from xesmf_spark.pipeline import NB_TRAIN_DOCS, nb_quality_score

    train = spark.createDataFrame(NB_TRAIN_DOCS, "label long, text string")
    held = spark.createDataFrame(
        [
            (1, 1, "query window data table join column order"),
            (2, 1, "batch plan scan group row value data table"),
            (3, 0, "free click buy spam win junk slow now"),
            (4, 0, "junk noise spam free slow click buy win"),
            (5, 1, "column data order join table query group plan"),
            (6, 0, "spam spam click free junk win now buy"),
        ],
        "doc_id long, want long, text string",
    )
    out = {r.doc_id: r for r in nb_quality_score(
        train, held.select("doc_id", "text")
    ).collect()}
    want = {r.doc_id: r.want for r in held.collect()}
    assert all(out[d].pred_label == want[d] for d in want), {
        d: (out[d].pred_label, out[d].score_micro) for d in want
    }
    assert all(isinstance(out[d].score_micro, int) for d in want)

    # unseen-only doc: finite score from the prior + unseen constants
    alien = spark.createDataFrame(
        [(9, "zzz qqq xxx yyy")], "doc_id long, text string"
    )
    row = nb_quality_score(train, alien).collect()[0]
    assert row.n_tokens == 4 and row.score_micro is not None
    # balanced classes + symmetric smoothing: unseen-only resolves by
    # total-count asymmetry only; just pin determinism
    row2 = nb_quality_score(train, alien).collect()[0]
    assert row.score_micro == row2.score_micro


def test_dedup_spans_exact_run_cuts_true_maximal_run(spark):
    """ExactSubstr longest-run refinement (r12/r13 verdict task): a
    planted 100-token quote shared by two docs must come out of the
    NON-keeper as EXACTLY ONE island of EXACTLY 100 tokens at every
    level config — including configs whose support-2 level is absent
    (the level-quantization gap the refinement closes) — and a
    51-token run must now be cut exactly where no level could see it.
    Base docs are pairwise-unique tokens, so the quote is the only
    repeated content."""
    from xesmf_spark.pipeline import dedup_spans

    quote = " ".join(f"q{i}" for i in range(100))
    filler_a = " ".join(f"a{i}" for i in range(40))
    filler_b = " ".join(f"b{i}" for i in range(35))
    filler_c = " ".join(f"c{i}" for i in range(50))
    docs = spark.createDataFrame(
        [
            (1, filler_a + " " + quote),            # keeper (min id)
            (2, filler_b + " " + quote + " " + filler_c),
            (3, " ".join(f"z{i}" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    configs = [
        ((13, 8), (26, 4)),              # no support-2 level at all
        ((13, 8),),
        ((13, 8), (26, 4), (52, 2)),     # support-2 level also present
    ]
    for levels in configs:
        out = {
            r.doc_id: r
            for r in dedup_spans(docs, levels=levels, exact_run=50).collect()
        }
        assert out[1].n_islands == 0, (levels, "keeper must keep its copy")
        assert out[2].n_islands == 1, (levels, out[2])
        assert out[2].n_removed == 100, (levels, out[2])
        assert out[3].n_islands == 0

    # 51-token run: invisible to ((13,8),(26,4),(52,2)) levels alone,
    # cut EXACTLY by exact_run=50
    run51 = " ".join(f"r{i}" for i in range(51))
    docs51 = spark.createDataFrame(
        [
            (1, filler_a + " " + run51),
            (2, run51 + " " + filler_b),
            (3, " ".join(f"z{i}" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    lv = ((13, 8), (26, 4), (52, 2))
    base = {r.doc_id: r for r in dedup_spans(docs51, levels=lv).collect()}
    assert base[2].n_removed == 0, "levels alone must miss the 51-run"
    ref = {
        r.doc_id: r
        for r in dedup_spans(docs51, levels=lv, exact_run=50).collect()
    }
    assert ref[2].n_islands == 1 and ref[2].n_removed == 51, ref[2]
    assert ref[1].n_islands == 0

    # exact_run below the lowest gram length refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exact_run"):
        dedup_spans(docs, levels=((13, 8),), exact_run=12)


def test_winnowing_guarantee_and_rightmost_min(spark):
    """Winnowing theorem contract: any shared substring of length >=
    k + w - 1 normalized chars yields a shared fingerprint; density is
    far below 1 per gram; fingerprints are deterministic across
    partitionings; a doc shorter than w grams still gets >= 1
    fingerprint."""
    from xesmf_spark.pipeline import winnowing_fingerprints, winnowing_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "intro text one " + shared + " closing words alpha"),
            (2, "completely different start " + shared + " other ending"),
            (3, "no overlap here at all just unrelated words entirely"),
            (4, "tiny"),  # < k chars: single short gram, one window
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, k=8, w=8)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[4], "short doc must keep one fingerprint"
    assert len(by_doc[1] & by_doc[2]) >= 1, "winnowing guarantee violated"
    # density: selected fingerprints << grams (~2/(w+1))
    n_grams_1 = len("intro text one " + shared + " closing words alpha") - 8 + 1
    assert len([r for r in rows if r.doc_id == 1]) < n_grams_1 / 2
    # determinism across partitioning
    fp2 = {(r.doc_id, r.fp_hash, r.fp_pos) for r in
           winnowing_fingerprints(docs.repartition(7), k=8, w=8).collect()}
    assert fp2 == {(r.doc_id, r.fp_hash, r.fp_pos) for r in rows}
    # pairs: 1-2 share, 3 pairs with nobody
    pairs = winnowing_overlap_pairs(docs, k=8, w=8, min_shared=1).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    p = pairs[0]
    assert 0 < p.containment_milli <= 1000 and p.n_shared >= 1


def test_query_likelihood_ranks_and_gates(spark):
    """QL ranking sanity: a doc dense in the query terms outranks one
    without them; zero-tf docs still score (collection prior); a query
    term absent from the corpus raises loudly; scores are exact ints
    matched by a local bigint replay."""
    import math

    import pytest as _pytest

    from xesmf_spark.search import query_likelihood_topk

    docs = spark.createDataFrame(
        [
            (1, "merge join merge join data table"),
            (2, "table scan filter group window order"),
            (3, "merge data something else entirely here"),
        ],
        "doc_id long, text string",
    )
    out = query_likelihood_topk(docs, ["merge", "join"], mu=100, k=3).collect()
    assert [r.doc_id for r in out][0] == 1
    assert len(out) == 3  # zero-tf doc 2 still ranked
    # local replay of doc 1's exact score
    T = 6 + 6 + 6
    cf = {"merge": 3, "join": 2}
    tf1 = {"merge": 2, "join": 2}
    want = sum(
        math.floor(1e6 * math.log(tf1[t] * T + 100 * cf[t]))
        - math.floor(1e6 * math.log(T * (6 + 100)))
        for t in ("merge", "join")
    )
    got1 = [r for r in out if r.doc_id == 1][0]
    assert got1.score_micro == want and got1.n_tokens == 6
    with _pytest.raises(Exception, match="zero corpus frequency"):
        query_likelihood_topk(docs, ["zzz_absent"], k=3).collect()


def test_rake_paper_arithmetic_and_delimiters(spark):
    """RAKE contract on a hand-computed fixture: phrase runs split at
    stopwords/punctuation, word score = (1000*degree) div freq with
    DOC-LOCAL stats, phrase score = sum of member word scores, top-k
    deterministic by (score DESC, first_pos)."""
    from xesmf_spark.pipeline import rake_keyphrases

    docs = spark.createDataFrame(
        [
            (1, "data table scan and data table for big index"),
            (2, "alpha beta ; gamma"),  # punctuation token delimits
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in rake_keyphrases(docs, topk=3).collect():
        out.setdefault(r.doc_id, []).append(r)
    got1 = sorted(out[1], key=lambda r: -r.score_milli)
    # freq: data 2, table 2, scan 1; degree: data 5, table 5, scan 3
    # wscores: 2500/2500/3000 -> "data table scan"=8000, "data table"=5000
    assert [(r.phrase, r.score_milli) for r in got1] == [
        ("data table scan", 8000),
        ("data table", 5000),
        ("big index", 4000),
    ]
    got2 = {r.phrase for r in out[2]}
    assert got2 == {"alpha beta", "gamma"}  # ';' split, not merged


def test_nb_quality_single_class_training_raises(spark):
    """A training set missing one class must raise loudly (Spark would
    otherwise NULL the ln(0) prior where DuckDB errors — an
    engine-divergent silent failure)."""
    import pytest as _pytest

    from xesmf_spark.pipeline import nb_quality_score

    train = spark.createDataFrame(
        [(1, "good words only"), (1, "more good words")],
        "label long, text string",
    )
    score = spark.createDataFrame([(1, "good words")], "doc_id long, text string")
    with _pytest.raises(Exception, match="both classes"):
        nb_quality_score(train, score).collect()


def test_winnowing_identical_docs_full_containment(spark):
    """Edge: two identical docs share their entire fingerprint set —
    containment_milli == 1000 exactly."""
    from xesmf_spark.pipeline import winnowing_overlap_pairs

    text = "the quick brown fox jumps over the lazy dog repeatedly today"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    rows = winnowing_overlap_pairs(docs, k=8, w=8, min_shared=1).collect()
    assert len(rows) == 1 and rows[0].containment_milli == 1000


def test_dsir_weights_match_brute_force(spark):
    """dsir_weights against a local replay: md5 bucket hash, unigram +
    bigram features, Laplace +1 smoothed target/raw bucket
    distributions, per-bucket micro-nat floors of EACH ln separately,
    per-doc BIGINT count*delta sums; target docs absent from the
    output; a target-vocab doc must outscore an off-vocab doc."""
    import hashlib
    import math
    from collections import Counter

    docs = [
        (1, "the sky is blue and the sea is blue", True),
        (2, "blue sky over the blue sea", True),
        (3, "the sky is blue today", False),
        (4, "stock market prices fell sharply today", False),
        (5, "blue sea blue sky blue blue", False),
        (6, "", False),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, tgt boolean")
    B, MICRO = 64, 1_000_000
    out = {
        r.doc_id: (r.n_feats, r.w_micro)
        for r in PL.dsir_weights(
            df, F.col("tgt"), n_buckets=B, micro=MICRO
        ).collect()
    }

    def bucket(term):
        h = int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % 1000000007
        return h % B

    def feats(text):
        ts = [t for t in text.lower().strip().split() if t]
        return Counter(
            [bucket(t) for t in ts]
            + [bucket(a + " " + b) for a, b in zip(ts, ts[1:])]
        )

    ct, cr = Counter(), Counter()
    for _d, text, tgt in docs:
        (ct if tgt else cr).update(feats(text))
    tt, tr = sum(ct.values()), sum(cr.values())

    def delta(b):
        return math.floor(MICRO * math.log((ct[b] + 1) / (tt + B))) - math.floor(
            MICRO * math.log((cr[b] + 1) / (tr + B))
        )

    exp = {}
    for d, text, tgt in docs:
        f = feats(text)
        if tgt or not f:
            continue
        exp[d] = (sum(f.values()), sum(c * delta(b) for b, c in f.items()))
    assert out == exp
    # ordering sanity: the target-vocab doc outscores the off-vocab one
    assert out[3][1] > out[4][1] and out[5][1] > out[4][1]


def test_dsir_weights_null_target_flag_rows_absent(spark):
    """SQL three-valued logic contract: rows whose is_target evaluates
    NULL count toward neither distribution and are absent from the
    output; coalescing the flag to false restores them as raw."""
    docs = [
        (1, "alpha beta", "src0"),
        (2, "alpha gamma", None),
        (3, "alpha beta gamma", "src5"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    flag = F.col("source").isin("src0")
    out = {r.doc_id for r in PL.dsir_weights(df, flag, n_buckets=16).collect()}
    assert out == {3}
    out2 = {
        r.doc_id
        for r in PL.dsir_weights(
            df, F.coalesce(flag, F.lit(False)), n_buckets=16
        ).collect()
    }
    assert out2 == {2, 3}
