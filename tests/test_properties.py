"""Property-based fuzz of the geometry core (hypothesis).

Deterministic tests pin specific meshes; these fuzz the mesh parameters
(rotation, shear, seam offset) and assert the ALGEBRAIC contracts that
must hold for any mesh: bilinear reproduces linear fields exactly,
weights form a partition of unity, wrap_lon is a congruence into
[-180, 180). Few examples, batched per Spark job."""

import math

import numpy as np
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F


@settings(max_examples=8, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=64))
def test_wrap_lon_congruence(spark, lons):
    from xesmf_spark.grids import wrap_lon

    df = spark.createDataFrame([(v,) for v in lons], "lon double")
    rows = df.select("lon", wrap_lon(F.col("lon")).alias("w")).collect()
    for r in rows:
        assert -180.0 <= r.w < 180.0 or math.isclose(r.w, 180.0, abs_tol=1e-9)
        # congruent mod 360 (fp tolerance scales with magnitude)
        k = round((r.lon - r.w) / 360.0)
        assert abs(r.lon - r.w - 360.0 * k) < 1e-6 * max(1.0, abs(r.lon))


@settings(max_examples=5, deadline=None)
@given(
    angle=st.floats(-40.0, 40.0),
    shear=st.floats(-0.3, 0.3),
    lon0=st.floats(-180.0, 180.0),
)
def test_curvilinear_bilinear_linear_exact(spark, angle, shear, lon0):
    """For ANY rotated/sheared mesh placed anywhere on the sphere
    (including across the seam), bilinear weights reproduce a linear
    field exactly on interior points and sum to 1 per point."""
    from xesmf_spark.grids import Grid, grid_from_2d_arrays
    from xesmf_spark.weights.curvilinear import bilinear_weights_curvilinear

    th = math.radians(angle)
    n_y, n_x = 7, 9

    def wrapd(v):
        return v - 360.0 * math.floor((v + 180.0) / 360.0)

    # continuous construction, wrapped representation (the hard case)
    lon2d, lat2d = [], []
    for j in range(n_y):
        lr, tr = [], []
        for i in range(n_x):
            u = -20.0 + 40.0 * i / (n_x - 1)
            v = -15.0 + 30.0 * j / (n_y - 1)
            lon = lon0 + u * math.cos(th) - v * math.sin(th) + shear * u * v / 20.0
            lat = u * math.sin(th) + v * math.cos(th)
            lr.append(wrapd(lon))
            tr.append(max(-89.9, min(89.9, lat)))
        lon2d.append(lr)
        lat2d.append(tr)
    src = grid_from_2d_arrays(spark, lon2d, lat2d)

    # interior points: cell centers of the middle of the mesh, averaged
    # in the CONTINUOUS frame then wrapped
    pts = []
    pid = 0
    for j in range(2, n_y - 2):
        for i in range(2, n_x - 2):
            u = -20.0 + 40.0 * (i + 0.4) / (n_x - 1)
            v = -15.0 + 30.0 * (j + 0.6) / (n_y - 1)
            lon = lon0 + u * math.cos(th) - v * math.sin(th) + shear * u * v / 20.0
            lat = u * math.sin(th) + v * math.cos(th)
            pts.append((pid, wrapd(lon), lat))
            pid += 1
    dst_df = spark.createDataFrame(
        pts, "cell_id long, lon double, lat double"
    ).select(
        "cell_id",
        F.lit(0).cast("bigint").alias("j"),
        F.col("cell_id").alias("i"),
        "lon",
        "lat",
        *[F.lit(None).cast("double").alias(c)
          for c in ("lon_lo", "lon_hi", "lat_lo", "lat_hi")],
    )
    dst = Grid(df=dst_df, shape=(1, len(pts)), periodic=False, has_bounds=False)

    w = bilinear_weights_curvilinear(src, dst)
    rows = w.collect()
    assert rows, "no interior point found its quad"

    # partition of unity per mapped point
    sums = {}
    for r in rows:
        sums[r.row] = sums.get(r.row, 0.0) + r.S
    assert all(abs(s - 1.0) < 1e-8 for s in sums.values()), sums
    assert len(sums) == len(pts)

    # linear-exactness in the mesh's CONTINUOUS (u, v) parameter frame:
    # f = 2 + 0.05 u + 0.03 v is linear over each quad's parameters up
    # to the mesh's mild shear; bilinear in (u, v) reproduces it.
    # Evaluate per source cell from its (j, i) indices.
    src_vals = {}
    for j in range(n_y):
        for i in range(n_x):
            u = -20.0 + 40.0 * i / (n_x - 1)
            v = -15.0 + 30.0 * j / (n_y - 1)
            src_vals[j * n_x + i] = 2.0 + 0.05 * u + 0.03 * v
    want = {}
    for p, (pidx, _, _) in enumerate(pts):
        j = 2 + (p // (n_x - 4))
        i = 2 + (p % (n_x - 4))
        u = -20.0 + 40.0 * (i + 0.4) / (n_x - 1)
        v = -15.0 + 30.0 * (j + 0.6) / (n_y - 1)
        want[pidx] = 2.0 + 0.05 * u + 0.03 * v
    got = {}
    for r in rows:
        got[r.row] = got.get(r.row, 0.0) + r.S * src_vals[r.col]
    err = max(abs(got[k] - want[k]) for k in got)
    assert err < 1e-7, err


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_scrub_pii_idempotent(spark, texts):
    """scrub(scrub(x)) == scrub(x): the sentinels contain no '@' and no
    digits, so no replacement can create a new match — redaction is a
    fixed point after one pass, for ARBITRARY printable input."""
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = PL.scrub_pii(docs).select("doc_id", "text")
    twice = PL.scrub_pii(once).select("doc_id", "text")
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b


@settings(max_examples=6, deadline=None)
@given(
    st.floats(0.0, 1.0),
    st.floats(0.0, 1.0),
)
def test_stratified_sample_subset_and_nesting(spark, f1, f2):
    """For any fractions: the sample is a subset of the corpus, and the
    smaller fraction's rows nest inside the larger's (same stratum)."""
    import xesmf_spark.pipeline as PL

    docs = spark.range(300).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang"
    )
    lo, hi = sorted((f1, f2))
    small = {r["doc_id"] for r in PL.stratified_sample(docs, {"en": lo}, default=0.0).collect()}
    big = {r["doc_id"] for r in PL.stratified_sample(docs, {"en": hi}, default=0.0).collect()}
    assert small <= big
    assert all(d % 2 == 0 for d in big)  # default=0.0 drops 'fr' entirely


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab x", min_size=1, max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_repetition_stats_ranges(spark, texts):
    """Ratios always in (0, 1]; n_tokens positive; bigram fraction NULL
    only for single-token docs — for arbitrary token soups."""
    import xesmf_spark.pipeline as PL

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in PL.repetition_stats(docs).collect():
        assert r["n_tokens"] >= 1
        assert 0.0 < r["distinct_ratio"] <= 1.0
        assert 0.0 < r["top_token_frac"] <= 1.0
        if r["n_tokens"] == 1:
            assert r["top_bigram_frac"] is None
        else:
            assert 0.0 < r["top_bigram_frac"] <= 1.0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1,
        max_size=20,
    ),
)
def test_interval_join_matches_bruteforce(spark, lrows, rrows):
    """The bucketed interval join must emit EXACTLY the pairs a naive
    theta join produces, for arbitrary keys/timestamps (duplicates,
    negatives, boundary hits included)."""
    from xesmf_spark.relational import interval_join

    lo, hi = -7, 12
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k string, ts long, lid int"
    )
    right = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rrows)], "k string, ts long, rid int"
    )
    got = sorted(
        (r["lid"], r["rid_r"]) for r in interval_join(left, right, on="k", ts="ts", lower=lo, upper=hi).collect()
    )
    expect = sorted(
        (i, j)
        for i, (lk, lt) in enumerate(lrows)
        for j, (rk, rt) in enumerate(rrows)
        if lk == rk and lt + lo <= rt <= lt + hi
    )
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1,
        max_size=15,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1,
        max_size=15,
    ),
)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    """Backward as-of must attach, per left row, the max right.ts <=
    left.ts within the key (ties on ts resolved by the rid tie-break),
    for arbitrary inputs — including unmatched keys (NULL carry)."""
    from xesmf_spark.relational import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "sym string, ts long, lid int"
    )
    right = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rrows)], "sym string, ts long, rid long"
    )
    out = asof_join(left, right, on="sym", ts="ts", tie_break="rid")
    got = {r["lid"]: r["rid_r"] for r in out.collect()}
    for i, (lk, lt) in enumerate(lrows):
        cands = [(rt, j) for j, (rk, rt) in enumerate(rrows) if rk == lk and rt <= lt]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, lk, lt, cands)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.sampled_from(["tok%d" % i for i in range(9)]), min_size=1, max_size=60)
)
def test_chunk_tokens_reconstructs_document(spark, toks):
    """Lossless-coverage invariant: taking the first `stride` tokens of
    every chunk plus the remainder of the last chunk reproduces the
    original token stream exactly — no token lost or duplicated by the
    windowing, for any document length vs chunk/overlap geometry."""
    import xesmf_spark.pipeline as PL

    chunk, overlap = 16, 4
    stride = chunk - overlap
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        PL.chunk_tokens(docs, chunk=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_idx"],
    )
    rebuilt = []
    for i, r in enumerate(rows):
        ts = r["chunk_text"].split(" ")
        rebuilt.extend(ts if i == len(rows) - 1 else ts[:stride])
    assert rebuilt == toks


# adversarial PII fragments: adjacency, almost-matches, digit runs,
# multi-PII lines — the classes the planted-oracle driver query never
# exercises (r6 advice)
_PII_FRAGMENTS = (
    "plain words here",
    "user7@example.com",
    "a.b@c-d.co",
    "not-an-email@@x.com",
    "10.0.0.1",
    "999.999.999.999",
    "1.2.3.4.5",
    "12345678901234",
    "555-867-5309",
    "1555-867-53090",
    "call 555-867-5309.",
    "a@b.com10.0.0.1",
    "john..doe@x..com",
    "+1 555-867-5309 ext 22",
    "v1.2.33.444.",
    "12.34",
    "dot.end.",
    "@lonely.at",
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(_PII_FRAGMENTS), min_size=1, max_size=6),
            st.sampled_from(["", " ", ",", "\t", "--"]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_scrub_pii_matches_duckdb_adversarial(spark, rows):
    """Byte-identical redaction between Spark (Java regex) and DuckDB
    (RE2) on adversarial compositions: emails butted against IPs,
    phone-shaped substrings inside longer digit runs, repeated dots,
    multi-PII lines, empty-joiner adjacency. The patterns are
    deliberately lookaround-free so both engines implement identical
    leftmost-first semantics — this test is the proof."""
    import duckdb
    import pandas as pd

    import xesmf_spark.pipeline as PL

    texts = [joiner.join(frags) for frags, joiner in rows]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_emails"], r["n_ips"], r["n_phones"])
        for r in PL.scrub_pii(docs).collect()
    }

    con = duckdb.connect()
    con.register("d", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    exp = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')),
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')),
       len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
FROM d
"""
        ).fetchall()
    }
    assert got == exp


@settings(max_examples=6, deadline=None)
@given(
    ns=st.lists(st.integers(1, 40), min_size=1, max_size=30),
    capacity=st.integers(1, 64),
    n_shards=st.integers(1, 4),
)
def test_pack_contexts_partitions_token_stream(spark, ns, capacity, n_shards):
    """For ANY doc-length multiset, capacity, and shard count: the
    per-(doc, context) slices partition each document's tokens exactly
    (conservation), every context except each shard's last is exactly
    full, and contexts are dense from 0 within a shard."""
    from xesmf_spark.pipeline import pack_contexts

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(ns)],
        "doc_id long, text string",
    )
    out = pack_contexts(docs, capacity=capacity, n_shards=n_shards).collect()
    by_doc, by_shard_ctx = {}, {}
    for r in out:
        by_doc.setdefault(r.doc_id, 0)
        by_doc[r.doc_id] += r.tokens_in_ctx
        by_shard_ctx.setdefault(r.shard, {}).setdefault(r.ctx, 0)
        by_shard_ctx[r.shard][r.ctx] += r.tokens_in_ctx
    assert by_doc == {i: n for i, n in enumerate(ns)}
    for shard, per_ctx in by_shard_ctx.items():
        ctxs = sorted(per_ctx)
        assert ctxs == list(range(len(ctxs)))
        for c in ctxs[:-1]:
            assert per_ctx[c] == capacity
        assert 1 <= per_ctx[ctxs[-1]] <= capacity


@settings(max_examples=5, deadline=None)
@given(
    assign=st.lists(st.integers(0, 3), min_size=10, max_size=60),
    bucket_ns=st.sampled_from([1_000_000, 2_000_000, 7_000_000]),
)
def test_rollup_merge_monoid_law(spark, assign, bucket_ns):
    """The continuous-aggregate invariant as a law: for ANY partition
    of the rows into up to 4 delta states and ANY bucket width,
    merging the per-state partials (sum for counts, min/max monoids)
    equals the from-scratch rollup exactly."""
    from xesmf_spark.relational import merge_rollups, rollup_delta

    rows = [
        (i * 997_000 % 13_000_000, f"t{i % 2}", (i * 31) % 100, g)
        for i, g in enumerate(assign)
    ]
    ev = spark.createDataFrame(rows, "ts long, event_type string, v long, g int")
    aggs = {"n": F.count(F.lit(1)), "s": F.sum("v"),
            "lo": F.min("v"), "hi": F.max("v")}
    full = rollup_delta(ev, bucket_ns, ["event_type"], agg_exprs=aggs)
    groups = sorted(set(assign))
    parts = [
        rollup_delta(ev.filter(F.col("g") == g), bucket_ns,
                     ["event_type"], agg_exprs=aggs)
        for g in groups
    ]
    merged = (
        parts[0]
        if len(parts) == 1
        else merge_rollups(*parts, merge={"lo": "min", "hi": "max"})
    )
    key = lambda r: (r.bucket, r.event_type, r.n, r.s, r.lo, r.hi)
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))


def test_ivf_filtered_only_eligible_neighbors(spark):
    """Every returned neighbor satisfies the predicate, queries are
    unrestricted, and each query's neighbors equal the brute-force
    filtered ranking within its probed cells (differential check vs
    unfiltered ivf_topk restricted afterwards would LOSE rows — the
    recall argument for pre-filtering)."""
    import math

    from xesmf_spark import similarity as SIM
    from pyspark.sql import functions as F

    dim = 8
    rows = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(dim)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = SIM.ivf_topk_filtered(
        emb, F.col("id") % 5 == 0, k=3, n_centroids=4, n_probe=2
    ).collect()
    assert got, "filtered search returned nothing"
    assert all(r.neighbor_id % 5 == 0 for r in got)
    assert any(r.query_id % 5 != 0 for r in got)  # queries unfiltered
    # per-query ranks are 1..k without gaps
    from collections import defaultdict

    ranks = defaultdict(list)
    for r in got:
        ranks[r.query_id].append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


@settings(max_examples=6, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 11),                       # key
            st.sampled_from(["upsert", "delete"]),    # op
            st.integers(0, 999),                      # value
        ),
        min_size=0,
        max_size=24,
    ),
    base=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 999)),
        min_size=0,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_tombstones_model(spark, ops, base):
    """merge_upsert(op_col) against a dict model for ANY change batch:
    base keys absent from the batch survive; any key in the batch is
    replaced by the batch's surviving non-delete rows (multi-row keys
    pass through as-is, so the model keeps every non-delete row)."""
    from xesmf_spark.relational import merge_upsert

    bdf = spark.createDataFrame(base or [(None, None)], "k int, v int")
    if not base:
        bdf = bdf.filter("k IS NOT NULL")
    cdf = spark.createDataFrame(
        ops or [(None, None, None)], "k int, op string, v int"
    ).select("k", "v", "op")
    if not ops:
        cdf = cdf.filter("k IS NOT NULL")
    got = sorted(
        (r.k, r.v) for r in merge_upsert(bdf, cdf, "k", op_col="op").collect()
    )
    changed = {k for k, _, _ in ops}
    want = sorted(
        [(k, v) for k, v in base if k not in changed]
        + [(k, v) for k, op, v in ops if op != "delete"]
    )
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    hashes=st.lists(
        st.tuples(st.integers(0, (1 << 32) - 1), st.integers(0, (1 << 32) - 1)),
        min_size=2,
        max_size=40,
    ),
    radius=st.sampled_from([1, 3, 7]),
)
def test_hamming_pairs_equals_brute_force_model(spark, hashes, radius):
    """Pigeonhole banding == brute-force all-pairs popcount for ANY
    hash multiset and any power-of-two band count (duplicate ids
    collapse: ids are list positions, values may collide)."""
    from xesmf_spark.multimodal import hamming_pairs

    rows = [(i, lo, hi) for i, (lo, hi) in enumerate(hashes)]
    df = spark.createDataFrame(rows, "doc_id long, hash_lo long, hash_hi long")
    got = {
        (p.id_a, p.id_b): p.hamming
        for p in hamming_pairs(df, radius=radius, max_bucket=None).collect()
    }
    want = {}
    for i, (lo_a, hi_a) in enumerate(hashes):
        for j in range(i + 1, len(hashes)):
            lo_b, hi_b = hashes[j]
            d = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
            if d <= radius:
                want[(i, j)] = d
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 80), st.integers(1, 40)),  # (start, len)
        min_size=1,
        max_size=25,
    ),
    width=st.sampled_from([7, 10, 16]),
)
def test_concurrency_profile_matches_timeline_model(spark, iv, width):
    """The two-phase scan equals the dense-timeline brute force for ANY
    interval multiset and bucket width (half-open [s, e) semantics)."""
    import collections

    from xesmf_spark.relational import concurrency_profile

    rows = [(s, s + ln) for s, ln in iv]
    df = spark.createDataFrame(rows, "s long, e long")
    got = {
        r.bucket: r.max_concurrent
        for r in concurrency_profile(df, "s", "e", width).collect()
    }
    cnt = collections.Counter()
    for s, e in rows:
        for t in range(s, e):
            cnt[t] += 1
    want = {}
    for t, c in cnt.items():
        b = t // width
        want[b] = max(want.get(b, 0), c)
    endpoint_buckets = {p // width for s, e in rows for p in (s, e)}
    assert set(got) == endpoint_buckets
    for b, m in got.items():
        assert m == want.get(b, 0), (b, m, want.get(b))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcx", min_size=1, max_size=7),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_bpe_train_and_encode_match_reference(spark, words, n_merges):
    """Random tiny-alphabet corpora (dense in repeated pairs, runs of
    the same char — the overlap-greedy edge) train to EXACTLY the
    reference merge list, and the kernel encoder reproduces the
    per-word reference encoding."""
    from xesmf_spark.bpe import bpe_train, bpe_encode, encode_word_python
    from tests.test_bpe import _ref_train

    wf = {}
    for w in words:
        wf[w] = wf.get(w, 0) + 1
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    ref_merges, ref_vocab = _ref_train(wf, n_merges)
    got = bpe_train(docs, n_merges=n_merges)
    assert got == ref_merges
    pairs = [(m["left"], m["right"]) for m in got]
    enc = {r.doc_id: r.tokens for r in bpe_encode(docs, got, use_kernel=True).collect()}
    want = [t for w in words for t in ref_vocab[w]]
    assert enc[0] == want
    # the pure-Python encoder agrees word-by-word too
    for w in wf:
        assert encode_word_python(w, pairs) == ref_vocab[w]


@settings(max_examples=6, deadline=None)
@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    quality=st.integers(30, 95),
    seed=st.integers(0, 2**31 - 1),
    sub=st.sampled_from(["4:4:4", "4:2:0", "4:2:2"]),
    ri=st.sampled_from([0, 1, 3]),
    gray=st.booleans(),
)
def test_jpeg_lut_engine_equals_bitwise_fuzz(h, w, quality, seed, sub, ri, gray):
    """PROPERTY (r14): for ANY image/quality/subsampling/restart
    config, the LUT entropy decoder and the per-bit reference twin
    produce identical pixels, and both equal the encoder's own
    reconstruction — the Huffman layer is lossless under fuzz, not
    just on pinned seeds.  Pure-Python property, no Spark job."""
    import numpy as np

    from xesmf_spark.jpeg import decode_jpeg, encode_jpeg, expected_reconstruction

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    ss = "4:4:4" if gray else sub
    payload = encode_jpeg(img, quality=quality, subsampling=ss, restart_interval=ri)
    lut = decode_jpeg(payload)
    assert np.array_equal(lut, decode_jpeg(payload, engine="bitwise"))
    assert np.array_equal(lut, expected_reconstruction(img, quality=quality, subsampling=ss))


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_docs=st.integers(2, 5),
    k=st.integers(3, 6),
    w=st.integers(2, 5),
)
def test_winnowing_equals_bruteforce_fuzz(spark, seed, n_docs, k, w):
    """PROPERTY (r14): winnowing_fingerprints equals a literal
    brute-force rightmost-window-min replay for ANY (k, w) and random
    token soup — selection positions AND hashes, not just counts."""
    import random

    from xesmf_spark.pipeline import P as _P
    from xesmf_spark.pipeline import winnowing_fingerprints

    rnd = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 30))))
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.fp_hash, r.fp_pos)
        for r in winnowing_fingerprints(df, k=k, w=w).collect()
    }

    import hashlib

    def bh(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P

    want = set()
    for did, text in docs:
        nt = " ".join(text.lower().split())
        if not nt:
            continue
        grams = [nt[i : i + k] for i in range(max(len(nt) - k, 0) + 1)]
        hs = [bh(g) for g in grams]
        lmax = len(grams) - 1
        for p in range(len(grams)):
            if not (p <= lmax and (p >= w - 1 or p == lmax)):
                continue
            lo = max(0, p - w + 1)
            win = list(range(lo, p + 1))
            mn = min(hs[i] for i in win)
            pos = max(i for i in win if hs[i] == mn)  # rightmost min
            want.add((did, mn, pos))
    assert got == want


def _centers(lon0, d_lon, n_x, lat0, d_lat, n_y):
    """Row-major cell centers of a regular lon/lat grid."""
    lon, lat = np.meshgrid(lon0 + d_lon * np.arange(n_x), lat0 + d_lat * np.arange(n_y))
    return list(lon.ravel()), list(lat.ravel())


#: coarse global pool with pole rows; needles up to lat ±82.5
_POLE_PAIR = (*_centers(-175.0, 10.0, 36, -87.0, 6.0, 30), *_centers(-172.5, 15.0, 24, -82.5, 11.0, 16), 3, None)
#: 30x18-degree global pool, 45x40-degree needles
_WIDE_PAIR = (*_centers(-165.0, 30.0, 12, -81.0, 18.0, 10), *_centers(-157.5, 45.0, 8, -60.0, 40.0, 4), 3, None)
#: pool point 1 sits one voxel closer than point 0, at the same key
#: (exact tie, id 0 wins): the cube of radius 1 finds only point 1 and
#: its key is within one quantum of the (r*h)**2 bound, so stopping
#: there without the margin returns the wrong neighbor
_MARGIN_TIE = ([-0.19098893264709385, 0.0], [0.0, 0.19098893264709385], [0.0], [0.0], 1, 0.0033333333222222224)
#: d2 * 1e9 of pool point 1 is exactly 2796683550.5 and of point 0 a
#: little more: half-up both round to ...551 (id 0 wins); half-even
#: rounds point 1 down to ...550 and picks it
_HALF_TIE = ([-132.4, -132.4], [53.789999997, 53.79], [0.0], [0.0], 1, None)


@st.composite
def _knn_cases(draw):
    """(pool lons, pool lats, needle lons, needle lats, k, voxel side):
    pole rows, the ±180 seam, both lon conventions and ±360 shifts,
    exact duplicates, symmetric ties, k beyond the pool size, and any
    voxel side (None sizes it from the pool)."""
    coord = st.tuples(
        st.one_of(st.sampled_from([-180.0, -90.0, 0.0, 90.0, 179.5, 180.0]), st.floats(-180.0, 180.0)),
        st.one_of(st.sampled_from([-90.0, -89.5, 0.0, 45.0, 89.5, 90.0]), st.floats(-90.0, 90.0)),
    )
    pool = draw(st.lists(coord, min_size=1, max_size=40))
    pool += draw(st.lists(st.sampled_from(pool), max_size=6))
    need = draw(st.lists(coord, max_size=12)) + draw(st.lists(st.sampled_from(pool), max_size=6))
    # a needle halfway between two pool points on its parallel
    for (lon, lat), d in draw(st.lists(st.tuples(coord, st.floats(0.0, 40.0)), max_size=4)):
        pool += [(lon - d, lat), (lon + d, lat)]
        need.append((lon, lat))
    east = draw(st.booleans())

    def place(pts):
        shifts = draw(st.lists(st.sampled_from([-360.0, 0.0, 360.0]), min_size=len(pts), max_size=len(pts)))
        return [(lon % 360.0 if east else lon) + s for (lon, _), s in zip(pts, shifts)], [lat for _, lat in pts]

    k = draw(st.integers(1, len(pool) + 3))
    h = draw(st.one_of(st.none(), st.floats(0.01, 3.0)))
    return (*place(pool), *place(need), k, h)


def _brute_knn(plon, plat, nlon, nlat, k):
    """``(needle, id, rank, key)`` of the k smallest ``(key, id)`` per
    needle over the full distance matrix; key = round-half-up of
    1e9 x the squared chord distance in the oracle's expanded form."""
    def trig(lon, lat):
        la, lo = np.radians(np.asarray(lat, float)), np.radians(np.asarray(lon, float))
        return np.cos(la), np.sin(la), np.cos(lo), np.sin(lo)

    (na, nb, nc, nd), (pa, pb, pc, pd) = trig(nlon, nlat), trig(plon, plat)
    d2 = 2.0 - 2.0 * (na[:, None] * pa * (nc[:, None] * pc + nd[:, None] * pd) + nb[:, None] * pb)
    t = d2 * 1e9
    key = (np.floor(t) + (t - np.floor(t) >= 0.5)).astype(np.int64)
    ids = np.broadcast_to(np.arange(len(plon)), key.shape)
    top = np.lexsort((ids, key), axis=1)[:, :k]
    kk = top.shape[1]
    return (
        np.repeat(np.arange(len(nlon)), kk),
        top.ravel(),
        np.tile(np.arange(1, kk + 1), len(nlon)),
        np.take_along_axis(key, top, axis=1).ravel(),
    )


@settings(max_examples=80, deadline=None)
@given(case=_knn_cases())
@example(case=_POLE_PAIR)
@example(case=_WIDE_PAIR)
@example(case=_MARGIN_TIE)
@example(case=_HALF_TIE)
def test_knn_search_matches_brute_force(case):
    """The voxel search behind nearest_weights and knn_join returns, for
    every needle, exactly the brute-force top k under the
    ``(round(d2 * 1e9), id)`` rule, whatever the voxel side."""
    from xesmf_spark.weights import nearest as NN

    plon, plat, nlon, nlat, k, h = case
    pool = NN._pool(np.arange(len(plon)), NN._trig(np.asarray(plon, float), np.asarray(plat, float)), h)
    got = NN._search(pool, NN._trig(np.asarray(nlon, float), np.asarray(nlat, float)), k)
    want = _brute_knn(plon, plat, nlon, nlat, k)
    assert all(np.array_equal(g, w) for g, w in zip(got, want)), (got, want)
