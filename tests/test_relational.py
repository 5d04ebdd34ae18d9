"""asof_join / interval_join semantics: backward/forward, exact-ts and
boundary inclusion, LEFT OUTER nulls, multi-column keys, exactly-once
pairs across bucket edges, and the plan shapes."""

import pytest
from pyspark.sql import functions as F

from xesmf_spark.relational import asof_join, interval_join


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, ts, px): the right side of the classic trades/quotes as-of
    return spark.createDataFrame(
        [
            ("a", 10, 1.0),
            ("a", 20, 2.0),
            ("a", 30, 3.0),
            ("b", 15, 9.0),
        ],
        "sym string, ts long, px double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            ("a", 5, 100),   # before any quote
            ("a", 20, 101),  # exactly on a quote
            ("a", 25, 102),  # between quotes
            ("a", 99, 103),  # after the last quote
            ("b", 14, 104),  # just before b's only quote
            ("c", 50, 105),  # key with no quotes at all
        ],
        "sym string, ts long, trade_id int",
    )


def _rows(df):
    return {
        r["trade_id"]: (r["ts_r"], r["px_r"]) for r in df.collect()
    }


def test_backward(spark, trades, quotes):
    got = _rows(asof_join(trades, quotes, on="sym", ts="ts", direction="backward"))
    assert got == {
        100: (None, None),   # nothing at-or-before ts=5
        101: (20, 2.0),      # exact ts matches
        102: (20, 2.0),      # most recent prior
        103: (30, 3.0),      # carries past the last quote
        104: (None, None),   # b's quote is later
        105: (None, None),   # unmatched key stays (LEFT OUTER)
    }


def test_forward(spark, trades, quotes):
    got = _rows(asof_join(trades, quotes, on="sym", ts="ts", direction="forward"))
    assert got == {
        100: (10, 1.0),      # earliest at-or-after
        101: (20, 2.0),      # exact ts matches in forward too
        102: (30, 3.0),
        103: (None, None),   # nothing after the last quote
        104: (15, 9.0),
        105: (None, None),
    }


def test_left_rows_preserved_exactly_once(spark, trades, quotes):
    out = asof_join(trades, quotes, on="sym", ts="ts")
    assert out.count() == trades.count()
    assert sorted(r["trade_id"] for r in out.collect()) == [100, 101, 102, 103, 104, 105]


def test_multi_key(spark):
    left = spark.createDataFrame(
        [("a", 1, 50, 1), ("a", 2, 50, 2)], "k1 string, k2 long, ts long, lid int"
    )
    right = spark.createDataFrame(
        [("a", 1, 40, 7.0), ("a", 2, 60, 8.0)], "k1 string, k2 long, ts long, v double"
    )
    got = {
        r["lid"]: r["v_r"]
        for r in asof_join(left, right, on=["k1", "k2"], ts="ts").collect()
    }
    assert got == {1: 7.0, 2: None}


def test_suffix_and_columns(spark, trades, quotes):
    out = asof_join(trades, quotes, on="sym", ts="ts", suffix="_q")
    assert out.columns == ["sym", "ts", "trade_id", "ts_q", "px_q"]


def test_tie_break_picks_greatest_in_one_pass(spark):
    """Right rows tied on (key, ts) resolve to the max tie_break value,
    in both directions, without a pre-aggregate shuffle."""
    left = spark.createDataFrame(
        [("k", 20, 1), ("k", 5, 2)], "sym string, ts long, lid int"
    )
    right = spark.createDataFrame(
        [("k", 10, 100, 1.0), ("k", 10, 300, 3.0), ("k", 10, 200, 2.0)],
        "sym string, ts long, rid long, px double",
    )
    back = asof_join(left, right, on="sym", ts="ts", tie_break="rid")
    got = {r["lid"]: (r["rid_r"], r["px_r"]) for r in back.collect()}
    assert got == {1: (300, 3.0), 2: (None, None)}
    fwd = asof_join(
        left, right, on="sym", ts="ts", direction="forward", tie_break="rid"
    )
    got_f = {r["lid"]: r["rid_r"] for r in fwd.collect()}
    assert got_f == {1: None, 2: 300}
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2  # one per branch


def test_tie_break_must_be_right_column(spark, trades, quotes):
    with pytest.raises(ValueError):
        asof_join(trades, quotes, on="sym", ts="ts", tie_break="nope")


def test_bad_direction(spark, trades, quotes):
    with pytest.raises(ValueError):
        asof_join(trades, quotes, on="sym", ts="ts", direction="nearest")


def test_interval_join_pairs(spark, trades, quotes):
    """All pairs with quote in [trade.ts - 10, trade.ts]; bounds
    inclusive; every matching pair exactly once even when the window
    straddles a bucket edge."""
    out = interval_join(trades, quotes, on="sym", ts="ts", lower=-10, upper=0)
    got = sorted((r["trade_id"], r["ts_r"]) for r in out.collect())
    # 101 (a@20): quotes 10 (exact lower bound) and 20 (exact ts);
    # 102 (a@25): quote 20; 100/103: none in window; 104 (b@14): b's
    # quote is at 15 > 14; 105: key with no quotes
    assert got == [(101, 10), (101, 20), (102, 20)]


def test_interval_join_forward_window(spark, trades, quotes):
    out = interval_join(trades, quotes, on="sym", ts="ts", lower=0, upper=10)
    got = sorted((r["trade_id"], r["ts_r"]) for r in out.collect())
    assert got == [(100, 10), (101, 20), (101, 30), (102, 30), (104, 15)]


def test_interval_join_negative_ts(spark):
    """Floor-division bucketing must be exact for negative timestamps
    (Spark's div truncates toward zero — the operator must not)."""
    left = spark.createDataFrame([("k", -5, 1)], "k string, ts long, lid int")
    right = spark.createDataFrame(
        [("k", -14, 7.0), ("k", -15, 8.0), ("k", -4, 9.0)], "k string, ts long, v double"
    )
    out = interval_join(left, right, on="k", ts="ts", lower=-10, upper=0)
    got = sorted(r["v_r"] for r in out.collect())
    # window [-15, -5]: -14 inside, -15 at the inclusive bound, -4 outside
    assert got == [7.0, 8.0]


def test_interval_join_epoch_ns_magnitude(spark):
    """Bucketing must be exact ABOVE 2^53: the r5 double-division
    _floor_div could round epoch-ns values (~1.7e18) into the previous
    bucket and silently drop true matches. Place a right row exactly at
    a left row's inclusive lower bound, at realistic epoch-ns, adjacent
    to a span boundary."""
    from xesmf_spark.relational import _floor_div

    span = 10_000_000_000  # 10 s in ns
    t = 1_700_000_003_333_333_333  # not a multiple of span, > 2^53
    left = spark.createDataFrame([("k", t, 1)], "k string, ts long, lid int")
    right = spark.createDataFrame(
        [("k", t - span, 1.0), ("k", t - span - 1, 2.0), ("k", t, 3.0)],
        "k string, ts long, v double",
    )
    out = interval_join(left, right, on="k", ts="ts", lower=-span, upper=0)
    assert sorted(r["v_r"] for r in out.collect()) == [1.0, 3.0]
    # and the bucketing primitive itself matches python floor-div at
    # adversarial magnitudes (exact multiples, +/-1, Long.MAX)
    vals = [t, t - 1, t + 1, (t // span) * span, 2**62 + 7, 9223372036854775807, -t]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = [r["q"] for r in df.select(_floor_div(F.col("x"), span).alias("q")).collect()]
    assert got == [v // span for v in vals]


def test_interval_join_bad_bounds(spark, trades, quotes):
    with pytest.raises(ValueError):
        interval_join(trades, quotes, on="sym", ts="ts", lower=5, upper=5)


def test_interval_join_no_cartesian(spark, trades, quotes):
    plan = (
        interval_join(trades, quotes, on="sym", ts="ts", lower=-10, upper=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_fuzz_vs_bruteforce(spark):
    """Randomized differential: asof_join backward/forward vs a python
    brute force over every (left, right) pair. Deterministic seed."""
    import random

    rnd = random.Random(42)
    keys = ["a", "b", "c"]
    left = [(rnd.choice(keys), rnd.randrange(0, 100), i) for i in range(60)]
    right = [(rnd.choice(keys), rnd.randrange(0, 100), 1000 + i) for i in range(60)]
    # no (key, ts) ties on the right -> fully deterministic without tie_break
    seen, rdedup = set(), []
    for k, t, rid in right:
        if (k, t) not in seen:
            seen.add((k, t))
            rdedup.append((k, t, rid))
    ldf = spark.createDataFrame(left, "k string, ts long, lid int")
    rdf = spark.createDataFrame(rdedup, "k string, ts long, rid int")

    for direction in ("backward", "forward"):
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(ldf, rdf, on="k", ts="ts", direction=direction).collect()
        }
        for k, t, lid in left:
            if direction == "backward":
                cand = [(rt, rid) for rk, rt, rid in rdedup if rk == k and rt <= t]
                want = max(cand)[1] if cand else None
            else:
                cand = [(rt, rid) for rk, rt, rid in rdedup if rk == k and rt >= t]
                want = min(cand)[1] if cand else None
            assert got[lid] == want, (direction, k, t, lid)


def test_interval_fuzz_vs_bruteforce(spark):
    """Randomized differential: interval_join vs the brute-force pair
    set, window straddling many bucket widths."""
    import random

    rnd = random.Random(7)
    keys = ["a", "b"]
    left = [(rnd.choice(keys), rnd.randrange(0, 200), i) for i in range(50)]
    right = [(rnd.choice(keys), rnd.randrange(0, 200), 1000 + i) for i in range(50)]
    ldf = spark.createDataFrame(left, "k string, ts long, lid int")
    rdf = spark.createDataFrame(right, "k string, ts long, rid int")
    for lo, hi in ((-13, 0), (-7, 5), (0, 29)):
        got = {
            (r["lid"], r["rid_r"])
            for r in interval_join(ldf, rdf, on="k", ts="ts", lower=lo, upper=hi).collect()
        }
        want = {
            (lid, rid)
            for lk, lt, lid in left
            for rk, rt, rid in right
            if lk == rk and lt + lo <= rt <= lt + hi
        }
        assert got == want, (lo, hi)


def test_one_shuffle_plan(spark, trades, quotes):
    """The as-of plan must shuffle each side ONCE on the key (the
    window's hashpartitioning) — no range-join candidate explosion, no
    extra exchange after the union."""
    plan = (
        asof_join(trades, quotes, on="sym", ts="ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one Exchange per union branch feeding the window, nothing more
    assert plan.count("Exchange hashpartitioning") <= 2


def test_output_collision_raises(spark, trades, quotes):
    """A left column named like a suffixed right column must be caught
    (it would produce duplicate output names)."""
    left_bad = trades.withColumn("px_r", F.lit(0.0))
    with pytest.raises(ValueError):
        asof_join(left_bad, quotes, on="sym", ts="ts")
    with pytest.raises(ValueError):
        interval_join(left_bad, quotes, on="sym", ts="ts", lower=-5, upper=0)
    # a different suffix resolves it
    assert asof_join(left_bad, quotes, on="sym", ts="ts", suffix="_q").count() == 6


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics: same rows (with
    multiplicity) as the plain equi-join, for inner and left joins,
    on skewed data with duplicates on both sides."""
    from xesmf_spark.relational import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", i) for i in range(5)] + [("orphan", 1)],
        "k string, lv int",
    )
    right = spark.createDataFrame(
        [("hot", "a"), ("hot", "b"), ("cold", "c"), ("unused", "z")],
        "k string, rv string",
    )
    for how in ("inner", "left"):
        plain = sorted(tuple(r) for r in left.join(right, "k", how).collect())
        salted = sorted(tuple(r) for r in salted_join(left, right, "k", how, salt=8).collect())
        assert salted == plain, how
    # validation
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")
    with pytest.raises(KeyError):
        salted_join(left, right, "missing")


def test_merge_upsert_semantics(spark):
    """Updated keys replaced wholesale, untouched keys kept verbatim,
    new keys appended; schema mismatch and missing key rejected."""
    from xesmf_spark.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, v string, x double"
    )
    got = {r.k: (r.v, r.x) for r in merge_upsert(base, updates, "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    import pytest as _pytest

    with _pytest.raises(KeyError):
        merge_upsert(base, updates.withColumnRenamed("k", "kk"), "k")
    with _pytest.raises(ValueError):
        merge_upsert(base, updates.drop("x"), "k")


def test_merge_upsert_tombstones(spark):
    """With op_col: delete ops remove their key, upsert ops replace or
    insert, the op column never reaches the output, and the updates
    schema must be base + op_col exactly."""
    from xesmf_spark.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(2, "ZZ", "delete"), (3, "C", "upsert"), (4, "d", "upsert")],
        "k long, v string, op string",
    )
    out = merge_upsert(base, changes, "k", op_col="op")
    assert out.columns == ["k", "v"]
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 3: "C", 4: "d"}

    import pytest as _pytest

    # op_col declared but missing from updates -> schema mismatch
    with _pytest.raises(ValueError):
        merge_upsert(base, changes.drop("op"), "k", op_col="op")
    # op column present but op_col NOT declared -> schema mismatch too
    with _pytest.raises(ValueError):
        merge_upsert(base, changes, "k")


def test_merge_upsert_null_op_is_upsert(spark):
    """A NULL op value is an upsert, not a delete (r9 ADVICE: the
    plain != predicate NULLed out and silently dropped the row)."""
    from xesmf_spark.relational import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "A", None), (2, "ZZ", "delete"), (3, "c", None)],
        "k long, v string, op string",
    )
    out = merge_upsert(base, changes, "k", op_col="op")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "A", 3: "c"}


def test_merge_upsert_composite_key(spark):
    """Composite-key upserts replace only exact key matches."""
    from xesmf_spark.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "x", 10.0), (1, "y", 20.0), (2, "x", 30.0)], "a long, b string, v double"
    )
    updates = spark.createDataFrame([(1, "y", 99.0)], "a long, b string, v double")
    got = {(r.a, r.b): r.v for r in merge_upsert(base, updates, ["a", "b"]).collect()}
    assert got == {(1, "x"): 10.0, (1, "y"): 99.0, (2, "x"): 30.0}


def test_continuous_rollup_matches_from_scratch(spark):
    """The continuous-aggregate invariant: splitting a stream into N
    arbitrary deltas, partial-aggregating each, and merging must equal
    the from-scratch rollup exactly (integer partials — no tolerance).
    Schema mismatch and single-state merges are rejected."""
    from pyspark.sql import functions as F

    from xesmf_spark.relational import merge_rollups, rollup_delta

    ev = spark.createDataFrame(
        [(i, 1_000_000 * (i % 7), f"t{i % 3}", i * 10) for i in range(200)],
        "event_id long, ts long, event_type string, cents long",
    )
    aggs = {"n": F.count(F.lit(1)), "sum_cents": F.sum("cents")}
    full = rollup_delta(ev, 2_000_000, ["event_type"], agg_exprs=aggs)
    parts = [
        rollup_delta(ev.filter(F.col("event_id") % 3 == r), 2_000_000,
                     ["event_type"], agg_exprs=aggs)
        for r in range(3)
    ]
    merged = merge_rollups(*parts)
    key = lambda r: (r.bucket, r.event_type, r.n, r.sum_cents)
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_rollups(full)
    with _pytest.raises(ValueError):
        merge_rollups(full, full.withColumnRenamed("n", "m"))


def test_merge_rollups_min_max_partials(spark):
    """min/max partials merge with their own monoid: splitting the rows
    arbitrarily and merging must reproduce the from-scratch min/max/sum;
    unknown merge fns and non-partial columns are rejected."""
    from pyspark.sql import functions as F

    from xesmf_spark.relational import merge_rollups, rollup_delta

    ev = spark.createDataFrame(
        [(1_000_000 * (i % 5), f"t{i % 2}", (i * 37) % 101) for i in range(100)],
        "ts long, event_type string, v long",
    )
    aggs = {"lo": F.min("v"), "hi": F.max("v"), "s": F.sum("v")}
    full = rollup_delta(ev, 2_000_000, ["event_type"], agg_exprs=aggs)
    parts = [
        rollup_delta(ev.filter(F.col("v") % 3 == r), 2_000_000,
                     ["event_type"], agg_exprs=aggs)
        for r in range(3)
    ]
    merged = merge_rollups(*parts, merge={"lo": "min", "hi": "max"})
    key = lambda r: (r.bucket, r.event_type, r.lo, r.hi, r.s)
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_rollups(full, full, merge={"lo": "median"})
    with _pytest.raises(ValueError):
        merge_rollups(full, full, merge={"bucket": "min"})


def test_merge_rollups_numeric_key_via_metadata(spark, tmp_path):
    """A NUMERIC group key (region_id) must be recovered as a key — not
    silently summed as an aggregate partial (r7 ADVICE). rollup_delta
    stamps xesmf.rollup_key column metadata; merge_rollups reads it,
    including after a parquet round-trip (the streaming state path).
    Hand-built states without the metadata must raise, not guess."""
    from pyspark.sql import functions as F

    from xesmf_spark.relational import merge_rollups, rollup_delta

    ev = spark.createDataFrame(
        [(i, 1_000_000 * (i % 5), i % 3, i * 10) for i in range(90)],
        "event_id long, ts long, region_id long, cents long",
    )
    aggs = {"n": F.count(F.lit(1)), "sum_cents": F.sum("cents")}
    full = rollup_delta(ev, 2_000_000, ["region_id"], agg_exprs=aggs)
    parts = [
        rollup_delta(ev.filter(F.col("event_id") % 2 == r), 2_000_000,
                     ["region_id"], agg_exprs=aggs)
        for r in range(2)
    ]
    # one partial goes through parquet (metadata must survive the footer)
    p = str(tmp_path / "state")
    parts[0].write.parquet(p)
    merged = merge_rollups(spark.read.parquet(p), parts[1])
    key = lambda r: (r.bucket, r.region_id, r.n, r.sum_cents)
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))

    import pytest as _pytest

    # hand-built state: no metadata -> inference must refuse
    bare = spark.createDataFrame(
        [(0, 1, 2, 30)], "bucket long, region_id long, n long, sum_cents long"
    )
    with _pytest.raises(ValueError, match="cannot infer"):
        merge_rollups(bare, bare)


def test_rollup_delta_floor_buckets_negative_ts(spark):
    """Bucketing is true floor division: negative timestamps land in
    negative buckets instead of collapsing (-b, b) into bucket 0."""
    from xesmf_spark.relational import rollup_delta

    ev = spark.createDataFrame(
        [(-3, "a"), (-1, "a"), (0, "a"), (1, "a"), (2, "a")],
        "ts long, event_type string",
    )
    got = {r.bucket: r.n for r in rollup_delta(ev, 2, ["event_type"]).collect()}
    assert got == {-2: 1, -1: 1, 0: 2, 1: 1}


def test_bloom_prune_join_matches_plain_join(spark):
    """The bloom prune is a no-false-negative superset filter, so the
    final equi-join must reproduce the plain join EXACTLY — rows with
    multiplicity — on data with dup keys on both sides, at a bitmap
    size small enough (m_bits=64) to force heavy false-positive
    pressure through the probe chain."""
    from xesmf_spark.relational import bloom_prune_join

    fact = spark.createDataFrame(
        [(i % 50, f"f{i}") for i in range(400)], "k long, fv string"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 50, 7)] + [(7, "dup")],
        "k long, dv string",
    )
    plain = sorted(tuple(r) for r in fact.join(dim, "k").collect())
    for m in (64, 1 << 12):
        got = sorted(
            tuple(r) for r in bloom_prune_join(fact, dim, "k", m_bits=m).collect()
        )
        assert got == plain, m
    # left_semi: surviving fact rows only, no dim multiplicity
    semi = sorted(
        tuple(r)
        for r in bloom_prune_join(fact, dim, "k", how="left_semi").collect()
    )
    want_semi = sorted(tuple(r) for r in fact.join(dim, "k", "left_semi").collect())
    assert semi == want_semi


def test_bloom_prune_join_prunes_and_validates(spark):
    """With a roomy bitmap the bloom alone must kill (nearly) every
    non-matching fact key BEFORE the join — measured by running only
    the probe side via left_semi on a disjoint dim — and the argument
    validation must reject bad shapes."""
    import pytest as _pytest

    from xesmf_spark.relational import bloom_prune_join

    fact = spark.createDataFrame([(i, i) for i in range(2000)], "k long, v long")
    dim = spark.createDataFrame([(i,) for i in range(5)], "k long")
    # 5 keys in 2^16 bits, k=3: fpp ~ (3*5/65536)^3 ~ 1e-11 — the
    # pruned fact is exactly the 5 matching rows
    got = bloom_prune_join(fact, dim, "k", m_bits=1 << 16, how="left_semi")
    assert sorted(r.k for r in got.collect()) == [0, 1, 2, 3, 4]
    with _pytest.raises(ValueError, match="left_semi"):
        bloom_prune_join(fact, dim, "k", how="left")
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_prune_join(fact, dim, "k", m_bits=100)
    with _pytest.raises(ValueError, match="n_hashes"):
        bloom_prune_join(fact, dim, "k", n_hashes=0)
    with _pytest.raises(KeyError):
        bloom_prune_join(fact, dim, "missing")


def test_incremental_join_refresh_identity(spark):
    """Base view + refresh deltas must equal the from-scratch join of
    the full tables (rows with multiplicity), with every delta pair
    produced exactly once — including dup keys on both sides and keys
    appearing only in deltas."""
    from xesmf_spark.relational import incremental_join_refresh

    L = spark.createDataFrame(
        [(1, "l1"), (1, "l1b"), (2, "l2"), (3, "l3"), (9, "lx")], "k long, lv string"
    )
    R = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (2, "r2b"), (4, "r4")], "k long, rv string"
    )
    dL = spark.createDataFrame([(2, "l2new"), (4, "l4new"), (7, "l7")], "k long, lv string")
    dR = spark.createDataFrame([(1, "r1new"), (7, "r7new")], "k long, rv string")
    view = L.join(R, "k")
    got = sorted(
        tuple(r)
        for r in view.unionByName(
            incremental_join_refresh(L, dL, R, dR, "k")
        ).collect()
    )
    want = sorted(
        tuple(r) for r in L.unionByName(dL).join(R.unionByName(dR), "k").collect()
    )
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        incremental_join_refresh(L, dL.select("lv", "k"), R, dR, "k")
    with _pytest.raises(KeyError):
        incremental_join_refresh(L, dL, R, dR, "missing")


def test_funnel_steps_semantics(spark):
    """Order matters (click before view doesn't count), the window is
    anchored at funnel ENTRY (t1), equal timestamps satisfy >=, and a
    user missing an earlier step can't convert a later one."""
    from xesmf_spark.relational import funnel_steps

    rows = [
        # u1: clean conversion
        (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
        # u2: click BEFORE view -> stops at view
        (2, 200, "click"), (2, 300, "view"), (2, 250, "purchase"),
        # u3: purchase outside the entry-anchored window
        (3, 100, "view"), (3, 150, "click"), (3, 5000, "purchase"),
        # u4: never viewed -> not even step 1
        (4, 100, "click"), (4, 200, "purchase"),
        # u5: tie - click at the same ts as view counts (>=)
        (5, 100, "view"), (5, 100, "click"), (5, 101, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        r.step: r.n_users
        for r in funnel_steps(ev, ["view", "click", "purchase"], within=1000).collect()
    }
    assert got == {"view": 4, "click": 3, "purchase": 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_steps(ev, ["view"], within=1000)
    with _pytest.raises(ValueError):
        funnel_steps(ev, ["view", "click"], within=0)


def test_merge_rollups_hll_sketch_monoid(spark):
    """An HLL sketch column merges as a rollup partial: count partials
    merge exactly, and the merged sketch's estimate equals the
    from-scratch sketch's estimate at tiny cardinality (sparse mode) —
    asserted as a bounded gap, never byte identity."""
    from xesmf_spark.relational import merge_rollups, rollup_delta

    rows1 = [(t, "a", u) for t in range(0, 50) for u in (t % 7, t % 3)]
    rows2 = [(t, "a", u) for t in range(50, 100) for u in (t % 5, 11)]
    aggs = lambda: {  # noqa: E731
        "n": F.count(F.lit(1)),
        "sk": F.hll_sketch_agg("user_id"),
    }
    d1 = spark.createDataFrame(rows1, "ts long, event_type string, user_id long")
    d2 = spark.createDataFrame(rows2, "ts long, event_type string, user_id long")
    s1 = rollup_delta(d1, 25, ["event_type"], agg_exprs=aggs())
    s2 = rollup_delta(d2, 25, ["event_type"], agg_exprs=aggs())
    merged = merge_rollups(s1, s2, merge={"sk": "hll"})
    whole = rollup_delta(
        d1.unionByName(d2), 25, ["event_type"], agg_exprs=aggs()
    )
    got = {
        r.bucket: (r.n, r.est)
        for r in merged.select(
            "bucket", "n", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    want = {
        r.bucket: (r.n, r.est)
        for r in whole.select(
            "bucket", "n", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    assert set(got) == set(want)
    for b in want:
        assert got[b][0] == want[b][0]  # counts merge exactly
        assert abs(got[b][1] - want[b][1]) <= max(1, 0.05 * want[b][1])


def test_retention_cohorts_matrix(spark):
    """Hand-computed cohort matrix: user 1 starts period 0 and returns
    in 0/1/3; user 2 starts period 1 and returns in 1/2; user 3 starts
    period 0, never returns."""
    from xesmf_spark.relational import retention_cohorts

    P = 100
    rows = [
        (1, 5), (1, 50), (1, 150), (1, 350),
        (2, 120), (2, 240),
        (3, 90),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    got = {
        (r.cohort_period, r.offset_periods): r.n_users
        for r in retention_cohorts(ev, "user_id", "ts", P).collect()
    }
    assert got == {
        (0, 0): 2,  # users 1 and 3 in their own period
        (0, 1): 1,
        (0, 3): 1,
        (1, 0): 1,
        (1, 1): 1,
    }


def test_session_transitions_gap_break(spark):
    """Bigrams count only within a session: the pair across the >gap
    boundary is dropped; repeated pairs accumulate."""
    from xesmf_spark.relational import session_transitions

    rows = [
        (1, 0, "a"), (1, 10, "b"), (1, 20, "a"),   # a->b, b->a
        (1, 1000, "b"), (1, 1010, "a"),             # gap: new session; b->a
        (2, 0, "a"), (2, 5, "b"),                   # a->b
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        (r.prev_type, r.next_type): r.n_transitions
        for r in session_transitions(ev, "user_id", "ts", "event_type", 100).collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 2}


def test_topk_per_group_matches_window(spark):
    """The partial-top-k monoid equals the plain window rank on a
    many-partition input with duplicate order values (ties broken by
    the tie column), and small groups return all their rows."""
    from pyspark.sql import Window as W

    from xesmf_spark.relational import topk_per_group

    rows = [(i, f"g{i % 5}", (i * 37) % 11) for i in range(400)]
    rows += [(1000, "tiny", 1)]  # group with < k rows
    df = spark.createDataFrame(rows, "id long, grp string, v long").repartition(7)
    got = topk_per_group(df, ["grp"], "v", 3, ["id"])
    w = W.partitionBy("grp").orderBy(F.col("v").desc(), F.col("id").asc())
    want = (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= 3)
    )
    g = {(r.grp, r.rank_in_group): (r.id, r.v) for r in got.collect()}
    e = {(r.grp, r.rank_in_group): (r.id, r.v) for r in want.collect()}
    assert g == e
    assert ("tiny", 1) in g and ("tiny", 2) not in g


def test_scd2_build_collapses_and_intervals(spark):
    """Consecutive duplicate attribute rows collapse; intervals chain
    valid_from -> valid_to with exactly one current version per key;
    NULL attributes compare null-safely."""
    from xesmf_spark.relational import scd2_build

    rows = [
        (1, 10, "x"), (1, 20, "x"), (1, 30, "y"), (1, 40, None),
        (1, 50, None), (1, 60, "x"),
        (2, 10, "z"),
    ]
    ch = spark.createDataFrame(rows, "k long, ts long, attr string")
    hist = scd2_build(ch, "k", "ts", ["attr"]).collect()
    h1 = sorted(
        [(r.valid_from, r.valid_to, r.attr, r.is_current) for r in hist if r.k == 1]
    )
    assert h1 == [
        (10, 30, "x", False),
        (30, 40, "y", False),
        (40, 60, None, False),
        (60, None, "x", True),
    ]
    h2 = [(r.valid_from, r.valid_to, r.attr, r.is_current) for r in hist if r.k == 2]
    assert h2 == [(10, None, "z", True)]
    for k in (1, 2):
        assert sum(1 for r in hist if r.k == k and r.is_current) == 1


def test_pagerank_integer_recurrence(spark):
    """The distributed plan reproduces the exact integer micro-unit
    recurrence computed by hand, including a dangling node (2 has no
    out-edges: its mass is redistributed uniformly, damped — the
    teleport correction — and it still receives base + in-flow)."""
    from xesmf_spark.relational import pagerank

    edges = [(0, 1), (0, 2), (1, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_micro for r in pagerank(e, iters=3, damp_micro=850_000).collect()}

    n, damp = 3, 850_000
    base = (1_000_000 - damp) // n
    outdeg = {0: 2, 1: 1}
    ranks = {v: 1_000_000 // n for v in (0, 1, 2)}
    for _ in range(3):
        dang = sum(r for v, r in ranks.items() if v not in outdeg)
        share = (dang * damp) // (1_000_000 * n)
        nxt = {v: base + share for v in ranks}
        for s, d in edges:
            nxt[d] += (ranks[s] * damp) // (1_000_000 * outdeg[s])
        ranks = nxt
    assert got == ranks


def test_pagerank_conserves_mass_with_dangling_nodes(spark):
    """Rank mass is conserved up to truncation remainders: with a
    dangling sink holding a large share, total rank after 3 iterations
    stays within a few micro-units of 1e6 (the old drop-the-mass
    behavior leaked ~dangling*0.85 per iteration — hundreds of
    thousands of micro-units on this graph)."""
    from xesmf_spark.relational import pagerank

    # star into a sink: 2 is dangling and accumulates most of the mass
    e = spark.createDataFrame(
        [(0, 2), (1, 2), (3, 2), (4, 2)], "src long, dst long"
    )
    rows = pagerank(e, iters=3, damp_micro=850_000).collect()
    total = sum(r.rank_micro for r in rows)
    # each division truncates < 1 micro-unit; |E| + 2N + 1 terms/iter
    assert 1_000_000 - 60 <= total <= 1_000_000
    sink = {r.node: r.rank_micro for r in rows}[2]
    assert sink > 400_000  # the sink holds, not leaks, the mass


def test_session_window_exact_gap_splits(spark):
    """F.session_window MERGES an event at exactly the gap distance
    (start <= previous end is inclusive) and splits only on a strictly
    greater gap — the boundary rule the events_session_window oracle
    replays."""
    GAP_US = 60 * 1_000_000  # 1 minute
    rows = [(1, 0), (1, GAP_US), (1, 2 * GAP_US + 10), (2, 5)]
    df = spark.createDataFrame(rows, "user_id long, tus long")
    g = (
        df.groupBy(
            "user_id", F.session_window(F.timestamp_micros("tus"), "1 minute")
        )
        .count()
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("s"),
            F.unix_micros("session_window.end").alias("e"),
            "count",
        )
    )
    got = {(r.user_id, r.s): (r.e, r["count"]) for r in g.collect()}
    assert got == {
        # exact-gap event MERGES: one session [0, 2*gap)
        (1, 0): (2 * GAP_US, 2),
        # strictly-greater gap splits
        (1, 2 * GAP_US + 10): (3 * GAP_US + 10, 1),
        (2, 5): (5 + GAP_US, 1),
    }


def test_unpivot_inverts_explicit_pivot(spark):
    df = spark.createDataFrame(
        [(0, "a"), (0, "a"), (1, "b")], "h long, t string"
    )
    wide = df.groupBy("h").pivot("t", ["a", "b"]).count()
    wide = wide.select(
        "h", *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in ("a", "b")]
    )
    long = wide.unpivot("h", ["a", "b"], "t", "n")
    got = {(r.h, r.t): r.n for r in long.collect()}
    assert got == {(0, "a"): 2, (0, "b"): 0, (1, "a"): 0, (1, "b"): 1}


def test_topk_per_group_null_ties_match_window(spark):
    """NULL tie values must survive the partial pass exactly as the
    window ranks them (ASC => NULLS FIRST): a null-tie row tied on the
    order column belongs IN the top-k."""
    from pyspark.sql import Window as W

    from xesmf_spark.relational import topk_per_group

    rows = [
        ("g", 10, None), ("g", 10, 1), ("g", 10, 2), ("g", 10, 3),
        ("g", 5, 0),
        ("h", 7, None), ("h", 9, None),
    ]
    df = spark.createDataFrame(rows, "grp string, v long, tie long").repartition(3)
    got = topk_per_group(df, ["grp"], "v", 2, ["tie"])
    w = W.partitionBy("grp").orderBy(F.col("v").desc(), F.col("tie").asc())
    want = (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= 2)
    )
    g = {(r.grp, r.rank_in_group): (r.v, r.tie) for r in got.collect()}
    e = {(r.grp, r.rank_in_group): (r.v, r.tie) for r in want.collect()}
    assert g == e
    assert g[("g", 1)] == (10, None)  # null tie ranks FIRST among ties


def test_pagerank_empty_graph(spark):
    from xesmf_spark.relational import pagerank

    out = pagerank(spark.createDataFrame([], "src long, dst long"))
    assert out.collect() == []


def test_concurrency_profile_matches_dense_timeline(spark):
    """The two-phase scan equals a brute-force dense-timeline count,
    including buckets receiving their concurrency purely as carry-in
    (an interval spanning several buckets) and the half-open tie rule
    (end == another's start never overlaps)."""
    from xesmf_spark.relational import concurrency_profile

    # bucket width 10; intervals chosen to exercise: overlap in one
    # bucket, a 3-bucket-spanning interval, an exact end==start tie,
    # and a bucket (2) whose only contribution is carry
    # (0, 10) ends EXACTLY on the bucket edge: bucket 1 must NOT count
    # it as active (half-open; its before-state belongs to bucket 0)
    iv = [(0, 4), (2, 9), (5, 35), (9, 12), (12, 14), (20, 25), (0, 10)]
    df = spark.createDataFrame(iv, "s long, e long")
    got = {
        r.bucket: r.max_concurrent
        for r in concurrency_profile(df, "s", "e", 10).collect()
    }
    # brute force over the dense integer timeline
    import collections

    cnt = collections.Counter()
    for s, e in iv:
        for t in range(s, e):
            cnt[t] += 1
    want = {}
    for t, c in cnt.items():
        b = t // 10
        want[b] = max(want.get(b, 0), c)
    # operator omits endpoint-free buckets; every bucket it DOES emit
    # must match the timeline max, and every endpoint-ful bucket must
    # be emitted
    endpoint_buckets = {p // 10 for s, e in iv for p in (s, e)}
    assert set(got) == endpoint_buckets
    for b, m in got.items():
        assert m == want[b], (b, m, want)
    # the half-open tie: at t=12 one interval ends and one starts —
    # bucket 1 (10..19) peaks at 2 (the spanning + one of them), not 3;
    # the edge-exact (0, 10) end contributes nothing to bucket 1
    assert got[1] == 2


def test_table_diff_statuses_and_null_safety(spark):
    """added/removed/changed/unchanged per key; NULL<=>NULL is
    unchanged, NULL vs value is changed; missing column rejected."""
    from xesmf_spark.relational import table_diff

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
        "k long, v string, x int",
    )
    right = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "C", 30), (4, "now", 40), (5, "new", 50)],
        "k long, v string, x int",
    )
    got = {r.k: r.diff_status for r in table_diff(left, right, "k").collect()}
    assert got == {
        1: "unchanged",
        2: "unchanged",   # NULL <=> NULL
        3: "changed",
        4: "changed",     # NULL vs value
        5: "added",
    }
    got2 = {r.k: r.diff_status for r in table_diff(right, left, "k").collect()}
    assert got2[5] == "removed"
    # compare_cols restriction: only v considered -> x divergence invisible
    l2 = spark.createDataFrame([(1, "a", 1)], "k long, v string, x int")
    r2 = spark.createDataFrame([(1, "a", 999)], "k long, v string, x int")
    assert table_diff(l2, r2, "k", compare_cols=["v"]).collect()[0].diff_status == "unchanged"

    import pytest as _pytest

    with _pytest.raises(KeyError):
        table_diff(left, right.drop("x"), "k")


def _lpa_brute(edges, iters):
    """Pure-Python twin of label_propagation: synchronous, neighbor
    votes + one self-vote, ties to the smallest label."""
    sym = set()
    for s, d in edges:
        sym.add((s, d))
        sym.add((d, s))
    nodes = sorted({s for s, _ in sym})
    nbrs = {n: [] for n in nodes}
    for s, d in sym:
        nbrs[s].append(d)
    labels = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            votes = {}
            for m in nbrs[n]:
                votes[labels[m]] = votes.get(labels[m], 0) + 1
            votes[labels[n]] = votes.get(labels[n], 0) + 1
            best = min(votes, key=lambda l: (-votes[l], l))
            new[n] = best
        labels = new
    return labels


def test_label_propagation_matches_brute_force(spark):
    from xesmf_spark.relational import label_propagation

    edges = [
        (1, 2), (2, 3), (3, 1), (3, 4),      # triangle + bridge
        (4, 5), (5, 6), (6, 4),              # second triangle
        (10, 11), (11, 12),                  # path component
        (20, 21),                            # isolated pair
    ]
    for iters in (1, 2, 3, 5):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(
                spark.createDataFrame(edges, "src long, dst long"), iters=iters
            ).collect()
        }
        assert got == _lpa_brute(edges, iters), f"iters={iters}"


def test_label_propagation_bipartite_does_not_oscillate(spark):
    """On a complete bipartite K(2,3) the self-vote must damp the
    classic synchronous two-coloring oscillation: labels converge to
    one community and then STAY fixed (iters=3 == iters=4)."""
    from xesmf_spark.relational import label_propagation

    edges = [(l, r) for l in (1, 2) for r in (10, 11, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(label_propagation(df, iters=3).collect())
    b = sorted(label_propagation(df, iters=4).collect())
    assert a == b
    assert len({r["label"] for r in a}) == 1


def _cc_brute(edges, iters):
    """Synchronous min-label propagation, plain Python."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    lbl = {n: n for n in adj}
    for _ in range(iters):
        lbl = {n: min([lbl[n]] + [lbl[m] for m in adj[n]]) for n in adj}
    return lbl


def test_connected_components_matches_brute_force(spark):
    """Converged case: iters >= diameter gives true components (the
    union-find answer); below that, the exact fixed-round contract —
    min node id within distance iters — for every round count."""
    from xesmf_spark.relational import connected_components

    edges = [
        (1, 2), (2, 3), (3, 1), (3, 4),      # triangle + bridge
        (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),  # long path
        (20, 21),                            # isolated pair
        (30, 31), (31, 30),                  # dup/reversed edges
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 2, 3, 6):
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, iters=iters).collect()
        }
        assert got == _cc_brute(edges, iters), f"iters={iters}"
    # converged (path diameter 5 <= 6): three true components
    got6 = {
        r["node"]: r["component"]
        for r in connected_components(df, iters=6).collect()
    }
    assert got6 == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 30: 30, 31: 30,
    }
    # degenerate: empty edge set -> empty result, no error
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty, iters=2).count() == 0


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in parent}


def test_connected_components_converged_matches_union_find(spark):
    """The shortcutting variant must reach TRUE components (union-find
    answer) — including on a 200-node path whose diameter (199) vastly
    exceeds the 25-round budget: plain min-propagation would still be
    propagating; pointer doubling must have converged."""
    from xesmf_spark.relational import connected_components_converged

    path = [(i, i + 1) for i in range(100, 300)]  # 201-node path
    extra = [(1, 2), (2, 3), (3, 1), (500, 501), (600, 600)]
    edges = path + extra
    got = {
        r["node"]: r["component"]
        for r in connected_components_converged(
            spark.createDataFrame(edges, "src long, dst long"), max_rounds=25
        ).collect()
    }
    want = _union_find(edges)
    # self-loop-only node 600: engine keeps it as a singleton component
    want[600] = 600
    assert got == want
    assert got[300] == 100  # far end of the path reached the min label


def test_triangle_count_matches_brute_force(spark):
    from itertools import combinations

    from xesmf_spark.relational import triangle_count

    # K4 (4 triangles) + a hub star (0 triangles) + pendant + a
    # triangle given in mixed directions / with duplicate edges
    edges = (
        list(combinations([1, 2, 3, 4], 2))
        + [(100, x) for x in range(200, 212)]
        + [(4, 5)]
        + [(20, 21), (22, 21), (20, 22), (21, 20)]
    )
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want = sum(
        1
        for tri in combinations(sorted(nodes), 3)
        if all(frozenset(p) in und for p in combinations(tri, 2))
    )
    assert want == 4 + 1  # K4 + the 20-21-22 triangle
    row = triangle_count(
        spark.createDataFrame(edges, "src long, dst long")
    ).collect()[0]
    assert row["n_triangles"] == want
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(und)


def test_triangle_closing_probe_strategies_agree(spark, monkeypatch):
    """The closing-edge probe picks broadcast-semi vs Bloom-pruned
    shuffled semi by the driver-measured edge count
    (TRIANGLE_BROADCAST_MAX_EDGES); both strategies must return
    identical results — triangles AND per-node coefficients."""
    from itertools import combinations

    from xesmf_spark import relational as R

    edges = (
        list(combinations([1, 2, 3, 4], 2))
        + [(100, x) for x in range(200, 212)]
        + [(4, 5)]
        + [(20, 21), (22, 21), (20, 22), (21, 20)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")

    def snap():
        tri = R.triangle_count(df).collect()[0].asDict()
        cc = sorted(tuple(r) for r in R.clustering_coefficient(df).collect())
        return tri, cc

    # default bound: tiny graph -> broadcast branch
    assert R.TRIANGLE_BROADCAST_MAX_EDGES > 100
    bcast = snap()
    # force the big-graph path: bloom-pruned shuffled semi join
    monkeypatch.setattr(R, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    bloomed = snap()
    assert bcast == bloomed
    assert bcast[0]["n_triangles"] == 5


def test_shared_neighbor_jaccard_scores_and_valve(spark):
    from xesmf_spark.relational import shared_neighbor_jaccard

    # 1,2 share {10, 11}; everyone shares hub 99. With the valve at 3,
    # hub 99 (degree 4 > 3) is excluded from candidate GENERATION —
    # pairs sharing ONLY the hub (e.g. (1,3)) are never emitted — but
    # for emitted pairs the score is the TRUE Jaccard: the
    # intersection is re-counted over the unfiltered edges, so the hub
    # DOES count in n_inter, and sizes are full degrees.
    edges = [
        (1, 10), (1, 11), (1, 99), (1, 13),
        (2, 10), (2, 11), (2, 99),
        (3, 12), (3, 99),
        (4, 12), (4, 99),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["src_a"], r["src_b"]): (
            r["n_inter"], r["n_a"], r["n_b"], r["jaccard_micro"]
        )
        for r in shared_neighbor_jaccard(
            df, max_neighbor_degree=3, min_inter=1
        ).collect()
    }
    # (1,2): generated via {10,11}; true inter {10,11,99} = 3 of
    # union 4+3-3=4. (3,4): generated via {12}; true inter {12,99}=2
    # of union 2. (1,3),(1,4),(2,3),(2,4) share only the hub: absent.
    assert got == {
        (1, 2): (3, 4, 3, 750000),
        (3, 4): (2, 2, 2, 1000000),
    }
    # without the valve, the hub joins candidate generation: every pair
    # appears, with the same true intersections
    got_all = {
        (r["src_a"], r["src_b"]): (r["n_inter"], r["jaccard_micro"])
        for r in shared_neighbor_jaccard(
            df, max_neighbor_degree=1000, min_inter=1
        ).collect()
    }
    assert got_all[(1, 2)] == (3, 750000)
    assert got_all[(1, 3)] == (1, 200000)
    assert got_all[(2, 3)] == (1, 250000)
    assert len(got_all) == 6


def test_clustering_coefficient_matches_brute_force(spark):
    from itertools import combinations

    from xesmf_spark.relational import clustering_coefficient

    # K4 + bridge to a pendant + a square (4-cycle: triangles 0 but
    # degree 2 everywhere) + degree-1 node
    edges = (
        list(combinations([1, 2, 3, 4], 2))
        + [(4, 5)]
        + [(10, 11), (11, 12), (12, 13), (13, 10)]
    )
    und = {frozenset(e) for e in edges}
    nodes = sorted({n for e in und for n in e})
    nbrs = {n: {m for e in und for m in e if n in e and m != n} for n in nodes}
    want = {}
    for n in nodes:
        d = len(nbrs[n])
        t = sum(
            1 for a, b in combinations(sorted(nbrs[n]), 2) if frozenset((a, b)) in und
        )
        want[n] = (d, t, (2_000_000 * t) // (d * (d - 1)) if d >= 2 else 0)
    got = {
        r["node"]: (r["deg"], r["n_tri"], r["coeff_micro"])
        for r in clustering_coefficient(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got == want
    assert got[1] == (3, 3, 1_000_000)   # K4 member: fully clustered
    assert got[4] == (4, 3, 500_000)     # K4 member + pendant bridge
    assert got[10] == (2, 0, 0)          # square: no triangles
    assert got[5] == (1, 0, 0)           # pendant: no wedge capacity


def _kcore_brute(edges, k, iters):
    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    active = sym
    for _ in range(iters):
        deg = {}
        for s, _ in active:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, c in deg.items() if c >= k}
        active = {(s, d) for s, d in active if s in keep and d in keep}
    out = {}
    for s, _ in active:
        out[s] = out.get(s, 0) + 1
    return out


def test_kcore_matches_brute_force(spark):
    from itertools import combinations

    from xesmf_spark.relational import kcore_nodes

    # K4 core + a chain of pendants hanging off it (peels over several
    # rounds: 7 needs 6 gone, 6 needs 5 gone, ...) + a triangle that
    # k=3 must dissolve entirely
    edges = (
        list(combinations([1, 2, 3, 4], 2))
        + [(4, 5), (5, 6), (6, 7)]
        + [(10, 11), (11, 12), (12, 10)]
    )
    for k, iters in [(2, 1), (2, 3), (3, 1), (3, 2), (3, 4)]:
        want = _kcore_brute(edges, k, iters)
        got = {
            r["node"]: r["deg"]
            for r in kcore_nodes(
                spark.createDataFrame(edges, "src long, dst long"), k=k, iters=iters
            ).collect()
        }
        assert got == want, f"k={k} iters={iters}"
    # the K4 survives k=3 peeling exactly
    got = _kcore_brute(edges, 3, 4)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_graph_ops_degenerate_inputs(spark):
    """Empty / sub-threshold graphs must degrade to empty or zeroed
    results, not errors — the guards a pipeline composing these ops
    on filtered edge sets relies on."""
    from xesmf_spark.relational import (
        connected_components,
        connected_components_converged,
        kcore_nodes,
        label_propagation,
        pagerank_weighted,
        shared_neighbor_jaccard,
        shortest_paths,
        triangle_count,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    row = triangle_count(empty).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (0, 0, 0)

    # self-loops are dropped entirely
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    row = triangle_count(loops).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (0, 0, 0)

    # k above every degree peels the whole graph away
    tri = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    assert kcore_nodes(tri, k=5, iters=2).count() == 0

    # min_inter above the max shared-neighbor count yields no pairs
    bip = spark.createDataFrame([(1, 10), (2, 10)], "src long, dst long")
    assert shared_neighbor_jaccard(bip, min_inter=2).count() == 0
    assert shared_neighbor_jaccard(bip, min_inter=1).count() == 1

    # empty edge lists through the iterative operators: no nodes, and a
    # source reaches only itself
    assert label_propagation(empty).count() == 0
    assert connected_components(empty).count() == 0
    assert connected_components_converged(empty).count() == 0
    empty_w = spark.createDataFrame([], "src long, dst long, w long")
    src = spark.createDataFrame([(1,)], "node long")
    assert [tuple(r) for r in shortest_paths(empty_w, src, iters=2).collect()] == [
        (1, 0)
    ]
    pw = pagerank_weighted(empty_w)
    assert pw.columns == ["node", "rank_micro"] and pw.count() == 0


_PIN_RELEASE_EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10)]


def _pin_release_call(spark, name):
    from xesmf_spark import pipeline as P
    from xesmf_spark import relational as R

    if name == "dedup_groups":
        pairs = spark.createDataFrame(_PIN_RELEASE_EDGES, "id_a long, id_b long")
        return P.dedup_groups(pairs)
    if name == "shortest_paths":
        weighted = spark.createDataFrame(
            [(a, b, a + b) for a, b in _PIN_RELEASE_EDGES],
            "src long, dst long, w long",
        )
        sources = spark.createDataFrame([(1,), (10,)], "node long")
        return R.shortest_paths(weighted, sources, iters=4)
    edges = spark.createDataFrame(_PIN_RELEASE_EDGES, "src long, dst long")
    return getattr(R, name)(edges)


@pytest.mark.parametrize(
    "name",
    [
        "label_propagation",
        "connected_components",
        "connected_components_converged",
        "shortest_paths",
        "dedup_groups",
    ],
)
def test_graph_loops_release_their_edge_pins(spark, monkeypatch, name):
    """The iterative graph operators hold their edge list cached only
    while their eager per-round checkpoints read it: each returns with
    the registry at its prior depth and nothing it persisted still
    cached, and its result does not depend on the cache."""
    from xesmf_spark import materialize

    cls = type(spark.range(1))
    persisted = []
    persist = cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording_persist)
    depth = materialize.mark()
    out = _pin_release_call(spark, name)
    assert materialize.mark() == depth
    assert persisted
    for df in persisted:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
    before = sorted(tuple(r) for r in out.collect())
    spark.catalog.clearCache()
    assert sorted(tuple(r) for r in out.collect()) == before
    assert before


def test_shortest_paths_matches_dijkstra(spark):
    """Fixed-iteration multi-source Bellman-Ford vs a brute-force
    Dijkstra on a fuzzed weighted graph: with iters >= n the relaxed
    table must equal true distances from the nearest source; at small
    iters it must equal the <= iters-hop optimum (checked by a
    hop-bounded reference); directed vs undirected both exercised."""
    import random

    from xesmf_spark.relational import shortest_paths

    rng = random.Random(31)
    n = 40
    edges = []
    for _ in range(120):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.append((a, b, rng.randint(1, 20)))
    sources = [0, 7]

    def ref_dists(directed, max_hops):
        adj: dict[int, list[tuple[int, int]]] = {}
        for a, b, w in edges:
            adj.setdefault(a, []).append((b, w))
            if not directed:
                adj.setdefault(b, []).append((a, w))
        # Bellman-Ford with hop bound (handles the <= iters-hop contract)
        INF = float("inf")
        dist = {v: (0 if v in sources else INF) for v in range(n)}
        for _ in range(max_hops):
            nxt = dict(dist)
            for a, nbrs in adj.items():
                if dist[a] == INF:
                    continue
                for b, w in nbrs:
                    if dist[a] + w < nxt[b]:
                        nxt[b] = dist[a] + w
            dist = nxt
        return {v: d for v, d in dist.items() if d != INF}

    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in sources], "src long")
    for directed in (False, True):
        for iters in (2, n):
            got = {
                r.node: r.dist
                for r in shortest_paths(
                    edf, sdf, iters=iters, directed=directed
                ).collect()
            }
            assert got == ref_dists(directed, iters), (directed, iters)
    # parallel-edge collapse: duplicate heavier edges must not matter
    dup = spark.createDataFrame(
        edges + [(a, b, w + 5) for a, b, w in edges], "src long, dst long, w long"
    )
    got = {r.node: r.dist for r in shortest_paths(dup, sdf, iters=n).collect()}
    assert got == ref_dists(False, n)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iters"):
        shortest_paths(edf, sdf, iters=0)


def test_hits_matches_local_replay(spark):
    """HITS: the two-half-step integer recurrence equals a direct dict
    replay; the hub/authority split lands where the topology says
    (pure source = hub only, sink with max in-links = top authority);
    L1 mass ~1e6 per vector up to truncation."""
    from xesmf_spark.relational import hits

    edges = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 5)]
    edf = spark.createDataFrame(edges, "src long, dst long")

    def replay(iters):
        nodes = sorted({u for e in edges for u in e})
        h = {v: 1_000_000 // len(nodes) for v in nodes}
        a = None
        for _ in range(iters):
            raw = {v: sum(h[u] for u, w in edges if w == v) for v in nodes}
            tot = sum(raw.values())
            a = {v: raw[v] * 1_000_000 // tot for v in nodes}
            raw = {v: sum(a[w] for u, w in edges if u == v) for v in nodes}
            tot = sum(raw.values())
            h = {v: raw[v] * 1_000_000 // tot for v in nodes}
        return {v: (a[v], h[v]) for v in nodes}

    for iters in (1, 3):
        got = {
            r["node"]: (r["auth_micro"], r["hub_micro"])
            for r in hits(edf, iters=iters).collect()
        }
        assert got == replay(iters)
    final = replay(3)
    # topology: node 1 never receives -> auth 0; node 5 never sends ->
    # hub 0; node 3 (3 in-edges) is the max authority
    assert final[1][0] == 0 and final[5][1] == 0
    assert max(final, key=lambda v: final[v][0]) == 3
    # L1 normalization: each vector sums to 1e6 minus truncation dust
    s_a = sum(v[0] for v in final.values())
    s_h = sum(v[1] for v in final.values())
    assert 1_000_000 - 5 <= s_a <= 1_000_000
    assert 1_000_000 - 5 <= s_h <= 1_000_000


def test_hits_empty_and_validation(spark):
    from xesmf_spark.relational import hits
    import pytest as _pytest

    empty = spark.createDataFrame([], "src long, dst long")
    assert hits(empty, iters=2).count() == 0
    edf = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="iters"):
        hits(edf, iters=0)


def test_pagerank_weighted_matches_replay_and_weight_sensitivity(spark):
    """pagerank_weighted: equals a local dict replay of the pinned
    divide-then-multiply recurrence; a heavy edge pulls rank toward
    its target vs the uniform variant; parallel edges pre-collapse."""
    from xesmf_spark.relational import pagerank_weighted

    # 1 -> 2 (weight 9), 1 -> 3 (weight 1) — split twice to test the
    # parallel-edge SUM collapse; 2 -> 1, 3 -> 1 close the loop
    edges = [(1, 2, 4), (1, 2, 5), (1, 3, 1), (2, 1, 1), (3, 1, 1)]
    edf = spark.createDataFrame(edges, "src long, dst long, w long")

    def replay(iters=3, damp=850_000):
        from collections import defaultdict

        ew = defaultdict(int)
        for s, d, w in edges:
            ew[(s, d)] += w
        nodes = sorted({u for e in edges for u in e[:2]})
        wout = defaultdict(int)
        for (s, d), w in ew.items():
            wout[s] += w
        n = len(nodes)
        base = (1_000_000 - damp) // n
        r = {v: 1_000_000 // n for v in nodes}
        for _ in range(iters):
            dang = sum(r[v] for v in nodes if v not in wout)
            nr = {}
            for v in nodes:
                inc = sum(
                    ((r[s] * damp) // 1_000_000) * w // wout[s]
                    for (s, d), w in ew.items()
                    if d == v
                )
                nr[v] = base + inc + (dang * damp) // (1_000_000 * n)
            r = nr
        return r

    got = {
        r["node"]: r["rank_micro"] for r in pagerank_weighted(edf, iters=3).collect()
    }
    assert got == replay()
    # node 2 (weight-9 target) far outranks node 3 (weight-1 target)
    assert got[2] > 3 * got[3]


def test_pagerank_weighted_rejects_nonpositive_weights(spark):
    """Non-positive or NULL collapsed weights would silently vanish
    rank mass through NULL `div` shares — the op gates loudly instead
    (ADVICE r12)."""
    from xesmf_spark.relational import pagerank_weighted
    import pytest as _pytest

    zero = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 0)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="non-positive"):
        pagerank_weighted(zero)
    # weights that cancel under the parallel-edge SUM collapse
    cancel = spark.createDataFrame(
        [(1, 2, 5), (1, 2, -5), (2, 1, 1)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="non-positive"):
        pagerank_weighted(cancel)
    null_w = spark.createDataFrame(
        [(1, 2, None), (2, 1, 1)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="NULL or non-positive"):
        pagerank_weighted(null_w)


def test_pagerank_raise_paths_release_their_pins(spark, monkeypatch):
    """The raise paths of pagerank_weighted (non-positive weight) and
    pagerank_personalized (empty seeds) leave the materialize registry
    at its prior depth and nothing they pinned still cached."""
    import pytest as _pytest

    from xesmf_spark import materialize
    from xesmf_spark import relational as R

    pinned = []

    def recording_pin(df):
        pinned.append(materialize.pin(df))
        return df

    monkeypatch.setattr(R, "pin", recording_pin)
    bad_w = spark.createDataFrame(
        [(11, 12, 3), (12, 11, -3)], "src long, dst long, w long"
    )
    edf = spark.createDataFrame([(21, 22), (22, 23)], "src long, dst long")
    no_seeds = spark.createDataFrame([], "node long")
    for call, match in (
        (lambda: R.pagerank_weighted(bad_w), "non-positive"),
        (lambda: R.pagerank_personalized(edf, no_seeds), "empty seed"),
    ):
        depth = materialize.mark()
        pinned.clear()
        with _pytest.raises(ValueError, match=match):
            call()
        assert materialize.mark() == depth
        assert pinned
        for df in pinned:
            lvl = df.storageLevel
            assert not (lvl.useMemory or lvl.useDisk)


def test_skyline_matches_bruteforce_and_keeps_ties(spark):
    """skyline: equals the O(n^2) strict-dominance brute force on a
    mixed max/min criterion set; identical criterion vectors all
    survive; the multi-batch path (repartition) changes nothing."""
    from xesmf_spark.relational import skyline

    pts = [
        (1, 10.0, 5),  # frontier (cheapest)
        (2, 10.0, 5),  # exact tie of 1 -> survives too
        (3, 20.0, 9),  # frontier
        (4, 20.0, 7),  # dominated by 3 (same price, smaller size)
        (5, 30.0, 9),  # dominated by 3 (same size, pricier)
        (6, 40.0, 12),  # frontier (biggest)
        (7, 15.0, 4),  # dominated by 1 (pricier, smaller)
    ]
    df = spark.createDataFrame(pts, "id long, price double, size int")

    def brute(rows):
        out = []
        for p in rows:
            dom = any(
                q[1] <= p[1]
                and q[2] >= p[2]
                and (q[1] < p[1] or q[2] > p[2])
                for q in rows
            )
            if not dom:
                out.append(p[0])
        return sorted(out)

    exp = brute(pts)
    got = sorted(
        r["id"]
        for r in skyline(df, maximize=["size"], minimize=["price"]).collect()
    )
    assert got == exp == [1, 2, 3, 6]
    got8 = sorted(
        r["id"]
        for r in skyline(
            df.repartition(8), maximize=["size"], minimize=["price"]
        ).collect()
    )
    assert got8 == exp
    import pytest

    with pytest.raises(ValueError, match="criterion"):
        skyline(df)
    withnull = spark.createDataFrame(
        [(1, None, 2)], "id long, price double, size int"
    )
    with pytest.raises(Exception, match="NULL/NaN"):
        skyline(withnull, minimize=["price"], maximize=["size"]).collect()


def test_basket_rules_matches_local_replay(spark):
    """basket_rules: support/conf/lift equal the exact integer replay;
    duplicate (basket, item) rows collapse; min support filters."""
    from xesmf_spark.relational import basket_rules

    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # dup (1,b) must collapse
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "c"),
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, "basket_id long, item string")
    got = {
        (r["item_a"], r["item_b"]): (r["support"], r["conf_micro"], r["lift_micro"])
        for r in basket_rules(df, min_pair_support=2).collect()
    }
    # item counts: a=4, b=3, c=2; N=5; pairs>=2: (a,b) & (b,a) sup 2
    assert got == {
        ("a", "b"): (2, (1_000_000 * 2) // 4, (1_000_000 * 2 * 5) // (4 * 3)),
        ("b", "a"): (2, (1_000_000 * 2) // 3, (1_000_000 * 2 * 5) // (3 * 4)),
    }


def test_sequential_patterns_contiguous_runs(spark):
    """sequential_patterns: adjacent runs only (no gapped
    subsequences), support counts distinct sessions, occurrences count
    raw runs, min_support filters, ordering pinned by the tiebreaker."""
    from xesmf_spark.relational import sequential_patterns

    rows = [
        # session 1: a b a b  -> a>b x2, b>a x1, a>b>a, b>a>b
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        # session 2: a b c    -> a>b, b>c, a>b>c
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
        # session 3: a c b    -> a>c, c>b, a>c>b (b NOT adjacent to a)
        (3, 1, "a"), (3, 2, "c"), (3, 3, "b"),
    ]
    df = spark.createDataFrame(rows, "s long, t long, item string")
    got = {
        r["pattern"]: (r["length"], r["support"], r["n_occurrences"])
        for r in sequential_patterns(
            df, "s", ["t"], "item", max_len=3, min_support=2
        ).collect()
    }
    assert got["a>b"] == (2, 2, 3)  # sessions 1 (x2) and 2
    assert "b>a" not in got  # support 1 < 2
    assert "a>b>c" not in got  # support 1
    assert set(got) == {"a>b"}
    full = {
        r["pattern"]: (r["support"], r["n_occurrences"])
        for r in sequential_patterns(
            df, "s", ["t"], "item", max_len=3, min_support=1
        ).collect()
    }
    assert full["a>b>a"] == (1, 1) and full["a>c>b"] == (1, 1)
    assert full["b>a"] == (1, 1)
    import pytest

    with pytest.raises(ValueError, match="max_len"):
        sequential_patterns(df, "s", ["t"], "item", max_len=1)


def test_pagerank_personalized_matches_replay_and_concentrates(spark):
    """pagerank_personalized: equals a local dict replay of the pinned
    recurrence (teleport + dangling mass on seeds only); rank
    concentrates near the seed set; unreachable non-seeds stay 0;
    empty seeds raise."""
    from xesmf_spark.relational import pagerank_personalized
    import pytest as _pytest

    # 1 -> 2 -> 3 (3 dangling), isolated 9 unreachable from the seed
    edges = [(1, 2), (2, 3), (9, 8)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")

    def replay(iters=3, damp=850_000):
        nodes = sorted({u for e in edges for u in e} | {1})
        out = {}
        for s, d in edges:
            out.setdefault(s, []).append(d)
        S = {1}
        r = {v: (1_000_000 // len(S) if v in S else 0) for v in nodes}
        tele = (1_000_000 - damp) // len(S)
        for _ in range(iters):
            dang = sum(r[v] for v in nodes if v not in out)
            nr = {}
            for v in nodes:
                inc = sum(
                    ((r[s] * damp) // 1_000_000) // len(out[s])
                    for s in out
                    if v in out[s]
                )
                nr[v] = (
                    (tele if v in S else 0)
                    + inc
                    + (((dang * damp) // 1_000_000) // len(S) if v in S else 0)
                )
            r = nr
        return r

    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_personalized(edf, seeds, iters=3).collect()
    }
    assert got == replay()
    assert got[1] > got[2] > got[3] > 0
    assert got[9] == 0 and got[8] == 0  # unreachable from the seed
    with _pytest.raises(ValueError, match="empty seed"):
        pagerank_personalized(
            edf, spark.createDataFrame([], "node long")
        )


def test_skyline_three_criteria_and_single_dim(spark):
    """skyline generalizes beyond 2-D: 3-criterion frontier matches
    brute force; a single maximize criterion reduces to the max-set."""
    from xesmf_spark.relational import skyline

    pts = [
        (1, 1.0, 5, 100),
        (2, 2.0, 5, 100),   # dominated by 1 (worse price, equal rest)
        (3, 1.0, 9, 50),    # frontier (best size)
        (4, 1.5, 7, 120),   # frontier (best qual)
        (5, 1.0, 5, 100),   # tie of 1 -> survives
        (6, 3.0, 4, 40),    # dominated by everyone relevant
    ]
    df = spark.createDataFrame(pts, "id long, price double, size int, qual int")

    def brute(rows):
        out = []
        for p in rows:
            dom = any(
                q[1] <= p[1] and q[2] >= p[2] and q[3] >= p[3]
                and (q[1] < p[1] or q[2] > p[2] or q[3] > p[3])
                for q in rows
            )
            if not dom:
                out.append(p[0])
        return sorted(out)

    got = sorted(
        r["id"]
        for r in skyline(
            df, maximize=["size", "qual"], minimize=["price"]
        ).collect()
    )
    assert got == brute(pts) == [1, 3, 4, 5]
    # 1-D: frontier of a single maximize column = all rows attaining max
    one = sorted(
        r["id"] for r in skyline(df, maximize=["qual"]).collect()
    )
    assert one == [4]
    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        skyline(df, maximize=["size"], minimize=["size"])


def test_basket_rules_min_support_one_and_self_pairs_excluded(spark):
    """basket_rules: min_pair_support=1 emits every co-occurring
    ordered pair exactly once per direction; items never pair with
    themselves; singleton baskets emit nothing."""
    from xesmf_spark.relational import basket_rules

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "basket_id long, item string"
    )
    got = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in basket_rules(df, min_pair_support=1).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1}
    import pytest

    with pytest.raises(ValueError, match="min_pair_support"):
        basket_rules(df, min_pair_support=0)


def test_skyline_int64_exact_above_2e53_and_mixed_gate(spark):
    """r13 ADVICE: all-integral criteria must compare in int64 — in
    float64, 2^53 and 2^53+1 collapse to the same value and the
    genuinely non-dominated row is falsely pruned (phase 2 never
    restores).  Mixed int/float criteria with an integral column past
    2^53 must refuse loudly instead of comparing inexactly."""
    import pytest as _pytest

    from xesmf_spark.relational import skyline

    big = 2**53
    # a wins on c1 by exactly 1 ulp-of-int (invisible in float64),
    # b wins on c2 -> NEITHER dominates; both must survive
    df = spark.createDataFrame(
        [(1, big + 1, 1), (2, big, 2)], "id long, c1 long, c2 long"
    )
    got = {r.id for r in skyline(df, maximize=["c1", "c2"]).collect()}
    assert got == {1, 2}

    mixed = spark.createDataFrame(
        [(1, big + 1, 1.0), (2, big, 2.0)], "id long, c1 long, c2 double"
    )
    with _pytest.raises(Exception, match="2\\^53"):
        skyline(mixed, maximize=["c1", "c2"]).collect()


def test_skyline_anticorrelated_valve_is_loud(spark):
    """r13 verdict task: perfectly anti-correlated criteria make the
    frontier O(n).  The operator must (a) still be CORRECT when the
    valve admits it, and (b) raise loudly — naming the measured
    candidate count — when the frontier exceeds max_candidates,
    never silently broadcast an input-sized candidate set."""
    import pytest as _pytest

    from xesmf_spark.relational import skyline

    n = 400
    rows = [(i, i, n - i) for i in range(n)]  # y = -x: all non-dominated
    df = spark.createDataFrame(rows, "id long, x long, y long").repartition(8)
    assert skyline(df, maximize=["x", "y"]).count() == n
    with _pytest.raises(ValueError, match="max_candidates"):
        skyline(df, maximize=["x", "y"], max_candidates=100)


def test_basket_rules_lift_decimal_matches_bigint_past_wrap(spark):
    """r13 ADVICE: the lift numerator 1e6*support*N wraps BIGINT at
    N ~ 3e6 baskets.  Pin the DECIMAL(38,0) expression now used by
    basket_rules to Python-bigint division at magnitudes where the
    old BIGINT arithmetic wrapped (N = 9e12)."""
    s, N, na, nb = 3_000_000_000, 9_000_000_000_000, 4_000_000_000_000, 5_000_000_000_000
    got = spark.sql(
        f"SELECT CAST((CAST(1000000 AS DECIMAL(38,0)) * {s}L * {N}L) "
        f"div (CAST({na} AS DECIMAL(38,0)) * {nb}L) AS BIGINT) AS lift"
    ).first().lift
    assert got == (1_000_000 * s * N) // (na * nb)
    # and the old pure-BIGINT formula genuinely fails there: silent
    # wrap under non-ANSI, ARITHMETIC_OVERFLOW under ANSI — either way
    # not the exact quotient the decimal path now returns
    try:
        wrapped = spark.sql(
            f"SELECT (1000000L * {s}L * {N}L) div ({na}L * {nb}L) AS lift"
        ).first().lift
    except Exception:
        wrapped = None  # ANSI mode: long overflow raises
    assert wrapped != (1_000_000 * s * N) // (na * nb)


def test_attribution_models_conserve_and_window(spark):
    """Attribution contract: per conversion, linear credits sum to
    EXACTLY 1000*cents (remainder on the last touch), first/last each
    land 1000*cents on exactly one touch, touches outside the lookback
    window or after the conversion credit nothing, ties break by
    event id."""
    from datetime import datetime as DT

    from xesmf_spark.relational import attribution

    rows = [
        # user 1: three touches then a purchase of 10.01
        (1, DT(2024, 1, 1, 10), 1, "view", 0.0),
        (2, DT(2024, 1, 2, 10), 1, "click", 0.0),
        (3, DT(2024, 1, 2, 10), 1, "view", 0.0),   # ts tie with id 2
        (4, DT(2024, 1, 3, 10), 1, "purchase", 10.01),
        # user 1: stale touch (outside 7d of the 2nd purchase), then buy
        (5, DT(2024, 2, 1, 10), 1, "purchase", 5.00),
        # user 2: touch AFTER purchase — no credit
        (6, DT(2024, 1, 5, 10), 2, "purchase", 3.00),
        (7, DT(2024, 1, 6, 10), 2, "click", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = attribution(df, "purchase", ["view", "click"], lookback_days=7).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r.conv_id, []).append(r)
    assert set(by_conv) == {4}, by_conv  # conv 5 has no in-window touch; 6 none before
    got = sorted(by_conv[4], key=lambda r: r.touch_rank)
    assert [r.touch_id for r in got] == [1, 2, 3]  # tie (2,3) by id
    cents = 1001
    assert sum(r.credit_linear_milli for r in got) == 1000 * cents
    assert [r.credit_first_milli for r in got] == [1000 * cents, 0, 0]
    assert [r.credit_last_milli for r in got] == [0, 0, 1000 * cents]
    base = (1000 * cents) // 3
    assert [r.credit_linear_milli for r in got] == [
        base, base, 1000 * cents - 2 * base
    ]


def test_attribution_zero_value_and_single_touch(spark):
    """Edge: a zero-value conversion credits exact zeros (no NULLs);
    a single-touch conversion gets all three models' full credit on
    that one touch (first == last == linear)."""
    from datetime import datetime as DT

    from xesmf_spark.relational import attribution

    df = spark.createDataFrame(
        [
            (1, DT(2024, 1, 1), 1, "view", 0.0),
            (2, DT(2024, 1, 2), 1, "purchase", 0.0),     # zero value
            (3, DT(2024, 2, 1), 2, "click", 0.0),
            (4, DT(2024, 2, 2), 2, "purchase", 7.25),    # single touch
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = attribution(df, "purchase", ["view", "click"]).collect()
    z = [r for r in rows if r.conv_id == 2][0]
    assert (z.credit_first_milli, z.credit_last_milli, z.credit_linear_milli) == (0, 0, 0)
    s = [r for r in rows if r.conv_id == 4][0]
    want = 1000 * 725
    assert (s.credit_first_milli, s.credit_last_milli, s.credit_linear_milli) == (
        want, want, want
    )


def test_dense_rank_distributed_matches_global(spark):
    """dense_rank_distributed == the single-window global dense rank
    on a multi-key fixture with heavy ties, independent of partition
    count; empty cols rejected."""
    import random

    import pytest as _pytest

    from xesmf_spark.relational import dense_rank_distributed

    random.seed(3)
    rows = [(random.randint(0, 50), random.randint(0, 5)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "a long, b long")
    vals = sorted(set(rows))
    want = {v: i + 1 for i, v in enumerate(vals)}
    for parts in (1, 7):
        out = dense_rank_distributed(df.repartition(parts), ["a", "b"], "rk")
        assert all(want[(r.a, r.b)] == r.rk for r in out.collect())
    assert dense_rank_distributed(df.limit(0), ["a", "b"], "rk").collect() == []
    with _pytest.raises(ValueError, match="cols"):
        dense_rank_distributed(df, [])


def test_dense_rank_distributed_orders_nulls_nans_and_strings_like_spark(spark):
    """The range boundaries are sorted on the driver; the ranks must
    still follow Spark's own ascending order, where NULL sorts first,
    NaN after every number and strings by code point."""
    import random

    from pyspark.sql import Window

    from xesmf_spark.relational import dense_rank_distributed

    random.seed(11)
    words = ["", "a", "ab", "b", "Z", "é", "ß", "zz", None]
    nums = [None, float("nan"), -0.0, 0.0, -1.5, 2.25, 1e300, -1e300]
    rows = [(random.choice(words), random.choice(nums), random.randint(0, 40)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "s string, x double, n long")
    cols = ["x", "s", "n"]
    want = df.withColumn("rk", F.dense_rank().over(Window.orderBy(*cols)))
    got = dense_rank_distributed(df, cols, "rk")
    key = lambda r: (repr(r.s), repr(r.x), r.n, r.rk)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_dense_rank_distributed_survives_a_cleared_cache(spark):
    """The ranks do not depend on the pinned intermediate: with the
    cache cleared between the call and the collect, both of its
    consumers re-execute an input whose rows land in different
    partitions each time, and every row still survives with its
    global dense rank."""
    import random

    from xesmf_spark.relational import dense_rank_distributed

    shuffled = F.udf(lambda _: random.random(), "double").asNondeterministic()
    random.seed(5)
    rows = [(random.randint(0, 400), random.randint(0, 3)) for _ in range(3000)]
    df = (
        spark.createDataFrame(rows, "a long, b long")
        .withColumn("__r", shuffled("a"))
        .repartition(4, "__r")
        .drop("__r")
    )
    want = {v: i + 1 for i, v in enumerate(sorted(set(rows)))}
    # each consumer runs the input's shuffle itself (no exchange reuse),
    # and small shuffles keep all their partitions (no coalescing)
    confs = {"spark.sql.exchange.reuse": "false", "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        ranked = dense_rank_distributed(df, ["a", "b"], "rk")
        spark.catalog.clearCache()
        got = ranked.collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(got) == len(rows)
    assert all(want[(r.a, r.b)] == r.rk for r in got)


def test_suffix_ranks_matches_string_sort(spark):
    """suffix_ranks (prefix doubling) == brute-force lexicographic
    dense rank of the k-char suffix prefixes, across docs, including
    short suffixes (matching shorter prefix sorts first) and repeated
    substrings (banana's overlapping 'ana's); non-power-of-two k
    rejected."""
    import pytest as _pytest

    from xesmf_spark.relational import suffix_ranks

    docs = [(1, "banana"), (2, "bandana"), (3, "a"), (4, "nan"), (5, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # k <= 16 exercises the substring-seed-only path (w0 = k, no
    # doubling); k = 16 is the exact seed boundary; k = 32 exercises
    # seed-16 + one doubling round
    for k in (1, 4, 8, 16, 32):
        got = {(r.id, r.pos): r.rank for r in suffix_ranks(df, k=k).collect()}
        sufs = [
            (t[p : p + k], d, p)
            for d, t in docs
            if t
            for p in range(len(t))
        ]
        rk = {s: i + 1 for i, s in enumerate(sorted(set(s for s, *_ in sufs)))}
        assert got == {(d, p): rk[s] for s, d, p in sufs}, k
    with _pytest.raises(ValueError, match="power of two"):
        suffix_ranks(df, k=6)


def test_longest_repeats_matches_brute_force(spark):
    """longest_repeats == brute-force adjacent-suffix LCP over the
    string-sorted suffix list, including cross-doc repeats, the
    identical-tail clamp ('banana banana' overlaps), and the total-
    order tie cut."""
    from xesmf_spark.relational import longest_repeats

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox leaps over a sleepy dog"),
        (3, "mississippi"),
        (4, "banana banana"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.lcp, r.a_id, r.a_pos, r.b_id, r.b_pos)
        for r in longest_repeats(df, top_k=8).collect()
    ]
    sufs = sorted(
        (t[p:], d, p) for d, t in docs for p in range(len(t))
    )

    def lcp(x, y):
        n = 0
        for a, b in zip(x, y):
            if a != b:
                break
            n += 1
        return n

    pairs = sorted(
        (
            (lcp(s1, s2), d1, p1, d2, p2)
            for (s1, d1, p1), (s2, d2, p2) in zip(sufs, sufs[1:])
        ),
        key=lambda t: (-t[0], t[1], t[2], t[3], t[4]),
    )
    assert got == pairs[:8]
    # sanity: ' quick brown fox ' spans docs 1 and 2 (17 chars)
    assert got[0][0] >= 17


def test_longest_repeats_random_ab_corpus_and_storage_hygiene(spark):
    """Seeded fuzz on a repeat-dense two-letter alphabet (maximal
    stress for the identical-tail clamp and rank-tie handling), plus
    the storage contract: the op must leave the materialize registry
    at its prior depth and its own checkpoint directory free of files."""
    import os
    import random

    from xesmf_spark import materialize
    from xesmf_spark.relational import longest_repeats

    rng = random.Random(1507)
    docs = [
        (d, "".join(rng.choice("ab") for _ in range(rng.randint(1, 60))))
        for d in range(8)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    depth = materialize.mark()
    got = [
        (r.lcp, r.a_id, r.a_pos, r.b_id, r.b_pos)
        for r in longest_repeats(df, top_k=12).collect()
    ]

    sufs = sorted((t[p:], d, p) for d, t in docs for p in range(len(t)))

    def lcp(x, y):
        n = 0
        for a, b in zip(x, y):
            if a != b:
                break
            n += 1
        return n

    pairs = sorted(
        (
            (lcp(s1, s2), d1, p1, d2, p2)
            for (s1, d1, p1), (s2, d2, p2) in zip(sufs, sufs[1:])
        ),
        key=lambda t: (-t[0], t[1], t[2], t[3], t[4]),
    )
    assert got == pairs[:12]

    # storage contract — the hygiene regression lock
    assert materialize.mark() == depth
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is not None and "xesmf_spark_ckpt" in ckpt:
        leftover = [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(ckpt)
            for f in files
        ]
        assert leftover == []


def test_longest_repeats_fixed_point_with_long_identical_tails(spark):
    """The r15-opt internals lock: (a) the rank partition hits its
    FIXED POINT at a small doubling level (random-ish text separates
    fast) while IDENTICAL cross-doc tails far longer than that level
    persist — the early-termination exit must still report those
    full-tail LCPs exactly (the oversized-block promotion), not
    truncate them at 2K-1; (b) with top_k far below the pair count the
    walk's exact top-k prune fires and must not disturb the cut,
    including lower-bound ties at the threshold (the shared tail makes
    MANY pairs tie)."""
    import random

    from xesmf_spark.relational import longest_repeats

    rng = random.Random(2026)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    tail = "".join(rng.choice(alpha) for _ in range(97))
    docs = [
        (1, "q" + tail),
        (2, "z" + tail),  # identical 97-char tails, distinct heads
        (3, "".join(rng.choice(alpha) for _ in range(80))),
        (4, "".join(rng.choice(alpha) for _ in range(80))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sufs = sorted((t[p:], d, p) for d, t in docs for p in range(len(t)))

    def lcp(x, y):
        n = 0
        for a, b in zip(x, y):
            if a != b:
                break
            n += 1
        return n

    pairs = sorted(
        (
            (lcp(s1, s2), d1, p1, d2, p2)
            for (s1, d1, p1), (s2, d2, p2) in zip(sufs, sufs[1:])
        ),
        key=lambda t: (-t[0], t[1], t[2], t[3], t[4]),
    )
    # the fixture really exercises both paths: the longest repeat is
    # the full 97-char tail — far beyond any small fixed-point level —
    # and there are hundreds of adjacent pairs for top_k=6 to prune
    assert pairs[0][0] == 97 and len(pairs) > 100
    for top_k in (6, 40, len(pairs) + 5):
        got = [
            (r.lcp, r.a_id, r.a_pos, r.b_id, r.b_pos)
            for r in longest_repeats(df, top_k=top_k).collect()
        ]
        assert got == pairs[:top_k], top_k


def test_longest_repeats_identical_docs_never_distinct(spark):
    """Identical documents keep suffix ranks tied at EVERY doubling
    level, so the Manber-Myers early-termination gate never fires and
    the (id, pos) tie-break path must produce the exact brute-force
    answer (full-length cross-doc repeats included)."""
    from xesmf_spark.relational import longest_repeats

    docs = [(1, "abcab"), (2, "abcab"), (3, "abcab")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.lcp, r.a_id, r.a_pos, r.b_id, r.b_pos)
        for r in longest_repeats(df, top_k=20).collect()
    ]
    sufs = sorted((t[p:], d, p) for d, t in docs for p in range(len(t)))

    def lcp(x, y):
        n = 0
        for a, b in zip(x, y):
            if a != b:
                break
            n += 1
        return n

    pairs = sorted(
        (
            (lcp(s1, s2), d1, p1, d2, p2)
            for (s1, d1, p1), (s2, d2, p2) in zip(sufs, sufs[1:])
        ),
        key=lambda t: (-t[0], t[1], t[2], t[3], t[4]),
    )
    assert got == pairs[:20]
    assert got[0][0] == 5  # the full doc repeats across ids


def test_longest_repeats_empty_corpus_releases_cache(spark):
    """An all-empty corpus raises, and leaves nothing cached."""
    from xesmf_spark.relational import longest_repeats

    spark.catalog.clearCache()
    df = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    with pytest.raises(ValueError, match="no non-empty"):
        longest_repeats(df)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
