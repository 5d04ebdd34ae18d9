"""Plan-shape regression tests — the scale contract, codified.

Correctness tests prove the engine computes the right answer at sf0.01;
these prove the PLANS stay the shapes that survive a 100-TB cluster:
dimension joins broadcast, filters reach the parquet scan, pure
projections stay exchange-free, the vectorized hot paths stay inside
whole-stage codegen. A regression here is invisible to value checks but
turns into the bottleneck at 1000 executors.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_tpch_q3_broadcasts_dims_and_pushes_filters(spark):
    """The 3-way join must broadcast the (filtered, small) customer dim,
    and the date/segment predicates must reach the parquet scans as
    pushed filters — not post-scan Filter nodes over full reads."""
    from xesmf_spark import queries as Q

    plan = _plan(Q.tpch_q3_top10(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "PushedFilters: [" in plan
    # at least one scan pushes an IsNotNull+comparison on the date cols
    assert "o_orderdate" in plan.split("PushedFilters")[1] or any(
        "o_orderdate" in seg.split("]")[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ), plan


def test_tpch_q1_column_pruning(spark):
    """q1 reads 7 of lineitem's 16 columns — the scan's ReadSchema must
    NOT contain untouched wide columns (l_comment, l_shipinstruct)."""
    from xesmf_spark import queries as Q

    plan = _plan(Q.tpch_q1(spark, SF))
    scan = plan[plan.index("ReadSchema") :]
    head = scan[: scan.index("\n")] if "\n" in scan else scan
    assert "l_comment" not in head and "l_shipinstruct" not in head, head


def test_tpch_q6_full_pushdown(spark):
    """q6 is the pushdown showcase: every predicate reaches the scan
    (PushedFilters carries shipdate bounds, discount bounds, quantity)
    and the ReadSchema holds exactly the 4 touched columns."""
    from xesmf_spark import queries as Q

    plan = _plan(Q.tpch_q6_forecast(spark, SF))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    scan = plan[plan.index("ReadSchema") :]
    head = scan[: scan.index("\n")] if "\n" in scan else scan
    assert "l_extendedprice" in head and "l_returnflag" not in head, head


def test_tpch_q10_broadcasts_nation_and_takeordered(spark):
    """q10's nation dim must broadcast and the top-20 must plan as
    TakeOrderedAndProject, not a global sort of the aggregate."""
    from xesmf_spark import queries as Q

    plan = _plan(Q.tpch_q10_returned(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_join_plans_as_left_semi(spark):
    from xesmf_spark import queries as Q

    plan = _plan(Q.customers_semi_open_orders(spark, SF))
    assert "LeftSemi" in plan, plan


def test_pipeline_text_stats_is_pure_projection(spark):
    """text_stats must stay a map-side projection: no Exchange (shuffle)
    anywhere in its plan."""
    from xesmf_spark import pipeline as PL

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(PL.text_stats(docs))
    assert "Exchange" not in plan, plan


def test_simhash_is_pure_projection(spark):
    from xesmf_spark import pipeline as PL

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(PL.simhash(docs))
    assert "Exchange" not in plan, plan


def test_q20_q21_scan_lineitem_once(spark):
    """The window-decorrelated q20/q21 must read the fact table ONCE:
    their correlated totals come from window aggregates over the single
    filtered scan, not a second scan + self-join (the regression this
    guards: two scans double the 100-TB I/O)."""
    import __spark_entry__ as E

    for name in ("tpch_q20_excess_shippers", "tpch_q21_waiting_suppliers"):
        plan = _plan(E.queries()[name](spark, SF))
        n_li = plan.count("lineitem.parquet")
        assert n_li == 1, f"{name}: lineitem scanned {n_li}x\n{plan}"


def test_merge_upsert_broadcasts_small_updates(spark):
    """The CDC shape: a small updates side must plan as a broadcast
    anti-join against base — no shuffle of the big side."""
    from xesmf_spark.relational import merge_upsert

    base = spark.read.parquet(f"{SF}/customer.parquet")
    updates = base.limit(5)
    plan = _plan(merge_upsert(base, updates, "c_custkey"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_smm_apply_broadcasts_small_weights(spark):
    """The core apply: a small weight table must broadcast against the
    field (one shuffle-free join), not sort-merge."""
    from xesmf_spark.apply import smm_apply
    from xesmf_spark.grids import grid_global, wave_smooth
    from xesmf_spark.weights import conservative_weights

    g_in, g_out = grid_global(spark, 20, 12), grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    field = g_in.df.select("cell_id", wave_smooth().alias("value"))
    df = smm_apply(field, w, g_out, attach_coords=False)
    plan = _plan(df)
    # the field-x-weights join (the one that carries data volume) must
    # be a BroadcastHashJoin; the zero-fill is not a join at all — the
    # dest cells enter the same group-by-sum as NULL-valued rows
    assert "BroadcastHashJoin" in plan, plan
    # after execution, the AQE final plan must not leave a sort-merge
    # join on the data path either
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final, final


def test_exact_dedup_single_shuffle(spark):
    """Exact dedup is ONE hash-aggregate shuffle on the digest: the plan
    holds exactly one Exchange, with partial aggregation map-side."""
    from xesmf_spark import pipeline as PL

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(PL.exact_dedup(docs))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan


def test_events_hourly_partial_agg_before_shuffle(spark):
    """The windowed count/sum must pre-aggregate map-side (two
    HashAggregate levels around one Exchange) — at 100 TB/day the
    shuffle carries (window, type) partials, not raw events."""
    from xesmf_spark import queries as Q

    df = Q.events_hourly(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial + final
    assert plan.count("HashAggregate") >= 2, plan


def test_lsh_bucket_join_no_cartesian(spark):
    """The LSH candidate self-join must be an equi-join on (band, bh) —
    never a cartesian/broadcast-nested-loop product."""
    from xesmf_spark import pipeline as PL

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    pairs = PL.minhash_dedup_pairs(docs.select("doc_id", "text"), threshold=0.5)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_and_knn_joins_never_cartesian(spark):
    """The candidate generation for IVF ANN must stay an equi-join on
    cell keys — a cartesian or nested-loop product here is the classic
    all-pairs scale killer. The k-NN join plans no join at all: its rows
    come from the driver's voxel search as one local relation."""
    from xesmf_spark import similarity as SIM
    from xesmf_spark.grids import grid_2d
    from xesmf_spark.weights.nearest import knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    ivf = SIM.ivf_topk(emb, k=3, n_centroids=8, n_probe=2)
    plan = _plan(ivf)
    assert "CartesianProduct" not in plan, plan

    g_need = grid_2d(spark, -60, 60, 10.0, -30, 30, 10.0)
    g_pool = grid_2d(spark, -60, 60, 5.0, -30, 30, 5.0)
    plan2 = _plan(knn_join(g_need, g_pool, k=2))
    assert "Join" not in plan2 and "CartesianProduct" not in plan2, plan2
    assert "Window" not in plan2 and "Exchange" not in plan2, plan2


def test_prepared_regridder_skips_weights_shuffle(spark):
    """Repeated-apply regime: after Regridder.prepare(), the cached
    repartition('col') exposes its HashPartitioning, so a non-broadcast
    apply exchanges ONE fewer relation than the unprepared plan (only
    the field side shuffles), and results are identical."""
    from xesmf_spark import Regridder, grid_global, wave_smooth

    g_in, g_out = grid_global(spark, 20, 12), grid_global(spark, 15, 9)
    rg = Regridder(spark, g_in, g_out, "conservative")
    field = g_in.df.select("cell_id", wave_smooth().alias("value"))

    # the regime prepare() targets is weights too big to broadcast; the
    # fixture weights would auto-broadcast, so disable the threshold to
    # surface the shuffle-join shape the 1e9-nnz case hits
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def ensure_exchanges(df):
            # planner-inserted exchanges only — the cached repartition
            # inside the InMemoryRelation shows as REPARTITION_BY_NUM
            return _plan(df).count("ENSURE_REQUIREMENTS")

        before = ensure_exchanges(rg(field, broadcast_weights=False))
        rg.prepare()
        after_df = rg(field, broadcast_weights=False)
        plan_after = _plan(after_df)
        after = plan_after.count("ENSURE_REQUIREMENTS")
        assert "InMemoryTableScan" in plan_after, plan_after
        assert after == before - 1, f"{before} -> {after}\n{plan_after}"

        a = sorted((r.cell_id, round(r.value, 9)) for r in after_df.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    rg.finalize()
    b = sorted((r.cell_id, round(r.value, 9)) for r in rg(field).collect())
    assert a == b
    rg.clean_weight_file()


def test_bucketed_weights_skip_shuffle(spark, tmp_path):
    """save_bucketed: a bucketed weights scan is pre-co-located on the
    join key, so the non-broadcast apply plan exchanges only the field
    side — the cross-session counterpart of prepare()."""
    from xesmf_spark import Regridder, grid_global, wave_smooth
    from xesmf_spark.apply import smm_apply

    g_in, g_out = grid_global(spark, 20, 12), grid_global(spark, 15, 9)
    rg = Regridder(spark, g_in, g_out, "conservative")
    field = g_in.df.select("cell_id", wave_smooth().alias("value"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = _plan(
            smm_apply(field, rg.weights, g_out,
                      broadcast_weights=False, attach_coords=False)
        ).count("ENSURE_REQUIREMENTS")
        wb = rg.save_bucketed("w_bucketed_test", buckets=8)
        plan_b = _plan(
            smm_apply(field, wb, g_out,
                      broadcast_weights=False, attach_coords=False)
        )
        bucketed = plan_b.count("ENSURE_REQUIREMENTS")
        assert "SelectedBucketsCount" in plan_b, plan_b
        assert bucketed == plain - 1, f"{plain} -> {bucketed}\n{plan_b}"
        # values identical through the bucketed path
        a = sorted(
            (r.cell_id, round(r.value, 9))
            for r in smm_apply(field, wb, g_out, broadcast_weights=False,
                               attach_coords=False).collect()
        )
        b = sorted(
            (r.cell_id, round(r.value, 9))
            for r in smm_apply(field, rg.weights, g_out,
                               broadcast_weights=False,
                               attach_coords=False).collect()
        )
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS w_bucketed_test")
    rg.clean_weight_file()


def test_driver_entry_contract(spark):
    """The driver smoke-runs entry(spark) and requires a stable schema
    with >= 0 rows; every queries() key must have a callable, and
    oracle_sql() must cover every key (the repo's stated bar: no
    rows-only checks)."""
    import __spark_entry__ as E

    out = E.entry(spark)
    assert out.columns == ["cell_id", "lon", "lat", "value"]
    assert out.count() > 0
    q = E.queries()
    o = E.oracle_sql()
    assert len(q) >= 97
    missing = [n for n in q if n not in o]
    assert missing == [], f"queries without oracles: {missing}"
    assert all(callable(f) for f in q.values())


def test_partitioned_scan_prunes_partitions(spark):
    """The Hive-partitioned events layout must prune at PLANNING time:
    the event_type predicate appears as PartitionFilters on the scan
    (whole directories skipped — no file opened), and the ts range
    additionally reaches PushedFilters (row-group stats)."""
    from xesmf_spark import queries as Q

    plan = _plan(Q.events_partitioned_scan(spark, SF))
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in pf, plan
    assert any(
        "ts" in seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]
    ), plan
