"""Generic relational operators Spark lacks as built-ins.

``asof_join`` — the time-series point-in-time join. The reference
engine has no explicit as-of operator (its nearest_s2d is the spatial
analogue: each destination keyed to its single nearest source,
/root/reference/xesmf/backend.py:244-245); large-scale event pipelines
need the temporal form constantly (fills, point-in-time features,
last-known-state lookups).

Scale shape: NOT a range join — a range join materializes candidate
pairs (every right row within the horizon of every left row) and then
prunes, which is quadratic in dense keys. This implementation is a
UNION of the two tagged inputs + ONE window pass per key ordered by
(ts, kind): carry the most recent right payload forward with
last(..., ignorenulls=True) over an unbounded-preceding row frame.
One shuffle on the key, linear scan per partition, O(1) state per row.
At 100 TB both inputs shuffle once on the join key and stream through
a sort — the same physical shape as a sort-merge join, with no pair
blow-up even for a key holding millions of rows on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.materialize import mark, pin, release_since

# Closing-edge probe bounds for the triangle family (guide §3.1/§3.2).
# Up to TRIANGLE_BROADCAST_MAX_EDGES oriented edges (a pair-key hash
# relation, ~64 MB built at 4M) the edge set is broadcast and the
# O(m^1.5) wedge table is probed map-side, never shuffled.  Above it
# the wedge table is Bloom-pruned map-side on the (u, w) closing keys
# before the shuffled semi join: BITS_PER_EDGE bits per edge (~1.1%
# fpp at 3 hashes), capped at MAX_BITS (a 128 MB bitmap; past the cap
# fpp degrades and the result stays exact).  Spark's own
# bloom_filter_agg / might_contain are not resolvable from SQL in 4.1,
# hence the in-repo bloom_prune_join.
TRIANGLE_BROADCAST_MAX_EDGES = 4_000_000
TRIANGLE_BLOOM_BITS_PER_EDGE = 12
TRIANGLE_BLOOM_MAX_BITS = 1 << 30


def _wedge_closing_semi(wedges: "DataFrame", o: "DataFrame", n_e: int) -> "DataFrame":
    """Closing-edge probe shared by triangle_count /
    clustering_coefficient: LEFT SEMI of the O(m^1.5) wedge table
    against the distinct oriented edge set on (u, w), strategy picked
    by the driver-measured edge count ``n_e`` (a scalar the callers
    already owe as the ``n_edges`` output):

    - ``n_e <= TRIANGLE_BROADCAST_MAX_EDGES``: broadcast the edge set
      and probe map-side — the wedge table is never shuffled (§3.1);
    - above the bound: Bloom-prune the wedge table map-side, then the
      shuffled semi join over survivors only (§3.2, constants above).
    """
    closing = o.select(F.col("u"), F.col("v").alias("w"))
    if n_e <= TRIANGLE_BROADCAST_MAX_EDGES:
        return wedges.join(F.broadcast(closing), ["u", "w"], "left_semi")
    m = min(n_e * TRIANGLE_BLOOM_BITS_PER_EDGE, TRIANGLE_BLOOM_MAX_BITS)
    m = max(64, ((int(m) + 63) // 64) * 64)
    return bloom_prune_join(
        wedges, closing, ["u", "w"], m_bits=m, n_hashes=3, how="left_semi"
    )


def _check_output_collisions(
    left_cols: list[str], right_out: list[str], suffix: str
) -> None:
    """The suffixed right columns must not shadow a left column (the
    output would carry duplicate names, corrupting downstream selects)."""
    clash = [c for c in right_out if f"{c}{suffix}" in left_cols]
    if clash:
        raise ValueError(
            f"left already has column(s) {[f'{c}{suffix}' for c in clash]}; "
            f"rename them or pass a different suffix"
        )


def _floor_div(x, span: int):
    """Exact floor division for BIGINT columns (Spark's ``div`` truncates
    toward zero, and double division rounds above 2^53 — epoch-ns values
    are ~1.7e18, so both are wrong for negative or large operands).

    x - pmod is an exact multiple of span, but dividing it in DOUBLE
    loses up to 128 ns at epoch-ns magnitude and the subsequent cast
    can truncate the quotient to N-1, silently mis-bucketing the row
    (r5 ADVICE). DECIMAL(38,0) division keeps the quotient exact at any
    BIGINT magnitude; the result is integral so the final cast is
    lossless."""
    pmod = ((x % span) + span) % span
    return ((x - pmod).cast("decimal(38,0)") / F.lit(span)).cast("long")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    ts: str,
    lower: int,
    upper: int,
    suffix: str = "_r",
) -> DataFrame:
    """Range (interval) join: every (left, right) pair with matching
    ``on`` keys and ``left.ts + lower <= right.ts <= left.ts + upper``
    (``ts`` integer-typed, e.g. contract epoch ns; bounds inclusive).
    Output: left columns + right's non-key columns suffixed (right's
    ``ts`` becomes ``<ts><suffix>``). INNER semantics — unmatched left
    rows drop.

    Scale shape: a raw theta-join on the time predicate is a pair
    blow-up (Spark plans the non-equi part as a post-join filter, so a
    hot key materializes |L|x|R| candidates). This implementation
    BUCKETIZES time into the equi-join key: right rows land in bucket
    floor(ts/span) with span = upper - lower; each left row covers at
    most 2 consecutive buckets (its window is exactly span long), so it
    explodes to <= 2 rows and the join runs as a plain equi-join on
    (key..., bucket) with the exact BETWEEN as a residual filter.
    Candidates per left row are bounded by the rows in 2 buckets —
    proportional to the match horizon, never to the key's total
    history. Each matching pair appears exactly once (a right row has
    one bucket; the left row lists that bucket once).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if upper <= lower:
        raise ValueError(f"need upper > lower, got [{lower}, {upper}]")
    span = upper - lower
    payload_cols = [c for c in right.columns if c not in keys and c != ts]
    _check_output_collisions(left.columns, [ts] + payload_cols, suffix)

    r_b = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col(ts).alias(f"{ts}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in payload_cols],
        _floor_div(F.col(ts), span).alias("__bucket"),
    )
    l_b = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                _floor_div(F.col(ts) + F.lit(lower), span),
                _floor_div(F.col(ts) + F.lit(upper), span),
            )
        ),
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (l_b[k] == r_b[f"__r_{k}"])
    cond = cond & (l_b["__bucket"] == r_b["__bucket"])
    rts = F.col(f"{ts}{suffix}")
    joined = l_b.join(r_b, cond, "inner").filter(
        (rts >= F.col(ts) + F.lit(lower)) & (rts <= F.col(ts) + F.lit(upper))
    )
    return joined.select(
        *[F.col(c) for c in left.columns],
        rts,
        *[F.col(f"{c}{suffix}") for c in payload_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    ts: str,
    direction: str = "backward",
    suffix: str = "_r",
    tie_break: str | None = None,
) -> DataFrame:
    """For each left row, attach the single right row with the greatest
    ``right.ts <= left.ts`` (``backward``) or the least
    ``right.ts >= left.ts`` (``forward``), within matching ``on`` keys.

    Output: all left columns, plus every non-key right column renamed
    ``<name><suffix>`` (the right's ``ts`` becomes ``<ts><suffix>``).
    Unmatched left rows keep NULLs — LEFT OUTER semantics, matching
    DuckDB's ``ASOF LEFT JOIN``.

    A right row at exactly ``left.ts`` matches in both directions.
    Determinism: rows equal on ``(on, ts)`` on the RIGHT side are
    ambiguous. Pass ``tie_break`` (a right column name) to resolve such
    ties to the row with the GREATEST tie value inside the same single
    window pass — a free extra sort key, NOT an extra shuffle (the
    pre-aggregate alternative, ``groupBy(on, ts).agg(max(...))``,
    shuffles the right side twice: once on (on, ts), then again on
    ``on`` for the window).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    if tie_break is not None and tie_break not in right.columns:
        raise ValueError(f"tie_break {tie_break!r} is not a right column")
    payload_cols = [c for c in right.columns if c not in keys and c != ts]
    _check_output_collisions(left.columns, [ts] + payload_cols, suffix)

    # one struct column carries the right row through the window pass;
    # ts is included so the caller gets the matched instant back
    r_tagged = right.select(
        *keys,
        F.col(ts),
        F.struct(F.col(ts).alias(ts), *[F.col(c) for c in payload_cols]).alias("__asof_payload"),
        F.lit(0).alias("__asof_kind"),
    )
    l_tagged = left.select(
        *left.columns,
        F.lit(None).cast(r_tagged.schema["__asof_payload"].dataType).alias("__asof_payload"),
        F.lit(1).alias("__asof_kind"),
    )
    # align schemas: right side gets NULLs for left-only columns
    left_only = [c for c in left.columns if c not in keys and c != ts]
    r_aligned = r_tagged.select(
        *keys,
        F.col(ts),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        "__asof_payload",
        "__asof_kind",
    )
    l_aligned = l_tagged.select(*keys, F.col(ts), *left_only, "__asof_payload", "__asof_kind")
    unioned = r_aligned.unionByName(l_aligned)

    if direction == "backward":
        order = [F.col(ts).asc(), F.col("__asof_kind").asc()]
    else:
        # forward: scan time DESCENDING so "last seen right row" is the
        # least right.ts >= left.ts; kind still orders right-before-left
        # at equal ts so exact matches count
        order = [F.col(ts).desc(), F.col("__asof_kind").asc()]
    if tie_break is not None:
        # among right rows tied on (ts, kind), the LAST in frame wins —
        # ascending puts the greatest tie value last; left rows carry
        # NULL here, nulls-first keeps them from outranking real ties
        order.append(F.col("__asof_payload")[tie_break].asc_nulls_first())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__asof_match", F.last("__asof_payload", ignorenulls=True).over(w)
    )
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(f"__asof_match.{ts}").alias(f"{ts}{suffix}"))
    out_cols.extend(F.col(f"__asof_match.{c}").alias(f"{c}{suffix}") for c in payload_cols)
    return carried.filter(F.col("__asof_kind") == 1).select(*out_cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join with EXPLICIT key salting for skew: the left (large,
    skewed) side scatters each row into one of ``salt`` sub-keys via a
    deterministic hash of the whole row; the right side replicates every
    row ``salt`` times; the join runs on ``(keys..., salt)``. A key
    holding p% of the left rows then occupies ``salt`` partitions
    instead of one straggler.

    When to use: AQE's skew-join split (on by default in
    ``session.get_spark``) already handles most skew at runtime by
    splitting oversized partitions, and should be the first choice.
    Explicit salting remains the deterministic fallback for (a) plans
    AQE cannot split (e.g. a skewed partition feeding a stateful or
    order-sensitive downstream op), (b) engines/configs without AQE,
    and (c) pipelines that must produce identical task layouts run to
    run. Cost: the right side's shuffle volume multiplies by ``salt`` —
    keep the replicated side the SMALL one.

    Supports ``inner`` and ``left`` joins (semantics preserved exactly:
    each left row carries ONE salt value, so match multiplicity is
    unchanged; an unmatched left row in a left join still emits its
    single null-padded row). Row-identity hash uses the left row's full
    column list, so duplicate rows land on the same replica —
    deterministic across runs and partitionings.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports how='inner'|'left', got {how!r}")
    if salt < 2:
        raise ValueError(f"salt must be >= 2, got {salt}")
    for k in keys:
        if k not in left.columns or k not in right.columns:
            raise KeyError(f"join key {k!r} missing from one side")
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = l.join(r, keys + ["__salt"], how)
    return out.drop("__salt")


def attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    lookback_days: int = 7,
) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION — the marketing-analytics credit
    assignment the funnel/retention/session family stops short of:
    every ``conversion_type`` event distributes its cents value across
    the ``touch_types`` events of the same user in the preceding
    ``lookback_days`` window, under all three classic models at once:

        first_touch  — 1000·cents to the earliest touch in window
        last_touch   — 1000·cents to the latest
        linear       — (1000·cents) div n to each, remainder to the
                       LAST touch (deterministic — credits CONSERVE:
                       per conversion they sum to exactly 1000·cents)

    Credits are exact BIGINT milli-cents; touch order inside a window
    is pinned by (ts, event id).  A touch inside two conversions'
    windows credits both (the any-touch-in-window model — stated, not
    hidden; dedup to next-conversion-only upstream if needed).
    Conversions with no touch in window emit nothing (report them via
    an anti-join).

    Scale shape: one user-keyed equi-join of conversions against
    touches with the window predicate as a post-join filter (per-user
    pair volume is activity-bounded — the per-key quadratic every
    attribution engine pays, never corpus-shaped), one per-conversion
    ROWS window for rank/count.  Output: (user, conv_id, conv_cents,
    touch_id, touch_type, touch_rank, n_touches, credit_first_milli,
    credit_last_milli, credit_linear_milli)."""
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if lookback_days < 1:
        raise ValueError(f"lookback_days must be >= 1, got {lookback_days}")
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("__cts"),
        F.expr(
            f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("conv_cents"),
    )
    touch = events.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("touch_id"),
        F.col(type_col).alias("touch_type"),
        F.col(ts_col).alias("__tts"),
    )
    # ts may arrive as TIMESTAMP or as the house BIGINT epoch-ns
    # contract (tables.load_table) — a fixed day count is exactly
    # 86400e9 ns either way (naive timestamps, no calendar effects)
    ts_type = dict(events.dtypes)[ts_col]
    if ts_type.startswith("timestamp"):
        window_lo = F.col("__cts") - F.expr(f"INTERVAL {lookback_days} DAYS")
    else:
        window_lo = F.col("__cts") - F.lit(lookback_days * 86_400_000_000_000)
    j = conv.join(touch, "user").filter(
        (F.col("__tts") < F.col("__cts")) & (F.col("__tts") >= window_lo)
    )
    w = Window.partitionBy("conv_id").orderBy("__tts", "touch_id")
    wn = Window.partitionBy("conv_id")
    ranked = j.withColumn("touch_rank", F.row_number().over(w)).withColumn(
        "n_touches", F.count(F.lit(1)).over(wn)
    )
    base = F.expr("(1000L * conv_cents) div n_touches")
    is_last = F.col("touch_rank") == F.col("n_touches")
    return ranked.select(
        "user",
        "conv_id",
        "conv_cents",
        "touch_id",
        "touch_type",
        F.col("touch_rank").cast("long").alias("touch_rank"),
        F.col("n_touches").cast("long").alias("n_touches"),
        F.when(F.col("touch_rank") == 1, 1000 * F.col("conv_cents"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("credit_first_milli"),
        F.when(is_last, 1000 * F.col("conv_cents"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("credit_last_milli"),
        F.when(
            is_last,
            1000 * F.col("conv_cents") - (F.col("n_touches") - 1) * base,
        )
        .otherwise(base)
        .cast("long")
        .alias("credit_linear_milli"),
    )


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    within: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-FUNNEL analysis — the product-analytics staple (how many
    users did step1 -> step2 -> ... -> stepK, in order, completing
    within ``within`` of entering the funnel). Per user: t1 = earliest
    step-1 event; t_i = earliest step-i event at or after t_{i-1} and
    no later than t1 + within. Returns one row per step:
    (step_idx, step, n_users).

    Scale shape: ONE shuffle. Each t_i is an UNORDERED conditional
    window aggregate MIN(CASE ...) OVER (PARTITION BY user) chained on
    t_{i-1} — all k passes share one partitioning (a single exchange,
    no sort: the windows are unordered), then a tiny global conditional
    count-distinct. No self-joins, no per-user event-list
    materialization, no sequential UDF — the min-based recurrence is
    order-free, so ties in ts resolve identically on any engine and
    any partitioning.
    """
    if len(steps) < 2:
        raise ValueError(f"a funnel needs >= 2 steps, got {list(steps)}")
    if within <= 0:
        raise ValueError(f"within must be positive, got {within}")
    w = Window.partitionBy(user_col)
    cur = events.select(user_col, ts_col, type_col).withColumn(
        "__t0",
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).over(w),
    )
    for i, s in enumerate(steps[1:], start=1):
        cond = (
            (F.col(type_col) == s)
            & (F.col(ts_col) >= F.col(f"__t{i - 1}"))
            & (F.col(ts_col) <= F.col("__t0") + F.lit(within))
        )
        cur = cur.withColumn(f"__t{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
    # reduce to ONE row per user first (max of a per-user-constant
    # column; the groupBy reuses the window's hash partitioning — no
    # second exchange), then plain non-null counts: a single agg with
    # k COUNT(DISTINCT)s would EXPAND the full event set k-fold
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"__t{i}").alias(f"__t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(f"__t{i}").alias(f"n_{i}") for i in range(len(steps))]
    )
    spark = events.sparkSession
    labels = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    return (
        labels.crossJoin(counts)  # counts is ONE row — scalar broadcast
        .select(
            "step_idx",
            "step",
            F.expr(
                "CASE "
                + " ".join(
                    f"WHEN step_idx = {i + 1} THEN n_{i}"
                    for i in range(len(steps))
                )
                + " END"
            ).alias("n_users"),
        )
    )


def incremental_join_refresh(
    old_left: DataFrame,
    d_left: DataFrame,
    old_right: DataFrame,
    d_right: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """DELTA rows of a materialized INNER-JOIN view — the join-side
    complement of the rollup continuous aggregate
    (:func:`rollup_delta`/:func:`merge_rollups`): with appends
    ``dL``/``dR`` arriving on top of base tables ``L``/``R``,

        delta(L JOIN R) = dL JOIN R  UNION ALL  L JOIN dR
                          UNION ALL  dL JOIN dR

    (disjoint by construction for APPEND-ONLY tables: each output row
    pairs one left and one right row, and exactly one of the three
    terms matches the (new?, new?) signature of that pair). Appending
    the returned rows to the materialized view equals the full re-join
    of (L+dL) with (R+dR) — the incremental-view-maintenance identity.

    Why it matters at 100 TB: the view's refresh cost tracks the
    DELTAS — each term shuffles only a delta against one base side
    (and with the bases bucketed on the join key, the base side is
    read in place without reshuffle); the O(|L| x |R|-shaped) base
    join never re-runs. Updates/deletes need keyed retraction rows on
    top of this (the classic IVM extension); this operator is the
    append-only core.
    """
    keys = [on] if isinstance(on, str) else list(on)
    for k in keys:
        for side, df in (("left", old_left), ("right", old_right)):
            if k not in df.columns:
                raise KeyError(f"join key {k!r} missing from {side} side")
    if old_left.columns != d_left.columns or old_right.columns != d_right.columns:
        raise ValueError("delta schema must match its base table schema")
    return (
        d_left.join(old_right, keys)
        .unionByName(old_left.join(d_right, keys))
        .unionByName(d_left.join(d_right, keys))
    )


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with an explicit Bloom-filter SEMI-JOIN REDUCTION: the
    dim side's key set is compressed into an ``m_bits``-bit Bloom
    bitmap (stored as ``m_bits/64`` longs — a few MB regardless of dim
    cardinality), broadcast, and used to prune fact rows MAP-SIDE
    before the real join shuffles anything. Bloom filters have false
    positives but NO false negatives, so the pruned fact is an exact
    superset of the matching rows and the final equi-join restores
    exactness — the result is identical to the plain join.

    When to use at 100 TB: the dim is too large to broadcast raw (so
    the join must shuffle both sides) but joins selectively — only a
    small fraction of fact keys match. The plain sort-merge join
    shuffles the ENTIRE fact; with the bloom, non-matching fact rows
    (1 - fpp of them) die in the scan stage and only survivors shuffle.
    Spark's runtime row-level filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects this
    automatically for some shapes; the explicit operator covers the
    rest — building the filter once and reusing it across several fact
    scans, pruning before a stateful/windowed op, or engines without
    the rule. fpp ~= (1 - e^(-k*n/m))^k: 1M keys in 2^20 bits with
    k=3 gives ~31%; size ``m_bits`` ~ 10-16 bits/key for ~1-2%.

    Physical shape: the build is one shuffle of the dim's DISTINCT keys
    exploded x ``n_hashes`` then grouped into <= m_bits/64 (word,
    bits) rows via BIT_OR — the only aggregation state is the bitmap
    itself. Each probe is a BROADCAST hash join of the fact against
    the tiny word table (map-side, no fact shuffle) + a bit test; the
    ``n_hashes`` probes chain map-side in one stage. Hashing uses
    xxhash64(keys..., i) so the k positions are independent, identical
    between build and probe by construction.

    ``how``: ``inner`` (full join output) or ``left_semi`` (surviving
    fact rows only).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prune_join supports how='inner'|'left_semi', got {how!r}"
        )
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if not 1 <= n_hashes <= 8:
        raise ValueError(f"n_hashes must be in [1, 8], got {n_hashes}")
    for k in keys:
        if k not in fact.columns or k not in dim.columns:
            raise KeyError(f"join key {k!r} missing from one side")
    reserved = [c for c in fact.columns if c.startswith(("__p", "__w", "__bits"))]
    if reserved:
        raise ValueError(f"fact columns shadow bloom internals: {reserved}")

    # --- build: distinct dim keys -> k positions -> (word, BIT_OR) ---
    pos = (
        dim.select(*keys)
        .dropDuplicates(keys)
        .withColumn("__h", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))))
        .select(
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys], F.col("__h")),
                F.lit(m_bits),
            ).alias("__pos")
        )
    )
    words = (
        pos.select(
            F.shiftright("__pos", 6).alias("__word"),
            F.expr("shiftleft(1L, CAST(__pos % 64 AS INT))").alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
    )

    # --- probe: k chained broadcast lookups + bit tests, map-side ---
    probe = fact
    for i in range(n_hashes):
        probe = probe.withColumn(
            f"__p{i}",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys], F.lit(i)), F.lit(m_bits)
            ),
        )
        w_i = F.broadcast(
            words.select(
                F.col("__word").alias(f"__w{i}"), F.col("__bits").alias(f"__bits{i}")
            )
        )
        probe = probe.join(
            w_i, F.shiftright(F.col(f"__p{i}"), 6) == F.col(f"__w{i}"), "left"
        ).filter(
            F.expr(
                f"__bits{i} IS NOT NULL AND "
                f"(shiftright(__bits{i}, CAST(__p{i} % 64 AS INT)) & 1) = 1"
            )
        )
    pruned = probe.drop(
        *[c for i in range(n_hashes) for c in (f"__p{i}", f"__w{i}", f"__bits{i}")]
    )

    if how == "left_semi":
        return pruned.join(dim.select(*keys).dropDuplicates(keys), keys, "left_semi")
    return pruned.join(dim, keys, "inner")


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: str | list[str],
    op_col: str | None = None,
) -> DataFrame:
    """Key-level MERGE over immutable storage — the "UPDATE or INSERT
    or DELETE" primitive parquet lacks (table formats like
    Delta/Iceberg implement exactly this underneath): every key present
    in ``updates`` is replaced wholesale by the update row; keys absent
    from ``updates`` keep their base row; brand-new keys append.

    With ``op_col`` set, ``updates`` carries a change-op column
    (``'upsert'`` or ``'delete'``): tombstone rows remove their key
    from the result entirely (WHEN MATCHED AND op='delete' THEN
    DELETE), upsert rows behave as before; the op column never
    appears in the output (so ``updates`` schema = base schema +
    ``op_col``). Any op value other than ``'delete'`` is treated as an
    upsert — op domains are the CDC feed's contract, not re-validated
    per row here.

    Plan shape: ONE left-anti equi-join on the key (base rows whose key
    has ANY update — upsert or tombstone — are dropped) + a union of
    the non-delete update rows — at scale the anti-join broadcasts
    when updates are small (the common CDC case), else it is a single
    keyed shuffle; the union is free (no shuffle). Schemas must match
    by name (``unionByName``). Multi-row-per-key updates are passed
    through as-is — dedup upstream if last-writer-wins is needed.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    for k in keys:
        if k not in base.columns or k not in updates.columns:
            raise KeyError(f"merge key {k!r} missing from one side")
    expected = set(base.columns) | ({op_col} if op_col else set())
    if set(updates.columns) != expected:
        raise ValueError(
            f"schema mismatch: base has {sorted(base.columns)}, "
            f"updates has {sorted(updates.columns)}"
            + (f" (op_col={op_col!r})" if op_col else "")
        )
    survivors = base.join(updates, keys, "left_anti")
    if op_col is None:
        return survivors.unionByName(updates)
    # NULL-safe: a NULL op is an upsert, not a delete — plain
    # ``op != 'delete'`` evaluates to NULL and silently drops the row.
    live = updates.filter(~F.col(op_col).eqNullSafe("delete")).drop(op_col)
    return survivors.unionByName(live)


def rollup_delta(
    events: DataFrame,
    bucket_ns: int,
    keys: list[str],
    ts_col: str = "ts",
    agg_exprs: dict | None = None,
) -> DataFrame:
    """Partial (MERGEABLE) rollup of one delta batch — the building
    block of a continuous aggregate (TimescaleDB-style hypertable
    rollup): time is bucketized into the group key and every aggregate
    is a monoid (count, sum) whose partials merge exactly, so a
    materialized rollup refreshes by aggregating ONLY new data and
    merging (:func:`merge_rollups`) — never rescanning history.

    ``agg_exprs`` maps output column -> aggregate Column; default is
    ``n`` (count). Keep every aggregate mergeable: count/sum/min/max
    merge by themselves, avg must be carried as (sum, count) parts —
    derive the ratio at read time."""
    if agg_exprs is None:
        from pyspark.sql import functions as _F

        agg_exprs = {"n": _F.count(_F.lit(1))}
    # true FLOOR division (Spark's DIV truncates toward zero, which
    # would collapse ts in (-bucket_ns, bucket_ns) into bucket 0 for a
    # negative-ts corpus; _floor_div is exact at any BIGINT magnitude).
    # NOTE for oracle authors: DuckDB's `//` ALSO truncates toward
    # zero (verified: -7//2 = -3, -1//86400 = 0), so a SQL replay of
    # this bucketing is only `ts // span` for non-negative ts; a
    # negative-ts corpus needs the exact integer floor idiom
    # (ts - ((ts % span) + span) % span) / span on both engines.
    bucket = _floor_div(F.col(ts_col), bucket_ns)
    # key columns carry metadata so merge_rollups can recover the exact
    # key set without type-based guessing (a numeric group key summed as
    # an aggregate partial is silent corruption — r7 ADVICE)
    meta = {_ROLLUP_KEY_META: True}
    return events.groupBy(
        bucket.alias("bucket", metadata=meta),
        *[F.col(k).alias(k, metadata=meta) for k in keys],
    ).agg(*[c.alias(name) for name, c in agg_exprs.items()])


#: schema-metadata marker rollup_delta stamps on its group-key columns;
#: survives select/union and the parquet round-trip (Spark persists
#: field metadata in the parquet footer), so merge_rollups can recover
#: the exact key set of a state that has been written and re-read
_ROLLUP_KEY_META = "xesmf.rollup_key"

#: merge functions usable per partial column (each is a monoid whose
#: merge over partials equals the aggregate over raw rows)
_MERGE_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # Datasketches HLL union: a SKETCH is itself a mergeable partial,
    # so a rollup can maintain COUNT(DISTINCT) state incrementally —
    # store hll_sketch_agg(col) in the delta, merge with the union,
    # estimate at read time (never assert sketch identity, only
    # bounded estimate gaps — the events_hll_merge discipline)
    "hll": F.hll_union_agg,
}


def merge_rollups(
    *states: DataFrame,
    keys: list[str] | None = None,
    merge: dict[str, str] | None = None,
) -> DataFrame:
    """Merge partial rollup states: union + one re-aggregation of every
    non-key column with its merge monoid — ``sum`` by default, or
    ``min``/``max`` per column via ``merge`` (e.g. ``{"lo": "min",
    "hi": "max"}``); count merges as sum, avg must be carried as
    (sum, count) partials and divided at read time. When ``keys`` is
    omitted the key set is recovered from the ``xesmf.rollup_key``
    column metadata that :func:`rollup_delta` stamps on its group keys
    (exact for any key type, numeric included); states built outside
    rollup_delta carry no such metadata and MUST pass ``keys``
    explicitly — inference then raises rather than silently summing a
    numeric group key as if it were an aggregate partial. The
    merge touches only STATE rows — O(buckets x keys), independent of
    raw event volume — which is the entire point of a continuous
    aggregate at 100 TB/day: the refresh cost tracks the delta, the
    merge cost tracks the rollup's own (small) cardinality."""
    if len(states) < 2:
        raise ValueError("merge_rollups needs at least two states")
    cols = states[0].columns
    for s in states[1:]:
        if s.columns != cols:
            raise ValueError(f"state schema mismatch: {cols} vs {s.columns}")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    if keys is None:
        keys = [
            f.name for f in u.schema.fields if f.metadata.get(_ROLLUP_KEY_META)
        ]
        if not keys:
            raise ValueError(
                "merge_rollups cannot infer group keys: no column carries "
                "the xesmf.rollup_key metadata written by rollup_delta. "
                "Pass keys=[...] explicitly for hand-built states "
                "(type-based guessing would silently SUM a numeric group "
                "key as an aggregate partial)."
            )
    agg_cols = [c for c in cols if c not in keys]
    if not agg_cols:
        raise ValueError("no aggregate partial columns to merge")
    merge = merge or {}
    bad = {c: m for c, m in merge.items() if m not in _MERGE_FNS or c not in agg_cols}
    if bad:
        raise ValueError(
            f"merge must map partial columns to one of {sorted(_MERGE_FNS)}, got {bad}"
        )
    return u.groupBy(*keys).agg(
        *[_MERGE_FNS[merge.get(c, "sum")](c).alias(c) for c in agg_cols]
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period_ns: int,
) -> DataFrame:
    """Cohort retention matrix: users grouped by the period of their
    FIRST event (the cohort), counted distinct in every later period
    they return (the offset).  The canonical product-analytics rollup
    (reference scope: none — beyond-reference training-analytics op).

    Output: (cohort_period, offset_periods, n_users) where
    cohort_period = floor(first_ts / period_ns) and offset_periods =
    activity period - cohort period (0 = the cohort's own period).

    Scale shape: per-user MIN is a mergeable partial (map-side combine
    before the user-keyed shuffle); the cohort join reuses the groupBy's
    hash partitioning on the firsts side and shuffles raw events by the
    same natural, evenly-distributed user key; the final COUNT(DISTINCT
    user) is Spark's two-phase expand on the (cohort, offset, user)
    reduced set.  No window, no sort, no driver collection — the matrix
    is O(periods^2) rows regardless of event volume."""
    u, t = F.col(user_col), F.col(ts_col)
    firsts = events.groupBy(user_col).agg(F.min(ts_col).alias("__first_ts"))
    joined = events.select(user_col, ts_col).join(firsts, user_col)
    return (
        joined.select(
            u.alias("__u"),
            _floor_div(F.col("__first_ts"), period_ns).alias("cohort_period"),
            (_floor_div(t, period_ns) - _floor_div(F.col("__first_ts"), period_ns)).alias(
                "offset_periods"
            ),
        )
        .groupBy("cohort_period", "offset_periods")
        .agg(F.countDistinct("__u").alias("n_users"))
    )


def session_transitions(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    gap_ns: int,
) -> DataFrame:
    """Markov transition counts over sessionized event paths: for each
    user, order events by time, break sessions at gaps > ``gap_ns``,
    and count (previous event type -> event type) bigrams WITHIN a
    session.  The path-analysis primitive behind sankey funnels and
    next-action models.

    Determinism contract: (user, ts) must be unique (true of the events
    table); ordering by ts alone is then total per user and the oracle's
    LAG mirrors it exactly.

    Scale shape: ONE user-keyed exchange + one sort feeds both window
    functions (lag-ts for the session break and lag-type for the
    bigram share the identical window spec, so Catalyst evaluates them
    in a single Window operator); the bigram count is a map-side
    combinable agg on a (types x types)-bounded key space."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    t = F.col(ts_col)
    flagged = events.select(
        user_col,
        ts_col,
        type_col,
        (t - F.lag(t).over(w) > F.lit(gap_ns)).alias("__new_session"),
        F.lag(type_col).over(w).alias("__prev_type"),
    )
    return (
        flagged.filter(
            F.col("__prev_type").isNotNull() & ~F.coalesce("__new_session", F.lit(True))
        )
        .groupBy(F.col("__prev_type").alias("prev_type"), F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def topk_per_group(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    k: int,
    tie_cols: list[str],
) -> DataFrame:
    """EXACT top-k rows per group without shuffling the full input to a
    window sort: a per-partition partial top-k (the map-side combine
    that window functions cannot do) reduces each input partition to at
    most groups x k rows BEFORE the shuffle, then one tiny window pass
    finalizes.  ORDER: ``order_col`` DESC, then ``tie_cols`` ASC — the
    tie columns must make the order total or top-k is ill-defined.

    Correctness: every global top-k row is a fortiori in its own
    partition's top-k under the same total order, so the partial pass
    never drops a candidate.

    Scale shape: at 100 TB the shuffle carries partitions x groups x k
    rows instead of every row — the same reduction a combiner gives
    SUM.  The final window sorts only that reduced set.  Memory per
    task is O(groups x k) (the running panel), vectorized in pandas."""
    import pandas as pd

    schema = df.schema
    names = [f.name for f in schema.fields]
    # The partial pass must reproduce Spark's window order EXACTLY or
    # it can drop a true top-k row. Spark's defaults: DESC => NULLS
    # LAST (order_col), ASC => NULLS FIRST (tie cols). pandas
    # na_position is one global setting, so emulate per-column null
    # placement with explicit is-null sort keys. NOTE the remaining
    # pandas caveat: a nullable int64 column holding NULLs degrades to
    # float64 in Arrow->pandas, so order/tie values above 2^53 must be
    # null-free (docstring contract).
    by, asc = [], []
    flags = []
    for col, col_asc in [(order_col, False)] + [(t, True) for t in tie_cols]:
        fl = f"__isnull_{col}"
        flags.append((fl, col))
        # DESC NULLS LAST: isnull ASC (False first); ASC NULLS FIRST:
        # isnull DESC (True first)
        by += [fl, col]
        asc += [col_asc is False, col_asc]

    def partial_topk(batches):
        running = None
        for pdf in batches:
            both = pdf if running is None else pd.concat(
                [running, pdf], ignore_index=True
            )
            for fl, col in flags:
                both[fl] = both[col].isna()
            both = both.sort_values(by, ascending=asc, kind="mergesort")
            running = both.groupby(keys, sort=False, dropna=False).head(k)
        if running is not None and len(running):
            yield running[names]

    reduced = df.mapInPandas(partial_topk, schema=schema)
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[F.col(c).asc() for c in tie_cols]
    )
    return (
        reduced.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def scd2_build(
    changes: DataFrame,
    key: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history from a change stream:
    per key, ordered by ``ts_col``, rows whose attributes equal the
    previous row's are collapsed, and each surviving version gets
    ``valid_from`` (its own ts), ``valid_to`` (the next version's ts,
    NULL while current) and ``is_current``.  The CDC-to-dimension step
    of every warehouse load; :func:`merge_upsert` is its Type-1
    sibling and :func:`asof_join` the point-in-time lookup.

    Determinism contract: (key, ts) must be unique — pre-aggregate
    same-timestamp changes (e.g. MAX per key+ts) before calling.

    Scale shape: one key-hashed exchange + one sort serves all three
    window expressions (identical window spec); everything else is a
    narrow projection.  History size tracks the number of genuine
    attribute changes, not raw change volume."""
    w = Window.partitionBy(key).orderBy(ts_col)
    same = None
    for c in attr_cols:
        eq = F.lag(c).over(w).eqNullSafe(F.col(c))
        same = eq if same is None else (same & eq)
    kept = (
        changes.withColumn("__dup", F.coalesce(same, F.lit(False)))
        .filter(~F.col("__dup"))
        .drop("__dup")
    )
    w2 = Window.partitionBy(key).orderBy(ts_col)
    return kept.select(
        key,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def _rank_walk(
    ed: DataFrame,
    deg: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    share: str,
    update: str,
    iters: int,
) -> DataFrame:
    """The step loop of the PageRank family: ``iters`` rounds of
    ``y = A·x`` as a join plus a group-by-sum.  ``ed`` is the pinned
    (src, dst, per-source columns) edge frame, partitioned on src, and
    ``deg`` the pinned ``src`` set of nodes with out-edges.  Each round
    sums the per-edge ``share`` (SQL over ``ed``'s columns and
    ``rank_micro``) per dst into ``__in``; sums the rank held by
    dangling nodes (no out-edges — it would otherwise vanish) into the
    1-row ``__dang``; and left-joins both onto ``nodes``, where
    ``update`` (SQL over ``nodes``' columns, ``__in`` and ``__dang``)
    is the new ``rank_micro``.  Each variant owns its pinned
    recurrence through ``share`` and ``update``.  Lineage is truncated
    per round with a lazy localCheckpoint, so ``iters`` stays
    bounded-plan."""
    for _ in range(iters):
        contribs = ed.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), F.expr(share).alias("__share")
        )
        dang = ranks.join(
            deg.select(F.col("src").alias("node")), "node", "left_anti"
        ).agg(F.coalesce(F.sum("rank_micro"), F.lit(0)).alias("__dang"))
        ranks = (
            nodes.join(
                contribs.groupBy("node").agg(F.sum("__share").alias("__in")),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(dang))  # 1 row — scalar broadcast
            .select("node", F.expr(update).alias("rank_micro"))
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damp_micro: int = 850_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list (src, dst) in EXACT
    integer micro-units: rank starts at 1e6 // N per node, and each
    iteration every node receives base + sum over in-edges of
    ``rank * damp_micro // (1_000_000 * outdeg)`` with
    ``base = (1_000_000 - damp_micro) // N``.  All arithmetic is
    truncating BIGINT division on positive values, so Spark and any
    SQL engine replaying the recurrence agree bit-for-bit — the
    differential-testing discipline for iterative algorithms (float
    PageRank would drift by summation order).  Dangling-node mass
    (rank held by nodes with no out-edges) is redistributed uniformly
    each iteration — every node additionally receives
    ``dangling_sum * damp_micro // (1_000_000 * N)`` — the standard
    teleport correction, so total rank mass is conserved up to
    truncation remainders (< 1 micro-unit per division) instead of
    leaking the dangling share every iteration.

    Scale shape: each iteration is one keyed equi-join of the edge
    list with the O(N) rank table plus a map-side-combinable SUM,
    plus ONE scalar aggregate (the dangling sum, an anti-join + SUM
    broadcast back as a 1-row crossJoin) — the standard distributed
    PageRank plan; lineage is truncated per iteration with
    localCheckpoint so ``iters`` stays bounded-plan.  The only driver
    scalar is N (one count)."""
    # the edge list (and everything upstream of it — for textrank a
    # tokenize+window pass, for the trade graphs a lineitem join) is
    # invariant across iterations but was re-executed by EVERY consumer:
    # outdeg (1x), each iteration's contribs join (iters x), and the
    # per-iteration dangling anti-join re-derived outdeg again.  Persist
    # the (src, dst, outdeg) frame ONCE, pre-partitioned on src — the
    # per-iteration join key — so each iteration shuffles only the O(N)
    # rank table against the cached partitioning (guide §2.4 "remove
    # shuffles outright" + §5 caching: reused AND expensive to
    # recompute).  repartition(src) inherits spark.sql.shuffle.partitions
    # (scale-adaptive via conf, not a local[32] constant).
    e = edges.select(F.col("src"), F.col("dst")).distinct()
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    depth = mark()
    nodes = pin(nodes)
    n = nodes.count()
    if n == 0:
        release_since(depth)
        return e.sparkSession.createDataFrame([], "node long, rank_micro long")
    base = (1_000_000 - damp_micro) // n
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = pin(e.join(outdeg, "src").repartition(F.col("src")))
    outdeg_nodes = pin(outdeg.select("src"))
    ranks = nodes.select("node", F.lit(1_000_000 // n).alias("rank_micro"))
    # exact BIGINT truncating division (both operands positive, so
    # Spark DIV == DuckDB // bit-for-bit); double division + cast would
    # truncate an INEXACT quotient and can disagree near integer
    # boundaries
    share = f"(rank_micro * {damp_micro}L) div (1000000L * outdeg)"
    dang = f"(__dang * {damp_micro}L) div (1000000L * {n}L)"
    update = f"{base} + coalesce(__in, 0) + {dang}"
    return _rank_walk(ed, outdeg_nodes, nodes, ranks, share, update, iters)


def concurrency_profile(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_ns: int,
) -> DataFrame:
    """Sweep-line interval concurrency as a DISTRIBUTED prefix sum:
    per time bucket, the maximum number of simultaneously-active
    ``[start, end)`` intervals — "peak concurrent sessions per day",
    the classic capacity-planning query.

    The naive sweep line is a GLOBAL ordered running sum — a
    single-partition window, the one shape that cannot scale. This is
    the textbook two-phase scan instead:

    1. endpoints become ±1 deltas ((start, +1), (end, -1)) and land in
       time buckets; the running sum WITHIN a bucket is an ordinary
       partitioned window (parallel across buckets), yielding each
       bucket's ``local_max`` and ``net`` change;
    2. the carry INTO each bucket is a window over the O(buckets)
       per-bucket net table — tiny — and
       ``max_concurrent = carry_in + local_max``.

    Phase 1 is one keyed exchange over endpoint volume; phase 2 runs
    on rows = distinct buckets. No global sort of the data anywhere.

    Half-open ``[start, end)`` semantics: deltas collapse PER INSTANT
    before the scan (one row per distinct timestamp), so an interval
    ending exactly when another starts nets to zero — never counted as
    overlap — and the scan order is total with no tie rule. Exact
    integers throughout, so any SQL engine replays it bit-for-bit.

    Output: (bucket, max_concurrent) for every bucket containing at
    least one endpoint — including the carry held BEFORE the bucket's
    first endpoint (an ending interval peaks before its end event);
    buckets fully inside a long interval carry no endpoint and are
    omitted (gap-fill downstream if a dense axis is needed — their
    concurrency is the previous bucket's carry-out)."""
    pts = intervals.select(
        F.col(start_col).alias("__ts"), F.lit(1).alias("__d")
    ).unionAll(
        intervals.select(F.col(end_col).alias("__ts"), F.lit(-1).alias("__d"))
    )
    # collapse deltas PER INSTANT first: concurrency is only observable
    # after ALL deltas at an instant apply — an intermediate running
    # value inside a same-instant group (e.g. the first of two ends at
    # the same ts) is not a real state and must never become a peak.
    # This also makes the scan order total with no tie rule: one row
    # per (bucket, instant).
    inst = (
        pts.withColumn("bucket", _floor_div(F.col("__ts"), bucket_ns))
        .groupBy("bucket", "__ts")
        .agg(F.sum("__d").alias("__d"))
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("__ts").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # peak per instant = max(running AFTER its deltas, running BEFORE
    # them): the "before" leg makes a bucket whose first endpoint is an
    # end still report the concurrency carried INTO it (an active
    # interval peaks before its end event). EXCEPT at a bucket's exact
    # first instant (ts == bucket*span): the before-state held only in
    # the PREVIOUS bucket — counting it would report an interval ending
    # exactly on the edge as active in a bucket it never touched.
    edge = (((F.col("__ts") % bucket_ns) + bucket_ns) % bucket_ns) == 0
    local = inst.withColumn("__run", F.sum("__d").over(w_in)).withColumn(
        "__peak",
        F.greatest(
            F.col("__run"),
            F.when(edge, F.col("__run")).otherwise(
                F.col("__run") - F.col("__d")
            ),
        ),
    )
    per_bucket = local.groupBy("bucket").agg(
        F.max("__peak").alias("__local_max"),
        F.sum("__d").alias("__net"),
    )
    # O(buckets) rows: the carry scan is a window over bucket totals,
    # never over the data — single partition here is by design and
    # bounded (days/hours, not events)
    w_carry = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket.withColumn(
            "__carry_in", F.sum("__net").over(w_carry) - F.col("__net")
        )
        .select(
            "bucket",
            (F.col("__carry_in") + F.col("__local_max")).alias(
                "max_concurrent"
            ),
        )
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Key-level reconciliation of two table versions — the diff/audit
    primitive of every migration and replication pipeline ("did the
    copy land exactly?"): per key, whether the row was ``added`` (right
    only), ``removed`` (left only), ``changed`` (both sides, any
    compared column differs), or ``unchanged``.

    Comparison is NULL-safe per column (``<=>`` semantics: NULL equals
    NULL, differs from everything else), so a column going NULL↔value
    reports ``changed``, and engines replay it exactly — no row-hash
    whose function another engine might lack. Keys are assumed unique
    per side (pre-aggregate or dedup first; duplicate keys make "the
    row for this key" ill-posed on either side).

    Scale shape: ONE full-outer equi-join on the key — a single keyed
    shuffle of both sides; the status expression is a pure projection.
    At 100 TB prefer both sides bucketed on the key (zero-shuffle SMJ,
    see ``orders_bucketed_join``); for a cheap first pass, aggregate a
    per-partition XOR/SUM of row fingerprints and only run this
    per-key diff on partitions whose fingerprints disagree."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    cmp_cols = (
        list(compare_cols)
        if compare_cols is not None
        else [c for c in left.columns if c not in keys]
    )
    for c in keys + cmp_cols:
        if c not in left.columns or c not in right.columns:
            raise KeyError(f"column {c!r} missing from one side")
    l_sel = left.select(*keys, *cmp_cols, F.lit(1).alias("__in_l"))
    r_sel = right.select(
        *keys,
        *[F.col(c).alias(f"__r_{c}") for c in cmp_cols],
        F.lit(1).alias("__in_r"),
    )
    j = l_sel.join(r_sel, keys, "full_outer")
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"__r_{c}"))
    status = (
        F.when(F.col("__in_l").isNull(), F.lit("added"))
        .when(F.col("__in_r").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("diff_status"))


def _symmetric(edges: DataFrame) -> DataFrame:
    """Pin the distinct both-way (src, dst) pairs of ``edges`` — the
    undirected edge list of label propagation and the components
    family — pre-partitioned on dst, the key every round's neighbor
    join uses, so rounds shuffle only the O(N) label table against the
    cached partitioning (guide §2.4).  The caller releases it (see
    :func:`~xesmf_spark.materialize.mark`) once its eager per-round
    checkpoints have consumed it."""
    e = edges.select("src", "dst").distinct()
    return pin(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(F.col("dst"))
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (community
    detection) over an edge list (src, dst), treated as undirected.
    Every node starts with its own id as label; each iteration every
    node adopts the most frequent label among its NEIGHBORS' previous-
    iteration labels plus ONE vote for its own current label, ties
    broken by the smallest label (Raghavan et al. 2007, the
    deterministic synchronous variant: the classic async/random-order
    formulation is not replayable, so differential testing forces the
    synchronous one — same determinism trade the integer PageRank
    above makes for float PageRank). The self-vote is the standard
    damping for synchronous updates: without it a bipartite graph
    two-colors itself and oscillates between sides every iteration.

    All state is integral (labels are node ids, votes are counts), so
    a SQL engine replaying the recurrence agrees bit-for-bit — no
    float drift, no RNG.

    Scale shape: per iteration ONE keyed equi-join of the symmetrized
    edge list against the O(N) label table, one (node, label) count
    agg, and one per-node top-1 window (partitioned by node — never
    global). Lineage truncated per iteration with an EAGER
    localCheckpoint — eager so each iteration's join consumes the
    pinned symmetrized edge list while it is still cached (a lazy
    checkpoint would defer every join past the release below and
    recompute ``sym`` per iteration), so ``iters`` stays bounded-plan.
    No driver scalars at all; nothing collects. Skewed hub nodes are
    bounded by their degree (the vote agg is map-side combinable on
    (node, label))."""
    depth = mark()
    sym = _symmetric(edges)
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    top1 = Window.partitionBy("node").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        nbr = sym.join(
            labels.select(F.col("node").alias("dst"), F.col("label")),
            "dst",
        ).select(F.col("src").alias("node"), "label")
        votes = (
            nbr.unionByName(labels)
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = (
            votes.withColumn("rnk", F.row_number().over(top1))
            .filter(F.col("rnk") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    release_since(depth)
    return labels


def connected_components(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS min-label propagation over an edge
    list (src, dst), treated as undirected: every node starts labeled
    with its own id; each round every node takes the minimum of its
    own label and its neighbors' previous-round labels. After exactly
    ``iters`` rounds a node's label is the smallest node id within
    graph distance ``iters`` — for every component whose diameter is
    at most ``iters`` that IS the component id (its minimum node id),
    and the fixed round count makes the op bit-exact replayable by a
    chained-CTE SQL oracle (the same determinism contract as
    :func:`label_propagation` and :func:`kcore_nodes`; a
    converge-and-stop variant exists as ``pipeline.dedup_groups``,
    which runs a driver-side convergence count per round — this one
    runs NO driver work at all).  Hash-to-min propagation doubles the
    reached radius per round only with path doubling; plain min
    propagation reaches radius ``iters``, so pick ``iters`` >= the
    diameter you care about.  The O(log n) alternating star
    contraction of Kiveris et al. (SOCC'14) is the public drop-in
    upgrade for adversarial long-chain graphs.

    Returns (node, component) — all integer state, no RNG, no floats.

    Scale shape: per round ONE keyed equi-join of the symmetrized edge
    list against the O(N) label table plus one map-side-combinable MIN
    agg — O(|E|) shuffle per round, never all-pairs, no windows, no
    driver scalars. Lineage truncated per round with an eager
    localCheckpoint (consumes the pinned edge list while cached —
    the :func:`label_propagation` discipline)."""
    depth = mark()
    sym = _symmetric(edges)
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    for _ in range(iters):
        nbr = sym.join(
            labels.select(F.col("node").alias("dst"), F.col("component")),
            "dst",
        ).select(F.col("src").alias("node"), "component")
        labels = (
            nbr.unionByName(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
    release_since(depth)
    return labels


def connected_components_converged(
    edges: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """CONVERGED connected components via min-label propagation with
    pointer SHORTCUTTING — the O(log-diameter) upgrade over
    :func:`connected_components`' fixed-radius rounds, for graphs with
    long chains (the Shiloach-Vishkin shortcut idea; same family as
    Kiveris et al.'s star contraction, SOCC'14 — public knowledge).
    Per round, with label table f (initialized f(v) = v):

        h(v)  = min(f(v), min over neighbors u of f(u))   # hook
        f'(v) = min(h(v), h(f(v)))                        # shortcut

    Both rules only ever move a label to a smaller node id from the
    same component (labels are component-internal node ids by
    induction), so the fixpoint is constant per component and equals
    the component's minimum id; the shortcut composes pointer chains,
    doubling the effective radius per round — a 200-node path
    converges in ~9 rounds where plain propagation needs 200.  Stops
    at the first round with zero label changes (one bounded driver
    scalar per round — the ``pipeline.dedup_groups`` convergence
    discipline, vs. the fixed-round replayable contract of
    :func:`connected_components`: use THAT when an external engine
    must replay the recurrence bit-for-bit, use THIS when the graph's
    diameter is unknown and convergence is the contract).

    Returns (node, component) — all integer state, no RNG, no floats.

    Scale shape: per round THREE keyed equi-joins (edge x labels,
    labels x labels for the shortcut, and the old-label carry that
    folds the convergence check into the round's checkpoint) +
    map-side-combinable MIN aggs + one limit-1 changed SCAN over the
    just-materialized frame (no separate join job); lineage truncated
    per round with an eager localCheckpoint. O(|E|) shuffle per
    round, O(log diameter) rounds."""
    depth = mark()
    sym = _symmetric(edges)
    f = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr = sym.join(
            f.select(F.col("node").alias("dst"), "comp"), "dst"
        ).select(F.col("src").alias("node"), "comp")
        h = (
            nbr.unionByName(f)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # shortcut: h(f(v)) — follow the CURRENT pointer one hop into h
        hp = (
            f.select("node", F.col("comp").alias("ptr"))
            .join(h.select(F.col("node").alias("ptr"), "comp"), "ptr")
            .select("node", "comp")
        )
        # convergence check folded into the round's checkpoint: the
        # old-label join reuses the min-agg's node partitioning and
        # the node sets are identical by construction, so "changed"
        # is a scan over the just-materialized frame — one exchange
        # of newf + one join JOB removed per round (the
        # pipeline.dedup_groups discipline; guide §2.4)
        newf = (
            h.unionByName(hp)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .join(f.withColumnRenamed("comp", "old"), "node")
            .localCheckpoint(eager=True)
        )
        changed = newf.filter(F.col("comp") != F.col("old")).limit(1).count()
        f = newf.select("node", "comp")
        if changed == 0:
            break
    release_since(depth)
    return f.select("node", F.col("comp").alias("component"))


def _oriented(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The degree-oriented edge set of the triangle family: ``und``
    (a, b) the distinct undirected non-loop edges with a < b, ``deg``
    (node, deg) their degrees, and ``o`` (u, v) every edge oriented
    from its lower (deg, id) endpoint to its higher one — a total
    order, so every undirected edge gets exactly one direction."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # und feeds deg, the orientation join, AND the edge count —
        # truncate lineage so the (possibly expensive) edge derivation
        # upstream runs ONCE, not once per output branch (measured
        # 11.7 s -> the wedge join alone on the sf0.1 co-purchase
        # graph without it)
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    o = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        # o feeds both wedge sides and the closing-edge probe (3 scans)
        .localCheckpoint(eager=False)
    )
    return und, deg, o


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected graph — the classic
    MapReduce-era graph analytic with the degree-orientation trick
    (Suri & Vassilvitskii's "Counting triangles and the curse of the
    last reducer"): orient every undirected edge from its lower-
    (degree, id) endpoint to its higher one, so a hub of degree d
    contributes wedges only through its few HIGHER-degree neighbors —
    bounding the wedge join at O(m^{3/2}) total work regardless of
    skew, where the naive undirected wedge join is O(sum d^2) and
    dies on the first celebrity node. Every triangle has exactly one
    acyclic orientation u -> v -> w with (u < v < w) in degree order,
    so each is counted exactly once, no /6 correction.

    Returns ONE row: (n_nodes, n_edges, n_triangles) — all exact
    BIGINTs.

    Scale shape: a degree agg, two keyed equi-joins (wedge build =
    oriented x oriented on the middle vertex, then a semi-join of
    wedge endpoints against the oriented edge set), and one global
    count.  One bounded driver scalar (the edge count, which the
    output carries anyway) picks the closing-probe strategy: below
    :data:`TRIANGLE_BROADCAST_MAX_EDGES` the oriented edge set is
    broadcast and the O(m^1.5) wedge table is probed map-side (never
    shuffled); above it — an edge set at 100 TB is not a dim table —
    the wedge table is Bloom-pruned map-side on the (u, w) closing
    keys before the shuffled semi join (:func:`_wedge_closing_semi`),
    so the dominant exchange carries only closing candidates.  No
    windows."""
    und, deg, o = _oriented(edges)
    # wedges u -> v -> w; closing edge must be the oriented (u, w)
    wedges = o.join(
        o.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
    ).select("u", "w")
    # closing probe as LEFT SEMI (o is distinct on (u, v), so inner ≡
    # semi and wedge MULTIPLICITY — one row per distinct middle vertex
    # — is preserved either way).  The wedge table is the O(m^1.5)
    # dominant exchange of the operator (49M rows vs 1.2M edges on the
    # sf0.1 co-purchase graph); when the edge list fits the broadcast
    # bound, probing it map-side removes that exchange outright
    # (guide §3.1/§3.2 — the count below doubles as the n_edges
    # output, so the driver scalar is work the query already owed).
    n_e = und.count()
    tri = _wedge_closing_semi(wedges, o, n_e)
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    out = (
        n_nodes.crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            F.lit(n_e).cast("long").alias("n_edges"),
            "n_triangles",
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )
    return out


def shared_neighbor_jaccard(
    edges: DataFrame,
    max_neighbor_degree: int = 1000,
    min_inter: int = 1,
) -> DataFrame:
    """Link-prediction candidate scoring on a bipartite graph: for
    every pair of LEFT nodes sharing at least ``min_inter`` RIGHT
    neighbors, the Jaccard similarity of their neighbor sets — the
    "customers who buy from the same suppliers" primitive
    (collaborative filtering's item-item / user-user first stage).

    Candidate pairs come from a shared-neighbor equi-join (self-join
    of the edge list on the RIGHT node — never all-pairs), with the
    LSH-style skew valve: RIGHT nodes whose degree exceeds
    ``max_neighbor_degree`` are excluded from candidate GENERATION
    (a neighbor shared by everyone predicts nothing and would emit
    deg^2 pairs), and ``min_inter`` is a generation threshold on the
    VALVE-PASSING shared count (pairs sharing only hub neighbors are
    never emitted — documented recall trade, same as any LSH).  The
    SCORE, however, is exact: for every generated pair the
    intersection is re-counted over the UNFILTERED edge set (one
    candidate-bounded keyed join back), and n_a/n_b are full degrees
    — so n_inter and jaccard_micro are the true values, hubs
    included, not valve-filtered lower bounds.

    All-integer score: jaccard_micro = (1e6 * |A∩B|) // |A∪B| exact
    BIGINT (truncating division on positives — bit-identical in any
    SQL replay). Returns (src_a, src_b, n_inter, n_a, n_b,
    jaccard_micro) with src_a < src_b.

    Scale shape: one degree agg, one keyed self-join on the right
    node (valve-bounded), one pair-count agg, one exact-intersection
    re-count (two keyed equi-joins, output bounded by candidates ×
    left-degree), two keyed degree joins. Map-side combinable
    everywhere; no broadcasts, no windows."""
    e = edges.select("src", "dst").distinct()
    rdeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("rdeg"))
    sizes = e.groupBy("src").agg(F.count(F.lit(1)).alias("n_nbrs"))
    gen = e.join(
        rdeg.filter(F.col("rdeg") <= max_neighbor_degree).select("dst"), "dst"
    )
    cand = (
        gen.alias("x")
        .join(gen.alias("y"), "dst")
        .filter(F.col("x.src") < F.col("y.src"))
        .groupBy(
            F.col("x.src").alias("src_a"), F.col("y.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_gen"))
        .filter(F.col("n_gen") >= min_inter)
        .select("src_a", "src_b")
    )
    # exact intersection for the survivors, over the UNFILTERED edges:
    # expand each candidate by src_a's neighbors, keep those src_b also
    # has — keyed equi-joins bounded by |candidates| x deg(src_a)
    pairs = (
        cand.join(e.select(F.col("src").alias("src_a"), "dst"), "src_a")
        .join(e.select(F.col("src").alias("src_b"), "dst"), ["src_b", "dst"])
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(
            sizes.select(F.col("src").alias("src_a"), F.col("n_nbrs").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("src").alias("src_b"), F.col("n_nbrs").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("(1000000L * n_inter) div (n_a + n_b - n_inter)").alias(
                "jaccard_micro"
            ),
        )
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node — triangles through a
    node over its wedge capacity, ``2*t / (deg*(deg-1))`` — the
    standard cohesion diagnostic on top of :func:`triangle_count`'s
    machinery. Same degree-ordered orientation bounds the wedge join
    at O(m^1.5); the per-triangle vertex attribution is one explode
    of the (u, v, w) triple (3 rows per triangle) + a keyed count.

    All-integer output: (node, deg, n_tri, coeff_micro) with
    ``coeff_micro = (2_000_000 * n_tri) div (deg * (deg - 1))`` —
    exact truncating BIGINT division on positives (degree-1 nodes,
    which have no wedge capacity, are reported with coeff_micro 0).

    Scale shape: triangle_count's joins + one explode + one count
    shuffle keyed on node — nothing new materializes beyond the
    triangle set itself; the closing probe inherits triangle_count's
    conditional-broadcast strategy (one bounded driver scalar)."""
    und, deg, o = _oriented(edges)
    wedges = o.join(
        o.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
    ).select("u", "v", "w")
    # closing probe as conditional-broadcast / bloom-pruned LEFT SEMI
    # — see triangle_count and _wedge_closing_semi: inner ≡ semi on
    # the distinct oriented edge set, and the broadcast (or the bloom
    # prune above the bound) keeps the O(m^1.5) wedge table out of
    # (or small in) the exchange (guide §3.1/§3.2)
    n_e = und.count()
    tri = _wedge_closing_semi(wedges, o, n_e)
    node_tri = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(node_tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(F.col("deg") >= 2,
                F.expr(
                    "(2000000L * coalesce(n_tri, 0L)) div (deg * (deg - 1L))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("coeff_micro"),
        )
    )


def kcore_nodes(edges: DataFrame, k: int, iters: int = 3) -> DataFrame:
    """Fixed-iteration k-core peeling over an undirected edge list:
    each round drops every node whose CURRENT degree is below ``k``
    (and the edges touching it), the classic cohesion filter (Seidman
    1983) that separates a graph's dense backbone from its pendant
    fringe. A fixed ``iters`` bound makes the recurrence replayable
    (the same determinism trade as the fixed-iteration PageRank and
    label propagation above); ``iters`` rounds guarantee every node
    whose peel DEPTH is <= iters is removed, and on graphs whose
    fringe is shallow (real-world degree distributions) the result
    equals the true k-core — callers needing the exact fixed point
    raise ``iters`` until a round removes nothing.

    Returns the surviving nodes with their within-subgraph degree:
    (node, deg) — all exact integers.

    Scale shape: per round one degree agg (map-side combinable) and
    two LEFT SEMI joins of the edge list against the O(N) survivor
    set — never materializes anything beyond the shrinking edge list;
    lineage truncated per round with localCheckpoint."""
    if k < 1 or iters < 1:
        raise ValueError(f"need k >= 1 and iters >= 1, got k={k} iters={iters}")
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    active = sym
    for _ in range(iters):
        keep = (
            active.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )
        active = (
            active.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return (
        active.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        # the last peel can leave sub-k stragglers (their neighbors
        # vanished in the same round); report them — the fixed-iter
        # contract returns the round-``iters`` state, not the fixed
        # point, and the oracle replays exactly that
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    iters: int,
    weight_col: str = "w",
    directed: bool = False,
) -> DataFrame:
    """Fixed-iteration multi-source Bellman-Ford: exact BIGINT min-plus
    relaxation over an edge list ``(src, dst, weight_col)`` from a set
    of ``sources`` nodes — distance to the NEAREST source (the
    multi-source formulation keeps state O(N) instead of O(N·S); run
    per-source for a full distance matrix).  After exactly ``iters``
    rounds ``dist(v)`` is the weight of the cheapest path from any
    source using at most ``iters`` edges — the exact distance whenever
    the hop-diameter of the reachable region is <= ``iters``, and the
    fixed round count makes the op bit-for-bit replayable by a
    chained-CTE SQL oracle (the :func:`connected_components` /
    :func:`pagerank` determinism contract).  Nodes not reached within
    ``iters`` hops are absent from the output (distance "infinity").

    Completes the graph-analytics family (components / LPA / PageRank /
    k-core / triangles / clustering / Jaccard) with the weighted-path
    primitive a relationship-hop analysis needs. All-integer weights —
    no float accumulation anywhere.

    Scale shape: per round ONE keyed equi-join of the (symmetrized if
    undirected) edge list against the O(N) frontier-distance table +
    one map-side-combinable MIN agg — O(|E|) shuffle per round, never
    all-pairs, no driver scalars; lineage truncated per round with an
    eager localCheckpoint."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    if not directed:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    # parallel edges collapse to their min weight up front (halves the
    # per-round join volume on multigraphs; a no-op on simple graphs);
    # pinned PRE-PARTITIONED on src, the key every round's
    # relaxation join uses, so rounds shuffle only the O(N) distance
    # table (guide §2.4).  The groupBy already hash-partitions on
    # (src, dst) — one extra narrow-input exchange here buys iters
    # shuffle-free probe sides.
    depth = mark()
    e = pin(
        e.groupBy("src", "dst").agg(F.min("w").alias("w")).repartition(F.col("src"))
    )
    dist = sources.select(F.col(sources.columns[0]).alias("node")).distinct().select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(iters):
        relaxed = e.join(
            dist.select(F.col("node").alias("src"), F.col("dist")), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        dist = (
            relaxed.unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    release_since(depth)
    return dist


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    directed edge list ``(src, dst)`` in EXACT integer micro-units —
    the link-analysis twin to :func:`pagerank` for bipartite-flavored
    questions ("which nations are big consumers vs big producers"):

        auth_raw(v) = Σ_{u→v} hub(u);   auth = auth_raw·1e6 // Σ auth_raw
        hub_raw(u)  = Σ_{u→v} auth(v);  hub  = hub_raw·1e6 // Σ hub_raw

    L1 normalization (scores sum to ~1e6, truncation remainders only)
    instead of the textbook L2 so every step stays in truncating
    BIGINT division on positive values — Spark and a replaying SQL
    engine agree bit-for-bit, the iterative-algorithm differential
    discipline shared with :func:`pagerank` / :func:`shortest_paths`.
    BIGINT headroom: auth_raw·1e6 ≤ 1e12·max_indegree, so the exact
    path holds to ~1e6 in-degree hubs; beyond that scale the
    normalization to smaller micro units.

    Scale shape: per iteration TWO keyed equi-joins of the edge list
    against the O(N) score table with map-side-combinable SUMs, plus
    two 1-row scalar aggregates broadcast back via crossJoin (never
    collected); lineage truncated per iteration with localCheckpoint.
    The only driver scalar is N (one count). Output:
    ``(node, auth_micro, hub_micro)`` for every node."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    depth = mark()
    e = pin(edges.select("src", "dst").distinct())
    # the auth half-step joins e on src, the hub half-step on dst —
    # every iteration, both directions.  Persist one pre-partitioned
    # copy per key so each half-step shuffles only the O(N) score
    # table (guide §2.4); e itself stays persisted for nodes/degree
    # consumers.
    e_by_src = pin(e.repartition(F.col("src")))
    e_by_dst = pin(e.repartition(F.col("dst")))
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        release_since(depth)
        return e.sparkSession.createDataFrame(
            [], "node long, auth_micro long, hub_micro long"
        )
    if n > 1_000_000:
        # Above 1e6 nodes the integer seed 1e6 // n truncates to 0 and
        # the L1 normalization total can reach 0, turning every score
        # NULL via non-ANSI div while the SQL replay errors — gate
        # loudly instead (rescale the micro unit to go bigger).
        release_since(depth)
        raise ValueError(
            f"hits: {n} nodes exceeds the 1e6-node micro-unit bound; "
            "normalization seed would truncate to 0"
        )
    hub = nodes.select("node", F.lit(1_000_000 // n).alias("s"))

    def _push(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        """One half-step: push scores across edges (key_in -> key_out),
        then L1-normalize to 1e6 total in exact integer arithmetic."""
        raw = (
            nodes.join(
                (e_by_src if key_in == "src" else e_by_dst).join(
                    scores.withColumnRenamed("node", key_in), key_in
                )
                .groupBy(key_out)
                .agg(F.sum("s").alias("__in"))
                .withColumnRenamed(key_out, "node"),
                "node",
                "left",
            )
            .select("node", F.coalesce("__in", F.lit(0)).alias("raw"))
        )
        tot = raw.agg(F.sum("raw").alias("__tot"))  # 1 row — scalar broadcast
        # Defense-in-depth behind the n <= 1e6 gate: a zero total would
        # NULL every score under non-ANSI div; fail loudly instead.
        return raw.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(
                "CASE WHEN __tot <= 0 THEN "
                "raise_error('hits: zero normalization total') "
                "ELSE (raw * 1000000L) div __tot END"
            ).alias("s"),
        )

    auth = None
    for _ in range(iters):
        auth = _push(hub, "src", "dst").localCheckpoint(eager=False)
        hub = _push(auth, "dst", "src").localCheckpoint(eager=False)
    out = (
        nodes.join(auth.withColumnRenamed("s", "auth_micro"), "node")
        .join(hub.withColumnRenamed("s", "hub_micro"), "node")
        .select("node", "auth_micro", "hub_micro")
    )
    return out


def pagerank_weighted(
    edges: DataFrame,
    iters: int = 3,
    damp_micro: int = 850_000,
    weight_col: str = "w",
) -> DataFrame:
    """Edge-WEIGHTED PageRank — rank flows in proportion to edge
    weight (trade volume, link count, citation multiplicity) instead
    of uniformly across out-edges; the variant real link analyses on
    weighted graphs run. Same exact integer micro-unit contract as
    :func:`pagerank`, with the per-edge share

        share = ((rank·damp) DIV 1e6) · w  DIV  W_src

    (divide-then-multiply keeps every intermediate ≤ 850000·W_src —
    BIGINT-safe for any weight scale whose per-source totals fit, vs
    rank·damp·w which overflows at ~1e7-unit weights; this ordering is
    the pinned cross-engine formula, truncating division on positive
    values). Parallel edges pre-collapse by SUM of weight; dangling
    mass (no out-edges) redistributes uniformly as in the unweighted
    op. With all weights equal it is NOT numerically identical to
    :func:`pagerank` (different division order), which is why it is a
    separate pinned recurrence rather than a parameter.

    Scale shape: identical to :func:`pagerank` — per iteration one
    keyed edge-rank equi-join + map-side SUM + one scalar dangling
    agg, eager-truncated lineage; driver scalar = N only."""
    depth = mark()
    e = pin(
        edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    # Loud gate: a NULL or non-positive collapsed weight makes the
    # `div wout` share NULL (silently dropped by SUM — rank mass would
    # vanish) or negative; the SQL replay instead divides by zero.
    # One limit(1) probe over the already-persisted collapsed edges.
    if e.filter(F.col("w").isNull() | (F.col("w") <= 0)).limit(1).count():
        release_since(depth)
        raise ValueError(
            "pagerank_weighted: NULL or non-positive collapsed edge "
            "weight; filter weights > 0 upstream"
        )
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        release_since(depth)
        return e.sparkSession.createDataFrame([], "node long, rank_micro long")
    base = (1_000_000 - damp_micro) // n
    # same invariant-frame discipline as :func:`pagerank`: the
    # (src, dst, w, wout) join is loop-invariant — persist it ONCE,
    # pre-partitioned on src (the per-iteration join key) so each
    # iteration shuffles only the O(N) rank table (guide §2.4/§5)
    wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
    ew = pin(e.join(wout, "src").repartition(F.col("src")))
    wout_nodes = pin(wout.select("src"))
    ranks = nodes.select("node", F.lit(1_000_000 // n).alias("rank_micro"))
    share = f"(((rank_micro * {damp_micro}L) div 1000000L) * w) div wout"
    dang = f"(__dang * {damp_micro}L) div (1000000L * {n}L)"
    update = f"{base} + coalesce(__in, 0) + {dang}"
    return _rank_walk(ew, wout_nodes, nodes, ranks, share, update, iters)


def skyline(
    df: DataFrame,
    maximize: list[str] | None = None,
    minimize: list[str] | None = None,
    max_candidates: int = 2_000_000,
) -> DataFrame:
    """SKYLINE (Pareto-frontier) operator — the multi-criteria "best
    offers" query (Börzsönyi et al., ICDE 2001): keep exactly the rows
    no other row STRICTLY dominates, where q dominates p iff q is >= p
    on every ``maximize`` column, <= p on every ``minimize`` column,
    and strictly better on at least one.  Rows with identical
    criterion vectors dominate each other only non-strictly, so all of
    them survive — the standard skyline tie rule, and the one a
    NOT-EXISTS SQL replay states directly.

    Two-phase distributed plan (the classic MR-skyline shape):

    1. LOCAL PRUNE — ``mapInPandas`` computes the Pareto frontier of
       every Arrow batch (vectorized block-nested-loop on the
       sign-normalized criterion matrix).  Dominance is transitive, so
       a globally non-dominated row is non-dominated in its batch —
       the prune is lossless and reduces candidates from O(n) to the
       frontier size per batch, with zero shuffle.
    2. GLOBAL VERIFY — a broadcast LEFT ANTI self-theta-join of the
       surviving candidates removes cross-batch dominated rows.  The
       quadratic runs only on the pruned candidate set (frontiers are
       typically tiny vs n), and broadcasting it keeps the verify
       shuffle-free too.

    Criterion columns must be non-null (nulls have no place in a
    dominance order — filter upstream); this is asserted cheaply in
    the local phase.  Exactness: comparisons only, no arithmetic — the
    result is the unique frontier SET regardless of partitioning.

    ANTI-CORRELATED VALVE (r13 verdict task): on adversarial data the
    frontier is O(n) (e.g. two perfectly anti-correlated criteria make
    EVERY row non-dominated), so phase 2's broadcast would balloon to
    the input size.  The candidate set is already materialized by the
    eager checkpoint, so its count is free — if it exceeds
    ``max_candidates`` (default 2e6 rows, comfortably inside a
    broadcast at any sane row width) the operator raises LOUDLY with
    the measured count instead of silently attempting a 100-TB-scale
    broadcast.  Callers that genuinely need a huge frontier can raise
    the valve and accept a shuffled sort-merge verify cost.
    """
    maximize = list(maximize or [])
    minimize = list(minimize or [])
    dims = maximize + minimize
    if not dims:
        raise ValueError("skyline needs at least one criterion column")
    if len(set(dims)) != len(dims):
        raise ValueError(f"duplicate criterion column in {dims}")
    schema = df.schema
    # criterion dtype discipline (r13 ADVICE): integral criteria
    # compare in int64 — a float64 matrix silently rounds above 2^53
    # and can FALSELY PRUNE a genuinely non-dominated row (phase 2 only
    # removes candidates, it never restores).  Mixed/float criteria use
    # float64 with a loud 2^53 exactness assert on any integral column.
    _INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long", "short", "byte"}
    col_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in dims:
        if c not in col_types:
            raise ValueError(f"skyline: unknown criterion column {c!r}")
    all_int = all(col_types[c] in _INTEGRAL for c in dims)
    int_cols = [c for c in dims if col_types[c] in _INTEGRAL]
    signs = (
        [1] * len(maximize) + [-1] * len(minimize)
        if all_int
        else [1.0] * len(maximize) + [-1.0] * len(minimize)
    )

    def local_frontier(pdfs):
        import numpy as np

        for b in pdfs:
            if len(b) == 0:
                continue
            if any(b[c].isna().any() for c in dims):
                raise ValueError(
                    "skyline: NULL/NaN in criterion columns — filter "
                    "upstream; dominance over NULL is undefined"
                )
            if all_int:
                Y = np.column_stack(
                    [
                        b[c].to_numpy(np.int64) * s
                        for c, s in zip(dims, signs)
                    ]
                )
            else:
                for c in int_cols:
                    if (np.abs(b[c].to_numpy(np.int64)) > 2**53).any():
                        raise ValueError(
                            f"skyline: integral criterion {c!r} exceeds "
                            "2^53 — float64 comparison would be inexact "
                            "(mixed int/float criteria); rescale upstream"
                        )
                Y = np.column_stack(
                    [
                        b[c].to_numpy(np.float64) * s
                        for c, s in zip(dims, signs)
                    ]
                )
            if (not all_int) and np.isnan(Y).any():
                raise ValueError(
                    "skyline: NULL/NaN in criterion columns — filter "
                    "upstream; dominance over NULL is undefined"
                )
            # sort best-first on the first criterion so kept rows can
            # only be dominated by earlier kept rows (never later ones)
            order = np.lexsort(tuple(Y[:, j] for j in range(Y.shape[1] - 1, -1, -1)))[
                ::-1
            ]
            Y = Y[order]
            keep_idx: list[int] = []
            K = np.empty((0, Y.shape[1]), dtype=Y.dtype)
            for i in range(len(Y)):
                y = Y[i]
                if len(keep_idx):
                    dom = ((K >= y).all(axis=1) & (K > y).any(axis=1)).any()
                    if dom:
                        continue
                keep_idx.append(order[i])
                K = np.vstack([K, y])
            yield b.iloc[sorted(keep_idx)]

    # the candidate set is referenced twice (probe + broadcast build);
    # an eager localCheckpoint materializes the phase-1 prune ONCE —
    # it is frontier-sized, so checkpoint storage is trivial
    cand = df.mapInPandas(local_frontier, schema).localCheckpoint(eager=True)
    n_cand = cand.count()  # free: counts the materialized checkpoint
    if n_cand > max_candidates:
        raise ValueError(
            f"skyline: {n_cand} phase-1 candidates exceed max_candidates="
            f"{max_candidates} — anti-correlated criteria make the frontier "
            "O(n); broadcasting it would be a silent scale explosion. Raise "
            "max_candidates only if the verify join cost is acceptable."
        )
    p = cand.alias("p")
    q = cand.select(
        *[F.col(c).alias(f"__q_{c}") for c in dims]
    ).alias("q")
    geq = [
        (F.col(f"__q_{c}") >= F.col(f"p.{c}"))
        if c in maximize
        else (F.col(f"__q_{c}") <= F.col(f"p.{c}"))
        for c in dims
    ]
    strict = [
        (F.col(f"__q_{c}") > F.col(f"p.{c}"))
        if c in maximize
        else (F.col(f"__q_{c}") < F.col(f"p.{c}"))
        for c in dims
    ]
    cond = geq[0]
    for g in geq[1:]:
        cond = cond & g
    s = strict[0]
    for t in strict[1:]:
        s = s | t
    return p.join(F.broadcast(q), cond & s, "left_anti")


def basket_rules(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item",
    min_pair_support: int = 2,
) -> DataFrame:
    """Association rules over co-occurrence baskets (Agrawal & Srikant
    market-basket shape): for every ORDERED item pair (a -> b) that
    co-occurs in at least ``min_pair_support`` baskets, emit exact
    integer support/confidence/lift:

        support(a,b)      = |baskets containing both|
        conf_micro(a->b)  = (1e6 * support(a,b)) div |baskets with a|
        lift_micro(a->b)  = (1e6 * support(a,b) * N)
                              div (|baskets with a| * |baskets with b|)

    with N = total distinct baskets.  Support/confidence numerators are
    BIGINT; the lift numerator (1e6·support·N can reach 1e6·N² — past
    BIGINT at N ≈ 3e6 baskets, r13 ADVICE) is computed in
    DECIMAL(38,0), exact to N ≈ 9e12 baskets where lift_micro itself
    would no longer fit BIGINT — guarded by a loud raise_error gate on
    N (the hits() discipline), never a silent wrap.  Both directions
    emitted, ties fully determined by the exact integers.
    Differs from :func:`xesmf_spark.pipeline.pmi_collocations` in
    modality (transaction baskets, not token windows) and in the
    measure family (support/confidence/lift — the thresholds a
    recommender actually filters on).

    Scale shape: baskets dedup to (basket, item) ONCE (one exchange on
    the basket key), pair generation is a self-equi-join ON THE BASKET
    KEY (never all-pairs; per-basket quadratic is basket-size-bounded,
    the domain constant), pair counts and item counts are map-side
    combinable aggs, and the two item-frequency joins are item-keyed.
    The 1-row N scalar joins via broadcast crossJoin, never collected.
    Output: ``(item_a, item_b, support, conf_micro, lift_micro)``."""
    if min_pair_support < 1:
        raise ValueError(
            f"min_pair_support must be >= 1, got {min_pair_support}"
        )
    # (basket, item) dedup once; the four consumers below share the
    # IDENTICAL distinct subplan, so Spark's ReusedExchange serves them
    # from one shuffle — no persist needed (and at raw-basket scale a
    # cache of this frame would not fit executor storage anyway)
    bi = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    item_n = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    # lift_micro <= 1e6 * N, so N past ~9.2e12 baskets cannot yield a
    # BIGINT lift — raise loudly (1-row scalar, negligible cost)
    total = bi.select(F.countDistinct("__b").alias("__N")).select(
        F.expr(
            "CASE WHEN __N > 9200000000000 THEN "
            "CAST(raise_error('basket_rules: basket count exceeds the "
            "BIGINT-exact lift bound (9.2e12)') AS BIGINT) "
            "ELSE __N END"
        ).alias("__N")
    )
    a = bi.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = bi.select(F.col("__b"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_pair_support)
    )
    out = (
        pairs.join(
            item_n.select(F.col("__i").alias("item_a"), F.col("__n").alias("__na")),
            "item_a",
        )
        .join(
            item_n.select(F.col("__i").alias("item_b"), F.col("__n").alias("__nb")),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "support",
            F.expr("(1000000L * support) div __na").alias("conf_micro"),
            # DECIMAL(38,0) keeps 1e6*support*N exact far past the
            # BIGINT wrap point (r13 ADVICE); div on decimals is the
            # same integral division DuckDB's HUGEINT replay performs
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * support * __N) "
                "div (CAST(__na AS DECIMAL(38,0)) * __nb) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    return out


def sequential_patterns(
    df: DataFrame,
    session_col: str,
    order_cols: list[str],
    item_col: str,
    max_len: int = 3,
    min_support: int = 2,
) -> DataFrame:
    """CONTIGUOUS sequential-pattern mining over per-session ordered
    event streams (the PrefixSpan family restricted to adjacent
    subsequences — the n-gram-of-behavior variant real clickstream
    mining ships first, and the one a SQL replay can state exactly):
    every run of 2..``max_len`` consecutive items inside a session is
    a candidate pattern; its SUPPORT is the number of DISTINCT
    sessions containing it at least once, and ``n_occurrences`` the
    raw run count.  Patterns below ``min_support`` sessions are
    dropped.  Ordering inside a session is pinned by ``order_cols``
    (pass a unique tiebreaker column last — deterministic sequences
    are the replay contract).

    Differs from :func:`funnel_steps` (fixed caller-named step chain)
    in DIRECTION: the funnel measures known sequences, this op
    DISCOVERS them.

    Scale shape: one per-session window pass producing ``max_len − 1``
    LEAD columns (no self-joins — contiguity makes the n-gram a pure
    window projection), one union of the length slices, one
    map-side-combinable (pattern)-keyed agg with a COUNT DISTINCT on
    the session key.  Output: ``(pattern, length, support,
    n_occurrences)`` with pattern the '>'-joined item run."""
    from pyspark.sql import Window

    if max_len < 2:
        raise ValueError(f"max_len must be >= 2, got {max_len}")
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    w = Window.partitionBy(session_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    leads = df.select(
        F.col(session_col).alias("__s"),
        F.col(item_col).cast("string").alias("__i0"),
        *[
            F.lead(F.col(item_col).cast("string"), k).over(w).alias(f"__i{k}")
            for k in range(1, max_len)
        ],
    )
    slices = []
    for ln in range(2, max_len + 1):
        cols = [F.col(f"__i{k}") for k in range(ln)]
        slices.append(
            leads.filter(F.col(f"__i{ln - 1}").isNotNull()).select(
                "__s",
                F.concat_ws(">", *cols).alias("pattern"),
                F.lit(ln).cast("long").alias("length"),
            )
        )
    runs = slices[0]
    for s in slices[1:]:
        runs = runs.unionByName(s)
    return (
        runs.groupBy("pattern", "length")
        .agg(
            F.countDistinct("__s").alias("support"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("support") >= min_support)
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damp_micro: int = 850_000,
) -> DataFrame:
    """PERSONALIZED PageRank — the teleport vector concentrates on a
    caller-chosen SEED set instead of all nodes (Haveliwala 2002), the
    "related to these items" primitive behind recommendation and
    topic-sensitive ranking.  Same exact integer micro-unit contract
    as :func:`pagerank`, with two personalization changes:

    - the teleport term ``(1e6 − damp) div nS`` lands ONLY on seeds;
    - dangling mass redistributes to the SEEDS (not uniformly) —
      ``(dang · damp div 1e6) div nS`` per seed — the standard PPR
      convention that keeps rank mass flowing back to the topic.

    Initial ranks: ``1e6 div nS`` on seeds, 0 elsewhere.  Every step
    is truncating BIGINT division on non-negative values, so the
    recurrence is bit-replayable by an unrolled-CTE oracle.  Seeds
    not present in the edge list still teleport (they are real nodes
    of the personalized walk); non-seed nodes unreachable from seeds
    keep rank 0 and appear in the output with it.

    Scale shape: identical to :func:`pagerank` — per iteration one
    keyed edge-rank equi-join + map-side SUM + one scalar dangling
    agg broadcast back; eager-truncated lineage; driver scalar = the
    one seed count."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    depth = mark()
    e = pin(edges.select("src", "dst").distinct())
    s = pin(
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node")).distinct()
    )
    n_s = s.count()
    if n_s == 0:
        release_since(depth)
        raise ValueError("pagerank_personalized: empty seed set")
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(s.select("node"))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    is_seed = s.select("node", F.lit(1).alias("__seed"))
    base = pin(nodes.join(is_seed, "node", "left").select(
        "node", F.coalesce("__seed", F.lit(0)).alias("__seed")
    ))
    ranks = base.select(
        "node",
        F.when(F.col("__seed") == 1, F.lit(1_000_000 // n_s))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_micro"),
    )
    tele = (1_000_000 - damp_micro) // n_s
    # invariant-frame discipline (see :func:`pagerank`): the
    # (src, dst, deg) join is loop-invariant — persist once,
    # pre-partitioned on the per-iteration join key
    ed = pin(e.join(out_deg, "src").repartition(F.col("src")))
    deg_nodes = pin(out_deg.select("src"))
    share = f"((rank_micro * {damp_micro}L) div 1000000L) div deg"
    dang = f"((__dang * {damp_micro}L) div 1000000L) div {n_s}L"
    update = (
        f"CAST(CASE WHEN __seed = 1 THEN {tele} ELSE 0 END + coalesce(__in, 0)"
        f" + CASE WHEN __seed = 1 THEN {dang} ELSE 0 END AS BIGINT)"
    )
    return _rank_walk(ed, deg_nodes, base, ranks, share, update, iters)


#: keys sampled per range when dense_rank_distributed draws its
#: boundaries (Spark's RangePartitioner samples about 20 per partition)
_RANK_SAMPLE_PER_RANGE = 20


def _spark_order(v):
    """Sort key that orders collected values as Spark's ascending sort
    does: NULL first, NaN after every other number, structs and arrays
    field by field."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    if isinstance(v, (tuple, list)):
        return (1, tuple(_spark_order(x) for x in v))
    return (1, v)


def dense_rank_distributed(
    df: DataFrame, cols: list[str], out_col: str = "rank"
) -> DataFrame:
    """GLOBAL dense rank over ``cols`` WITHOUT a single-partition
    window — the two-phase form that survives 100 TB where
    ``Window.orderBy(...)`` (no partitionBy) would serialize the whole
    relation through one task:

    1. range boundaries from ONE driver-side sample of the keys
       (a uniform random top-k, in Spark's order), written into the plan
       as literals; each row's range ``__pid`` is a binary search of
       its key among them — a deterministic, monotone function of the
       key, so equal keys share a range and ranges are ordered.
    2. a PER-RANGE dense_rank (window partitioned by ``__pid`` —
       parallel, no global sort), plus a tiny per-range distinct-count
       table.
    3. cumulative offsets over that count table (one window over
       O(#ranges) rows) broadcast-joined back:
       global rank = local rank + offset.

    The result is independent of WHERE the boundaries fall (rank is a
    pure function of the ordering), so partition count and sampling
    cannot change values — which is what makes the op oracle-checkable.
    Because ``__pid`` is computed from the key alone, every execution
    of the lineage agrees on it: the pin of the locally ranked rows
    (consumed by the counts and by the join-back) saves a re-execution,
    it does not hold the result together. Ranks are 1-based and dense.
    NULL ordering follows Spark's default (NULLS FIRST ascending) —
    callers that mirror a DuckDB oracle should avoid NULL keys."""
    if not cols:
        raise ValueError("cols must be non-empty")
    from xesmf_spark.session import shuffle_partition_count

    n_ranges = shuffle_partition_count(df.sparkSession)
    key = F.struct(*[F.col(c) for c in cols])
    # the sample executes the input once, as repartitionByRange's own
    # sampling did; callers with an expensive input checkpoint it per
    # round (an input persist regressed the suffix operators in r15)
    top = df.select(key.alias("k")).orderBy(F.rand(7)).limit(_RANK_SAMPLE_PER_RANGE * n_ranges)
    sample = sorted((r[0] for r in top.collect()), key=_spark_order)
    types = {f.name: f.dataType for f in df.schema.fields}
    picks = [sample[p * len(sample) // n_ranges] for p in range(1, n_ranges)] if sample else []
    bounds = [F.struct(*[F.lit(b[c]).cast(types[c]).alias(c) for c in cols]) for b in picks]

    def range_of(lo: int, hi: int):
        # the number of bounds <= key, searched among bounds[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key < bounds[mid], range_of(lo, mid)).otherwise(range_of(mid + 1, hi))

    order = [F.col(c).asc() for c in cols]
    w = Window.partitionBy("__pid").orderBy(*order)
    local = pin(
        df.withColumn("__pid", range_of(0, len(bounds))).withColumn(
            "__lr", F.dense_rank().over(w)
        )
    )
    counts = local.groupBy("__pid").agg(F.max("__lr").alias("__n"))
    woff = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__lr") + F.col("__off")).cast("long"))
        .drop("__pid", "__lr", "__off")
    )


#: Manber-Myers seed width (r15 optimization): round 0 ranks suffixes
#: by their first _SEED_W characters in ONE dense rank instead of
#: log2(_SEED_W) doubling rounds.  Provably the identical partition AND
#: order: rank_w equality is padded w-block-tuple equality, which is
#: truncated prefix-string equality; the 0 pad sorts a shorter matching
#: prefix first, exactly Spark's (and every) lexicographic string
#: order, and UTF-8 byte order is code-point order, so comparing the
#: concatenated prefix bytes == comparing the char tuple — the same
#: classical sentinel argument the suffix_ranks oracle states.  The
#: seed key stays a BOUNDED 16 bytes/row at any corpus scale (never
#: suffix-length-shaped), so the 100-TB memory argument is unchanged.
_SEED_W = 16


def _suffix_prefixes(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """(id, pos, __p): every suffix position of every non-empty doc
    with its first ``w`` characters (truncated at doc end).  Positions
    enumerate 0..length-1 via sequence() — the same character-count
    basis as F.length, which the downstream lens/lead machinery already
    assumes — without materializing a per-char array first."""
    return (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .select(
            "id",
            F.explode(
                F.sequence(F.lit(0), F.length("__t") - F.lit(1))
            ).alias("pos"),
            "__t",
        )
        .select(
            "id", "pos",
            F.expr(f"substring(__t, pos + 1, {int(w)})").alias("__p"),
        )
    )


def suffix_ranks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
) -> DataFrame:
    """Corpus-wide SUFFIX RANKS by prefix doubling — the distributed
    suffix-array construction step (Manber-Myers doubling, the
    algorithm under Lee et al.'s ExactSubstr dedup and every BWT):
    rank every suffix of every document by its first ``k`` characters
    (k a power of two), equal prefixes sharing a dense rank.

    Round 0 dense-ranks the first ``min(k, 16)`` characters DIRECTLY
    (one dense rank over a bounded substring — ranking by a w-char
    prefix string IS w levels of doubling: sentinel-padded block order
    == string order, the same classical argument the oracle leans on,
    so the r15-optimization seed skips log2(16)=4 corpus-sized rounds
    outright); round t then merges each suffix's rank with the rank of
    the suffix ``2^t`` positions later (missing → 0, which orders a
    short matching prefix FIRST — exactly lexicographic string order),
    so log2(k/16) rounds of ONE ``lead(r, 2^t)`` window (positions are
    dense 0..len-1 by construction, so the row ``2^t`` ahead IS
    position ``pos + 2^t`` — one doc-keyed exchange, vs the former
    self-join's two) + ONE :func:`dense_rank_distributed` each produce
    the k-prefix ranks.  No suffix string ever materializes beyond the
    BOUNDED 16-char seed prefix — the memory shape that lets this run
    where "sort all suffixes as strings" cannot (the seed key is a
    constant 16 bytes/row, NOT suffix-length-shaped).

    Returns (id, pos, rank) with pos 0-based and rank the GLOBAL dense
    rank across the whole corpus; the DuckDB oracle replays it as
    DENSE_RANK() OVER (ORDER BY substr(text, pos+1, k)) — string
    comparison and sentinel-padded block comparison agree, which is
    the classical correctness argument for doubling."""
    if k < 1 or (k & (k - 1)) != 0:
        raise ValueError(f"k must be a power of two >= 1, got {k}")
    w0 = min(k, _SEED_W)
    pref = _suffix_prefixes(df, id_col, text_col, w0)
    # truncate lineage per round (the longest_repeats discipline, on
    # the heap): un-truncated, the doubling plan nests once per round
    # and the FINAL plan carried ~2,600 Exchange nodes at k=16
    # (plans/r15/documents_suffix_ranks_before.txt) — the driver spent
    # a visible share of the query optimizing, not executing (guide
    # §7.3).  Each round's pins are released once its checkpoint
    # materializes.
    depth = mark()
    s = dense_rank_distributed(pref, ["__p"], "r").select("id", "pos", "r")
    if k <= w0:
        # the seed IS the answer — one dense rank, no doubling, no
        # checkpoint (single-consumer plan; the dense-rank-internal
        # pin stays registered, the standard non-iterative contract)
        return s.select(
            F.col("id"), F.col("pos").cast("long").alias("pos"),
            F.col("r").alias("rank"),
        )
    s = s.localCheckpoint(eager=True)
    release_since(depth)
    w_doc = Window.partitionBy("id").orderBy("pos")
    t = w0
    while t < k:
        # lead(r, t) over the doc's dense 0..len-1 positions IS the
        # rank at pos+t (row offset == position offset); past-the-end
        # reads NULL → 0, the shorter-prefix-first sentinel.  One
        # exchange (hash by id) replaces the former self-join's two
        # (both legs ranged by (id, pos)) — guide §2.4.
        merged = s.select(
            "id", "pos", "r",
            F.coalesce(F.lead("r", t).over(w_doc), F.lit(0)).alias("r2"),
        )
        s = (
            dense_rank_distributed(merged, ["r", "r2"], "r")
            .select("id", "pos", "r")
            .localCheckpoint(eager=True)
        )
        release_since(depth)
        t *= 2
    return s.select(
        F.col("id"), F.col("pos").cast("long").alias("pos"),
        F.col("r").alias("rank"),
    )


def longest_repeats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """Longest repeated substrings across a corpus — the analytical
    core of Lee-et-al ExactSubstr dedup, answered exactly from the
    distributed suffix order: rank ALL suffixes to full length (a
    16-char substring seed — one dense rank standing in for 4 doubling
    rounds, see _SEED_W — then prefix doubling until 2^m covers the
    longest document), pair each
    suffix with its suffix-order NEIGHBOR (the longest repeat is
    always an adjacent-suffix LCP — the classical suffix-array
    theorem), and compute each pair's LCP by walking the SAVED rank
    tables high-to-low (binary-counter descent: if the 2^j-blocks at
    the current offset agree, advance 2^j) — O(log L) keyed joins per
    level, never a character comparison.

    Sentinel-padding argument (why the walk is exact): rank_k equality
    for suffixes of DIFFERENT remaining lengths is impossible (the
    shorter one's pad can only equal another pad), so an "equal" step
    is always a true k-char match — except when both tails are
    IDENTICAL and equal-length, where the walk may overshoot the end;
    the final LEAST(off, remaining_a, remaining_b) clamp is exact for
    precisely that case.

    Returns the ``top_k`` rows (lcp, a_id, a_pos, b_id, b_pos) by
    (lcp DESC, a_id, a_pos, b_id, b_pos) — a total order, so the cut
    is deterministic.  Scale shape: log2(max_len/16) doubling rounds +
    as many LCP-walk rounds (each ONE keyed equi-join per leg on the
    suffix table) + one prefix-string residue round for the final <16
    chars; the only driver-side values are the 1-row max-length
    aggregate and the top-k TakeOrdered.

    Storage hygiene: the op MATERIALIZES its bounded ``top_k`` result
    (never corpus-shaped), then unpersists every intermediate and
    best-effort deletes the reliable-checkpoint files it wrote (via
    the Hadoop FS API, so the same code cleans HDFS on a cluster).
    Without this, each invocation leaks ~2·log2(L) corpus-sized rank
    frames to the checkpoint dir forever — measured 13 GB of orphans
    under /tmp after one round of local testing.  The cleanup assumes
    no CONCURRENT reliable-checkpoint user in the same SparkContext
    (true for this library: longest_repeats is the only one)."""
    nonempty = df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    # (id, pos, __p): suffix positions with their first _SEED_W chars —
    # the seed dense rank over __p IS log2(_SEED_W) doubling rounds
    # (see _SEED_W), so the stack starts at block 16 and the build
    # loop skips 4 corpus-sized dense_rank+checkpoint rounds
    pref = _suffix_prefixes(df, id_col, text_col, _SEED_W)
    # lens / max_len / n_suffixes are functions of the UN-exploded
    # input — deriving them from the exploded frame (as before the r15
    # optimization round) re-executed the corpus-sized explode once
    # per aggregate and paid a distinct shuffle over exploded rows;
    # the doc-level projection is |docs|-shaped (guide §2.3).
    lens = (
        nonempty.select(
            F.col(id_col).alias("id"), F.length(text_col).alias("len")
        )
        .distinct()
        .persist()
    )
    max_len = lens.agg(F.max("len")).collect()[0][0]
    if max_len is None:
        lens.unpersist()
        raise ValueError("corpus has no non-empty documents")
    # every round checkpoints RELIABLY (disk), not locally (heap):
    # ~log2(max_len) doubling rounds followed by as many LCP-walk
    # rounds would otherwise stack into one plan whose optimization
    # alone stalls the driver (the r11 iterative-lineage lesson), AND
    # the walk must retain EVERY doubling level simultaneously —
    # localCheckpoint pins ~2·log2(L) corpus-sized frames in executor
    # memory and OOMed the 16g driver at 19.7M suffixes; disk
    # checkpoints keep the heap at the working set, the same shape an
    # HDFS-backed cluster run needs
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir("/tmp/xesmf_spark_ckpt")

    # .checkpoint() is EAGER, so the dense-rank helper's internal
    # persist (correctness-load-bearing during ITS execution — see
    # dense_rank_distributed) is dead the moment the checkpoint
    # returns; release it per round instead of pinning ~35 frames
    # until session cleanup
    depth = mark()
    # the seed frame CARRIES __p: the LCP walk's final sub-16 residue
    # is resolved by a direct common-prefix-length expression over
    # these strings (two survivor-sized joins) instead of building and
    # walking rank blocks 8/4/2/1 — one wider checkpoint replaces
    # three corpus-sized dense_rank+checkpoint rounds and three walk
    # rounds (guide §2.2: fewer corpus-shaped shuffles beats narrower
    # rows here; the extra column is a bounded 16 chars)
    s = (
        dense_rank_distributed(pref, ["__p"], "r")
        .select("id", "pos", "r", "__p")
        .checkpoint()
    )
    release_since(depth)
    seed_frame = s
    # Manber-Myers EARLY TERMINATION: once every suffix has a distinct
    # rank (max dense rank == #suffixes), further doubling rounds are
    # identity relabelings — and distinct rank_k means all k-prefixes
    # are distinct, so every adjacent-suffix LCP is < k, within the
    # walk's reach over the SAVED stack (max expressible offset
    # k + k/2 + ... + 1 = 2k − 1 >= k − 1).  On real text ranks go
    # distinct at k ~ a small multiple of the longest repeat — far
    # below the longest DOCUMENT the un-gated loop doubles to.  The
    # check is a 1-row aggregate per round on the just-checkpointed
    # frame.  Identical-document corpora never reach distinctness and
    # fall through to the k >= max_len exit as before.
    n_suffixes = lens.agg(F.sum("len")).collect()[0][0]

    def _max_rank(frame):
        return frame.agg(F.max("r")).collect()[0][0]

    stack = [(_SEED_W, s)]
    w_doc = Window.partitionBy("id").orderBy("pos")
    k = _SEED_W
    mx = _max_rank(s)
    prev_mx = -1
    while k < max_len and mx < n_suffixes and mx > prev_mx:
        # lead(r, k) over the doc's dense positions == rank at pos+k;
        # past-the-end NULL → 0 sentinel.  One doc-keyed exchange
        # replaces the former self-join's two (see suffix_ranks).
        prev_mx = mx
        merged = s.select(
            "id", "pos", "r",
            F.coalesce(F.lead("r", k).over(w_doc), F.lit(0)).alias("r2"),
        )
        s = (
            dense_rank_distributed(merged, ["r", "r2"], "r")
            .select("id", "pos", "r")
            .checkpoint()
        )
        release_since(depth)
        k *= 2
        stack.append((k, s))
        mx = _max_rank(s)
    if mx == prev_mx and mx < n_suffixes:
        # PARTITION FIXED POINT (the duplicate-suffix early exit): the
        # rank partition only refines round over round, so an UNCHANGED
        # distinct count means the refinement was equality — and then
        # it stays equal forever (if P_2k == P_k, then suffixes equal
        # at 2k have their +2k tails equal at 2k too, so P_4k == P_2k;
        # induction).  Corpora with duplicate cross-doc suffixes never
        # reach mx == n_suffixes, and before this gate the loop doubled
        # all the way to max_len through provably-identity relabelings
        # (measured on the sf0.1 bench corpus: ranks froze at k=32,
        # 109 duplicate tails, and 4 doubling + 4 walk rounds ran for
        # nothing).  At the fixed point, EQUAL rank implies the full
        # remaining tails are identical (equal at every 2^m), so the
        # top stack block is promoted to an OVERSIZED block: equality
        # there is a true full-tail match and the final
        # LEAST(off, remaining) clamp — the same mechanism that already
        # handles the k >= max_len exit — recovers the exact LCP.
        # Non-identical pairs differ at the fixed point itself, so
        # their LCP < K/2 stays within the remaining blocks' reach.
        stack[-1] = (max(stack[-1][0], max_len), stack[-1][1])
    # total suffix order: ranks are full-length.  If the loop exited
    # on distinctness the ranks ARE the total order already (the
    # tie-break dense rank would be an identity relabeling — skipped);
    # otherwise ties (identical suffixes) are broken by (id, pos) —
    # dense over a unique triple is a row number
    if mx == n_suffixes:
        ordered = s.select("id", "pos", F.col("r").alias("rn"))
    else:
        ordered = dense_rank_distributed(s, ["r", "id", "pos"], "rn").checkpoint()
        release_since(depth)
    a = ordered.select(
        F.col("rn"), F.col("id").alias("a_id"), F.col("pos").alias("a_pos")
    )
    b = ordered.select(
        (F.col("rn") - 1).alias("rn"),
        F.col("id").alias("b_id"),
        F.col("pos").alias("b_pos"),
    )
    # remaining lengths ride along from the start (they are the prune
    # bound below AND the final clamp — carrying them replaces the two
    # lens joins that used to close the op)
    la = lens.select(F.col("id").alias("a_id"), F.col("len").alias("__la"))
    lb = lens.select(F.col("id").alias("b_id"), F.col("len").alias("__lb"))
    pairs = (
        a.join(b, "rn").drop("rn")
        .join(la, "a_id")
        .join(lb, "b_id")
        .select(
            "a_id", "a_pos", "b_id", "b_pos",
            (F.col("__la") - F.col("a_pos")).alias("__rem_a"),
            (F.col("__lb") - F.col("b_pos")).alias("__rem_b"),
            F.lit(0).alias("off"),
        )
    )
    # LCP walk, largest block first; stack[-1] may exceed max_len —
    # still valid (equality at an oversized block is a true full-tail
    # match, clamped below)
    blocks = list(reversed(stack))
    # the +(_SEED_W - 1) term is the residue step below: after every
    # rank block the walk can still advance up to 15 chars from the
    # prefix-string comparison, so prune upper bounds must include it
    sum_from = [
        sum(b for b, _ in blocks[i:]) + (_SEED_W - 1)
        for i in range(len(blocks))
    ]
    for i, (k, frame) in enumerate(blocks):
        if i > 0:
            # EXACT top-k prune: a pair's final lcp is sandwiched in
            # [least(off, rem_a, rem_b), least(off + sum(remaining
            # blocks), rem_a, rem_b)] — off only grows by true matches
            # and the clamp is monotone.  Any pair whose UPPER bound is
            # strictly below the top_k-th largest LOWER bound can never
            # enter the (lcp DESC, ids) cut, whatever the remaining
            # rounds say, so the corpus-sized pair table collapses to
            # the contenders after the top block and every later walk
            # round (2 keyed joins + a reliable checkpoint each) runs
            # on survivors instead of n_suffixes rows.  The threshold
            # is one TakeOrdered over the just-checkpointed frame;
            # fewer than top_k pairs -> no prune (tk would be
            # undefined), tie-heavy corpora prune nothing and stay
            # exact.
            lows = [
                r[0]
                for r in pairs.select(
                    F.least("off", "__rem_a", "__rem_b").alias("__lb")
                )
                .orderBy(F.desc("__lb"))
                .limit(top_k)
                .collect()
            ]
            if len(lows) == top_k and lows[-1] > 0:
                pairs = pairs.filter(
                    F.least(
                        F.col("off") + F.lit(sum_from[i]),
                        F.col("__rem_a"),
                        F.col("__rem_b"),
                    )
                    >= F.lit(lows[-1])
                )
        ra = frame.select(
            F.col("id").alias("a_id"),
            F.col("pos").alias("__pa"),
            F.col("r").alias("__ra"),
        )
        rb = frame.select(
            F.col("id").alias("b_id"),
            F.col("pos").alias("__pb"),
            F.col("r").alias("__rb"),
        )
        pairs = (
            pairs.withColumn("__pa", F.col("a_pos") + F.col("off"))
            .withColumn("__pb", F.col("b_pos") + F.col("off"))
            .join(ra, ["a_id", "__pa"], "left")
            .join(rb, ["b_id", "__pb"], "left")
            .withColumn(
                "off",
                F.when(
                    F.col("__ra").isNotNull()
                    & (F.col("__ra") == F.col("__rb")),
                    F.col("off") + k,
                ).otherwise(F.col("off")),
            )
            .drop("__pa", "__pb", "__ra", "__rb")
            .checkpoint()
        )
    # SUB-16 RESIDUE, exactly: after the binary-counter descent over
    # blocks >= _SEED_W, a pair's remaining lcp - off is < _SEED_W
    # (greedy powers-of-two down to 16 recover lcp's binary digits;
    # fixed-point corpora: non-identical pairs differ at the frozen
    # block itself, identical tails ride the promoted top block and
    # the clamp).  Join each leg's carried seed-prefix string at the
    # final offset and add the two strings' common prefix length — a
    # monotone sum of 15 prefix-equality indicators, replacing the
    # 8/4/2/1 rank-block builds (3 corpus dense_rank+checkpoint
    # rounds) and their walk rounds (2 corpus-side join exchanges +
    # a checkpoint each) with two survivor-sized joins.  Equal-length
    # identical short tails overshoot (both truncated strings equal ->
    # all 15 indicators fire) exactly like the oversized top block;
    # the final LEAST(off, remaining) clamp recovers them.  Join
    # misses (offset past doc end) contribute 0.
    cpl = F.lit(0)
    for j in range(1, _SEED_W):
        cpl = cpl + F.when(
            F.substring("__sa", 1, j) == F.substring("__sb", 1, j),
            F.lit(1),
        ).otherwise(F.lit(0))
    pa = seed_frame.select(
        F.col("id").alias("a_id"), F.col("pos").alias("__pa"),
        F.col("__p").alias("__sa"),
    )
    pb = seed_frame.select(
        F.col("id").alias("b_id"), F.col("pos").alias("__pb"),
        F.col("__p").alias("__sb"),
    )
    pairs = (
        pairs.withColumn("__pa", F.col("a_pos") + F.col("off"))
        .withColumn("__pb", F.col("b_pos") + F.col("off"))
        .join(pa, ["a_id", "__pa"], "left")
        .join(pb, ["b_id", "__pb"], "left")
        .withColumn(
            "off",
            F.col("off")
            + F.when(
                F.col("__sa").isNotNull() & F.col("__sb").isNotNull(),
                cpl,
            ).otherwise(F.lit(0)),
        )
        .drop("__pa", "__pb", "__sa", "__sb")
    )
    out = pairs.select(
        F.least(
            F.col("off"), F.col("__rem_a"), F.col("__rem_b")
        ).cast("long").alias("lcp"),
        "a_id",
        F.col("a_pos").cast("long").alias("a_pos"),
        "b_id",
        F.col("b_pos").cast("long").alias("b_pos"),
    )
    ranked = out.orderBy(
        F.col("lcp").desc(), "a_id", "a_pos", "b_id", "b_pos"
    ).limit(top_k)
    # materialize the bounded result, then release every byte the op
    # pinned: the rows are <= top_k by construction (a scalar-class
    # collect, never corpus-shaped)
    rows = ranked.collect()
    schema = ranked.schema
    lens.unpersist()
    release_since(depth)
    try:
        ckpt_dir = sc.getCheckpointDir()
        # delete only when the op owns the directory (it set the
        # xesmf_spark_ckpt default above, this call or a prior one);
        # a CALLER-set checkpoint dir may hold the caller's own live
        # checkpoint files, whose lifecycle is theirs
        if ckpt_dir is not None and "xesmf_spark_ckpt" in ckpt_dir:
            jvm = sc._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(ckpt_dir)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            if fs.exists(jpath):
                for st in fs.listStatus(jpath):
                    fs.delete(st.getPath(), True)
    except Exception:  # noqa: BLE001 — cleanup is best-effort
        pass
    res = df.sparkSession.createDataFrame(rows, schema)
    return res.orderBy(F.col("lcp").desc(), "a_id", "a_pos", "b_id", "b_pos")
