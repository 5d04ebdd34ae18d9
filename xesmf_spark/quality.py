"""Data-quality operators: table profiling, declarative constraint
checks, and mergeable equi-width histograms.

Beyond-reference scope — the observability layer a 100-TB ingest needs
before anything else runs: what does each column look like, which
invariants hold, how are values distributed.  The design rule
throughout is ONE aggregation pass per answer, with map-side partials,
over exactly the columns involved (columnar pruning is the whole
economics of profiling a wide table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.materialize import pin

M = 1_000_000


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile: (column, n_rows, null_count, n_distinct,
    min_value, max_value) with min/max rendered as strings AFTER the
    native-type aggregation (so ordering is the column's own, not
    lexicographic).

    Scale shape: one aggregation JOB per column, each scanning ONLY
    that column (ReadSchema pruning) with map-side combine — on a
    columnar store k cheap single-column scans beat one scan that
    drags every column through a k-fold COUNT(DISTINCT) expand.  Use
    string/integer columns for engine-exact string rendering (double
    formatting differs across engines)."""
    cols = cols or df.columns
    outs = []
    for c in cols:
        outs.append(
            df.select(c).agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("null_count"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u


def check_constraints(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Declarative expectation checks: ``rules`` maps a rule name to a
    boolean SQL expression; a row VIOLATES a rule when the expression
    is false OR null (three-valued logic counts unknowns as failures —
    the auditor's convention).  Output: (rule, n_rows, n_violations,
    ok) per rule, all from ONE aggregation pass over the input (k
    conditional sums share the scan), map-side combinable.

    The expression strings are the cross-engine contract: the oracle
    runs the IDENTICAL text, so the audit is engine-portable by
    construction."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    # aliases are INDEX-based: a rule NAME is free text (spaces,
    # hyphens) and must never be parsed as an identifier; only the
    # rule EXPRESSION is SQL
    # coalesce: SUM over ZERO rows is NULL — an empty input must report
    # 0 violations / ok=true (a vacuous audit passes), not NULL/NULL
    for i, expr in enumerate(rules.values()):
        aggs.append(
            F.coalesce(
                F.sum(F.expr(f"CASE WHEN ({expr}) THEN 0 ELSE 1 END")),
                F.lit(0),
            ).alias(f"__v_{i}")
        )
    one = df.agg(*aggs)
    spark = df.sparkSession
    names = spark.createDataFrame(
        [(i, n) for i, n in enumerate(rules)], "idx int, rule string"
    )
    wide = names.crossJoin(one)  # one is ONE row — scalar broadcast
    pick = "CASE " + " ".join(
        f"WHEN idx = {i} THEN __v_{i}" for i in range(len(rules))
    ) + " END"
    return wide.select(
        "rule",
        "n_rows",
        F.expr(pick).cast("long").alias("n_violations"),
        (F.expr(pick) == 0).alias("ok"),
    )


def histogram_rollup(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    lo: int,
    width: int,
    nbins: int,
) -> DataFrame:
    """Equi-width histogram per key group: bin = clamp((val - lo) div
    width, 0, nbins - 1), counted per (keys, bin) — exact integer
    bucketing.  The histogram is a MERGEABLE monoid (bins sum), so it
    can live as continuous-aggregate state under
    :func:`xesmf_spark.relational.merge_rollups` (merge='sum' per bin
    row) — the persistable form of a distribution where
    approx_percentile's internal sketch cannot be stored or merged
    across refreshes.

    Scale shape: one map-side-combinable count on a key space of at
    most |groups| x nbins."""
    b = F.expr(f"CAST(({val_col} - {lo}) AS BIGINT) div {width}")
    bin_col = F.least(
        F.greatest(b, F.lit(0)).cast("long"), F.lit(nbins - 1).cast("long")
    )
    return (
        df.select(*keys, bin_col.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile(
    hist: DataFrame,
    keys: list[str],
    q_micro: int,
    lo: int,
    width: int,
) -> DataFrame:
    """Quantile estimate from an equi-width histogram: the LOWER BOUND
    of the first bin whose cumulative count reaches ``q_micro`` (in
    millionths) of the group total — a deterministic integer rule
    (``cum * 1e6 >= q * total``), so any engine replays it exactly.
    Resolution is the bin width, the documented trade for mergeable
    state.  All work is windows/aggs on the histogram itself
    (|groups| x nbins rows)."""
    w_tot = Window.partitionBy(*keys)
    w_cum = w_tot.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        *keys,
        "bin",
        F.sum("n").over(w_cum).alias("__cum"),
        F.sum("n").over(w_tot).alias("__tot"),
    )
    hit = cum.filter(
        F.col("__cum") * F.lit(M) >= F.lit(q_micro) * F.col("__tot")
    )
    return (
        hit.groupBy(*keys)
        .agg(F.min("bin").alias("q_bin"))
        .select(
            *keys,
            "q_bin",
            (F.lit(lo) + F.col("q_bin") * F.lit(width)).alias("q_value"),
        )
    )


def psi_drift(
    base: DataFrame,
    new: DataFrame,
    val_col: str,
    lo: int,
    width: int,
    nbins: int,
    micro: int = M,
) -> DataFrame:
    """Population Stability Index between two samples of a column —
    THE production drift metric for ML features and ingest monitoring:

        PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)

    over the same equi-width binning as :func:`histogram_rollup`
    (caller-pinned lo/width/nbins — explicit bins make the metric
    replayable and mergeable; deriving them from min/max would couple
    the bin layout to the data). Empty bins are handled with Laplace
    +1 smoothing on COUNTS — ``p_i = (c_i + 1) / (N + nbins)`` — the
    standard fix that keeps every ratio finite and positive without
    an arbitrary epsilon.

    EXACT cross-engine arithmetic: both smoothed proportions are
    IEEE-exact divisions of exact BIGINTs, the PSI term is evaluated
    as ``(p - q) * ln(p / q)`` with identical association on both
    engines (each factor deterministic; only ln touches libm), and
    each per-bin term is floored to integer micro-nats BEFORE the
    total — order-independent BIGINT sum. Every term is >= 0
    mathematically ((p-q) and ln(p/q) share sign), so the floored
    total under-counts by < nbins micro-nats, deterministically.

    Returns one row per bin: (bin, n_base, n_new, term_micro,
    psi_micro) — psi_micro repeated on every row via an nbins-row
    window (bounded by construction; convention: PSI < 0.1 stable,
    0.1-0.25 moderate drift, > 0.25 action).

    Scale shape: two map-side-combinable histogram counts (key space
    nbins), one nbins-row join frame, two 1-row total broadcasts —
    the heavy inputs are scanned once each, column-pruned."""
    hb = histogram_rollup(base, [], val_col, lo, width, nbins).withColumnRenamed(
        "n", "n_base"
    )
    hn = histogram_rollup(new, [], val_col, lo, width, nbins).withColumnRenamed(
        "n", "n_new"
    )
    return psi_from_histograms(hb, hn, nbins, micro=micro)


def psi_from_histograms(
    hb: DataFrame, hn: DataFrame, nbins: int, micro: int = M
) -> DataFrame:
    """The PSI arithmetic of :func:`psi_drift` over ALREADY-BUILT
    histograms ``(bin, n_base)`` / ``(bin, n_new)`` — the entry point
    for maintained histogram state (the streaming PSI monitor merges
    per-batch histogram deltas and hands the final state here). Same
    exact integer micro-nat contract."""
    bins = hb.sparkSession.range(nbins).select(F.col("id").alias("bin"))
    nb = hb.agg(F.coalesce(F.sum("n_base"), F.lit(0)).alias("__nb"))
    nn = hn.agg(F.coalesce(F.sum("n_new"), F.lit(0)).alias("__nn"))
    j = (
        bins.join(hb, "bin", "left")
        .join(hn, "bin", "left")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nn))
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.col("__nb"),
            F.col("__nn"),
        )
    )
    p = (F.col("n_base") + 1).cast("double") / (
        F.col("__nb") + F.lit(nbins)
    ).cast("double")
    q = (F.col("n_new") + 1).cast("double") / (
        F.col("__nn") + F.lit(nbins)
    ).cast("double")
    term = F.floor(F.lit(micro) * ((p - q) * F.log(p / q))).cast("long")
    out = j.select("bin", "n_base", "n_new", term.alias("term_micro"))
    w_all = Window.partitionBy()
    return out.withColumn("psi_micro", F.sum("term_micro").over(w_all))


def _two_sample_cdf(
    base: DataFrame, new: DataFrame, val_col: str, n_buckets: int
):
    """Shared machinery for the two-sample drift distances
    (:func:`ks_drift`, :func:`w1_drift`): exact joint empirical CDFs of
    both samples at every distinct value, via the two-phase distributed
    prefix scan (per-value counts land in ``n_buckets`` RANGE buckets
    on the value domain; phase 1 = ordinary partitioned window cumsums
    inside each bucket, phase 2 = each bucket's carry-in over the
    O(n_buckets) per-bucket totals). One keyed exchange over distinct
    values, no global sort of the data anywhere.

    Returns ``(cum, n_b, n_n)`` where ``cum`` has columns
    ``(bucket, v, cb, cn)`` — cumulative base/new counts at ``v``."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    b = base.select(F.col(val_col).cast("long").alias("v")).select(
        "v", F.lit(1).alias("db"), F.lit(0).alias("dn")
    )
    n = new.select(F.col(val_col).cast("long").alias("v")).select(
        "v", F.lit(0).alias("db"), F.lit(1).alias("dn")
    )
    per = pin(
        b.unionByName(n)
        .groupBy("v")
        .agg(F.sum("db").alias("db"), F.sum("dn").alias("dn"))
    )
    lo, hi, n_b, n_n = [
        int(x)
        for x in per.agg(
            F.min("v"), F.max("v"), F.sum("db"), F.sum("dn")
        ).collect()[0]
    ]
    if n_b == 0 or n_n == 0:
        raise ValueError("both samples must be non-empty")
    width = (hi - lo) // n_buckets + 1
    bucketed = per.withColumn("bucket", F.expr(f"(v - {lo}) DIV {width}"))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ph1 = bucketed.select(
        "bucket",
        "v",
        "db",
        "dn",
        F.sum("db").over(w_in).alias("lb"),
        F.sum("dn").over(w_in).alias("ln_"),
    )
    w_carry = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        ph1.groupBy("bucket")
        .agg(F.sum("db").alias("tb"), F.sum("dn").alias("tn"))
        .select(
            "bucket",
            F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("cb0"),
            F.coalesce(F.sum("tn").over(w_carry), F.lit(0)).alias("cn0"),
        )
    )
    cum = ph1.join(F.broadcast(carry), "bucket").select(
        "bucket",
        "v",
        (F.col("cb0") + F.col("lb")).alias("cb"),
        (F.col("cn0") + F.col("ln_")).alias("cn"),
    )
    return cum, n_b, n_n


def ks_drift(
    base: DataFrame,
    new: DataFrame,
    val_col: str,
    n_buckets: int = 64,
    micro: int = M,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift distance — the NONPARAMETRIC
    complement to :func:`psi_drift` (no bin layout to pin, sensitive to
    location/shape shifts PSI's coarse bins can miss):

        D = max_v |F_base(v) - F_new(v)|

    evaluated EXACTLY at every distinct value by cross-multiplying the
    empirical CDFs to integers — ``ks_num = max_v |n_new·cumB(v) −
    n_base·cumN(v)|`` — so both engines agree bit-for-bit (BIGINT
    headroom: n_base·n_new must stay < 2^63 ≈ 9.2e18, fine to ~3e9
    rows per side; beyond that report the DOUBLE ratio instead).
    ``ks_micro = micro·ks_num // (n_base·n_new)`` is the usual [0, 1e6]
    scale; ``at_value`` is the smallest value attaining the max
    (deterministic tie rule).

    The naive KS scan is a GLOBAL ordered cumulative sum — the
    single-partition window that cannot scale. This is the
    :func:`_two_sample_cdf` two-phase scan instead (min/max = one
    bounded 1-row collect); the final argmax is a 1-row
    TakeOrdered."""
    cum, n_b, n_n = _two_sample_cdf(base, new, val_col, n_buckets)
    scored = cum.select(
        "v",
        F.abs(F.lit(n_n) * F.col("cb") - F.lit(n_b) * F.col("cn")).alias("diff"),
    )
    top = scored.orderBy(F.desc("diff"), F.asc("v")).limit(1)
    return top.select(
        F.lit(n_b).cast("long").alias("n_base"),
        F.lit(n_n).cast("long").alias("n_new"),
        F.col("v").alias("at_value"),
        F.col("diff").cast("long").alias("ks_num"),
        F.expr(f"CAST(({micro} * diff) DIV {n_b * n_n} AS BIGINT)").alias(
            "ks_micro"
        ),
    )


def w1_drift(
    base: DataFrame,
    new: DataFrame,
    val_col: str,
    n_buckets: int = 64,
    micro: int = M,
) -> DataFrame:
    """Two-sample Wasserstein-1 (earth mover) drift distance — the
    MAGNITUDE-weighted complement to :func:`ks_drift` (KS reports the
    worst single CDF gap; W1 integrates ALL the gaps over the value
    axis, so it sees a small-but-everywhere shift KS underweights):

        W1 = ∫ |F_base(v) - F_new(v)| dv
           = Σ_i |F_base(v_i) - F_new(v_i)| · (v_{i+1} - v_i)

    over consecutive DISTINCT values (the empirical CDFs are step
    functions, so the integral is exact — no binning error). Like KS,
    the CDFs are cross-multiplied to integers: ``w1_num = Σ |n_new·
    cumB - n_base·cumN| · gap`` is engine-exact BIGINT arithmetic
    (headroom: n_base·n_new·range must stay < 2^63 — fine to ~1e9 rows
    per side on a 1e4-unit domain; beyond that report the DOUBLE).
    ``w1_micro = micro·w1_num // (n_base·n_new)`` is W1 in the value
    column's own units × micro.

    Scale shape: the :func:`_two_sample_cdf` two-phase prefix scan,
    plus the value GAP to each next distinct value — lead() inside
    each range bucket (parallel), with the bucket-boundary row's
    successor resolved from the O(n_buckets) table of per-bucket
    minima (broadcast join, no global sort). Final reduce is one agg."""
    cum, n_b, n_n = _two_sample_cdf(base, new, val_col, n_buckets)
    w_in = Window.partitionBy("bucket").orderBy("v")
    led = cum.withColumn("next_in", F.lead("v").over(w_in))
    # successor for each bucket's max row = the next non-empty bucket's
    # min value; n_buckets rows, so the global-order window is bounded
    w_b = Window.orderBy("bucket")
    bmins = (
        cum.groupBy("bucket")
        .agg(F.min("v").alias("bmin"))
        .select("bucket", F.lead("bmin").over(w_b).alias("next_bucket_min"))
    )
    gapped = led.join(F.broadcast(bmins), "bucket").select(
        "cb",
        "cn",
        (F.coalesce("next_in", "next_bucket_min") - F.col("v")).alias("gap"),
    )
    # the global max row has a null gap (no successor) — its CDF term
    # is |n_n·n_b - n_b·n_n| = 0 anyway; drop it
    total = gapped.filter(F.col("gap").isNotNull()).agg(
        F.sum(
            F.abs(F.lit(n_n) * F.col("cb") - F.lit(n_b) * F.col("cn"))
            * F.col("gap")
        ).alias("w1_num")
    )
    # micro·w1_num can exceed 2^63 (w1_num is bounded by n_b·n_n·range)
    # — split the floor division: ⌊micro·(qD+r)/D⌋ = micro·q + ⌊micro·r/D⌋,
    # every intermediate bounded by micro·max(range, D) — exact in BIGINT
    d = n_b * n_n
    return total.select(
        F.lit(n_b).cast("long").alias("n_base"),
        F.lit(n_n).cast("long").alias("n_new"),
        F.col("w1_num").cast("long").alias("w1_num"),
        F.expr(
            f"CAST({micro} * (w1_num DIV {d}) "
            f"+ ({micro} * (w1_num % {d})) DIV {d} AS BIGINT)"
        ).alias("w1_micro"),
    )


def profile_correlations(
    df: DataFrame, cols: list[str], micro: int = M
) -> DataFrame:
    """Pairwise Pearson correlation over integer-valued columns in ONE
    aggregation pass — the observability step after :func:`profile_table`
    ("which measures move together") that feature stores and ingest
    monitors run on every batch:

        corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²ᵗ)(n·Σy² − Σy²ᵗ))

    All moment sums are EXACT BIGINTs (inputs must be integer-scaled —
    cents/centi-units — small enough that n·Σx² stays < 2^63: with k-
    digit units and r rows that is k²·r² < 9.2e18, e.g. 1e3-unit values
    to ~3e6 rows; beyond that pre-scale the units down, which leaves
    Pearson INVARIANT — it is scale-free). The final formula is one
    double expression over exact integers, identical in both engines,
    floored to micro units. Constant columns (zero variance) yield
    NULL.

    Scale shape: ONE map-side-combinable aggregation producing all
    O(k²) moments over a single scan of exactly the k columns; the
    k²-row output frame is a pure projection of that 1-row aggregate.
    """
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("long")).alias(f"__s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("long")).alias(f"__q_{c}")
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast("long")).alias(f"__p_{a}_{b}")
            )
    m = df.select(*[F.col(c).cast("long").alias(c) for c in cols]).agg(*aggs)
    outs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            num = F.col("__n") * F.col(f"__p_{a}_{b}") - F.col(f"__s_{a}") * F.col(
                f"__s_{b}"
            )
            va = F.col("__n") * F.col(f"__q_{a}") - F.col(f"__s_{a}") * F.col(
                f"__s_{a}"
            )
            vb = F.col("__n") * F.col(f"__q_{b}") - F.col(f"__s_{b}") * F.col(
                f"__s_{b}"
            )
            corr = F.when(
                (va > 0) & (vb > 0),
                F.floor(
                    F.lit(float(micro))
                    * (
                        num.cast("double")
                        / F.sqrt(va.cast("double") * vb.cast("double"))
                    )
                ).cast("long"),
            )
            outs.append(
                m.select(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.col("__n").alias("n"),
                    corr.alias("corr_micro"),
                )
            )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u


def benford_audit(
    df: DataFrame,
    val_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """BENFORD first-significant-digit audit — the classic
    fabricated-numbers screen (Newcomb 1881 / Benford 1938): compare
    each digit 1-9's observed share against the law
    ``P(d) = log10(1 + 1/d)``.  The first digit comes from the DECIMAL
    STRING of the absolute integer value (no float log on the data
    path — string heads are engine-exact); zero values are excluded
    and counted in ``n_zero``.  Shares are exact milli units
    ``(1000·n_d) div N``; the expectation floors ``1000·log10(1+1/d)``
    once per digit (a 9-value constant — a last-ulp libm divergence
    would need the product to sit within 1e-13 of a milli boundary,
    and none of the nine does).

    Scale shape: one projection + one 9-bucket map-side-combinable
    count + a broadcast 9-row digit axis; the N scalar rides a 1-row
    broadcast cross.  Output: groups + ``(digit, n, observed_milli,
    expected_milli, dev_milli, n_zero)`` for every digit 1-9 (absent
    digits emit n = 0 — the axis join keeps the row)."""
    import math

    group_cols = list(group_cols or [])
    spark = df.sparkSession
    x = F.col(val_col).cast("long")
    base = df.select(
        *group_cols,
        F.when(
            x != 0, F.substring(F.abs(x).cast("string"), 1, 1).cast("int")
        ).alias("__d"),
    )
    # a group whose values are ALL zero has no digits to audit: drop it
    # (r13 ADVICE — Spark's non-ANSI div would emit NULL shares while
    # the DuckDB replay's // 0 errors; the filter states one semantic
    # both engines can express)
    nz = base.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("__d").isNull(), 1).otherwise(0)).alias("n_zero"),
        F.sum(F.when(F.col("__d").isNotNull(), 1).otherwise(0)).alias("__N"),
    ).filter(F.col("__N") > 0)
    counts = (
        base.filter(F.col("__d").isNotNull())
        .groupBy(*group_cols, "__d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    digits = spark.createDataFrame(
        [(d, int(math.floor(1000 * math.log10(1 + 1 / d)))) for d in range(1, 10)],
        "digit int, expected_milli long",
    )
    axis = (
        nz.crossJoin(F.broadcast(digits))
        if not group_cols
        else nz.join(F.broadcast(digits), F.lit(True))
    )
    out = (
        axis.join(
            counts.withColumnRenamed("__d", "digit"),
            [*group_cols, "digit"],
            "left",
        )
        .select(
            *group_cols,
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.expr("(1000L * coalesce(n, 0L)) div __N").alias("observed_milli"),
            "expected_milli",
            (
                F.expr("(1000L * coalesce(n, 0L)) div __N")
                - F.col("expected_milli")
            ).alias("dev_milli"),
            "n_zero",
        )
    )
    return out


def robust_stats(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    trim_milli: int = 100,
) -> DataFrame:
    """TRIMMED and WINSORIZED means per group — the robust location
    estimators between the mean (spike-draggable) and the median
    (throws away magnitude): with ``k = (n · trim_milli) div 1000``
    rows cut from EACH tail of the per-group value ordering,

        trimmed_mean_micro   = (1e6 · Σ ranks k+1..n−k) div (n − 2k)
        winsor_mean_micro    = (1e6 · Σ clamp(x, lo, hi)) div n

    where ``lo``/``hi`` are the boundary order statistics (ranks k+1
    and n−k).  All BIGINT; rank ties are broken arbitrarily by
    row_number but the selected MULTISET is tie-invariant (equal
    values straddling a boundary contribute the same sum either way),
    so both means are engine-exact.  ``trim_milli`` must be < 500
    (each tail below half).

    Scale shape: one per-group sort window (rank), one grouped
    conditional agg, one boundary join-back — all map-side-combinable
    after the rank.  Output: groups + ``(n, k, lo, hi,
    trimmed_mean_micro, winsor_mean_micro)``."""
    from pyspark.sql import Window

    if not 0 <= trim_milli < 500:
        raise ValueError(f"trim_milli must be in [0, 500), got {trim_milli}")
    x = F.col(val_col).cast("long")
    # the window must order by the RENAMED column — referencing the
    # caller's name here fails analysis (the interpolate_gaps lesson)
    w = Window.partitionBy(*group_cols).orderBy(F.col("__x").asc())
    ranked = df.select(*group_cols, x.alias("__x")).withColumn(
        "__rn", F.row_number().over(w)
    )
    sized = ranked.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    ).withColumn("__k", F.expr(f"(__n * {trim_milli}L) div 1000L"))
    bounds = sized.groupBy(*group_cols).agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k_trim"),
        F.max(F.when(F.col("__rn") == F.col("__k") + 1, F.col("__x"))).alias(
            "lo"
        ),
        F.max(
            F.when(F.col("__rn") == F.col("__n") - F.col("__k"), F.col("__x"))
        ).alias("hi"),
        F.sum(
            F.when(
                (F.col("__rn") > F.col("__k"))
                & (F.col("__rn") <= F.col("__n") - F.col("__k")),
                F.col("__x"),
            )
        ).alias("__tsum"),
    )
    win = (
        sized.join(
            bounds.select(*group_cols, "lo", "hi"), group_cols
        )
        .select(
            *group_cols,
            F.greatest(F.least(F.col("__x"), F.col("hi")), F.col("lo")).alias(
                "__wx"
            ),
        )
        .groupBy(*group_cols)
        .agg(F.sum("__wx").alias("__wsum"))
    )
    return (
        bounds.join(win, group_cols)
        .select(
            *group_cols,
            "n",
            "k_trim",
            "lo",
            "hi",
            F.expr("(1000000L * __tsum) div (n - 2L * k_trim)").alias(
                "trimmed_mean_micro"
            ),
            F.expr("(1000000L * __wsum) div n").alias("winsor_mean_micro"),
        )
    )
